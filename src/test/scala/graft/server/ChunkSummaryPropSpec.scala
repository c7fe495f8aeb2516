package graft.server

import java.net.{HttpURLConnection, URI}

import scala.util.Try

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.core.{InfluxQl, ResultRows, RpcPredicate}
import graft.operators.InfluxRpc

/** The metadata answers of the chunk summaries against the scan they
  * replace: after generated line-protocol, write_pb and do_put writes
  * (upserts of existing keys included), 1.x DELETE, DROP SERIES and DROP
  * MEASUREMENT, the facade's tag values, tag keys and measurement names,
  * database-level and measurement-scoped, under no predicate, a covering
  * range, a partial range, a tag expression and a field list, equal the
  * scan of the measurement views: the same values, or the same error.
  *
  * Tiny value domains force upserts; tag values include U+FFFD and
  * U+1F600, which UTF-8 and UTF-16 order differently; a `kind` column is a
  * tag in some batches and a field in others, where the scan reports an
  * error or merges the two. */
class ChunkSummaryPropSpec extends SparkSpec {

  private val Db = "o_b"
  private val Measurements = Seq("cpu", "mem", "disk")
  private val Hosts = Seq("a", "b", "\uFFFD", "\uD83D\uDE00")

  /** One point: measurement, host (maybe none), rack (maybe none), value,
    * time (None: the server clock). */
  private case class Point(m: String, host: Option[String], rack: Option[String],
      v: Double, time: Option[Long])

  private sealed trait Op
  /** `kind` rides every line as a tag (`Some(true)`), a field
    * (`Some(false)`) or not at all. */
  private case class Lp(points: Seq[Point], kindTag: Option[Boolean]) extends Op
  private case class Pb(points: Seq[Point]) extends Op
  private case class Put(points: Seq[Point]) extends Op
  private case class Statement(text: String) extends Op

  private def pointGen(m: String): Gen[Point] = for {
    host <- Gen.frequency(4 -> Gen.oneOf(Hosts).map(Some(_)), 1 -> Gen.const(None))
    rack <- Gen.frequency(1 -> Gen.oneOf("r1", "r2").map(Some(_)), 2 -> Gen.const(None))
    v <- Gen.choose(0, 3).map(_.toDouble)
    time <- Gen.frequency(5 -> Gen.choose(1L, 4L).map(t => Some(t * 1000000000L)),
      1 -> Gen.const(None))
  } yield Point(m, host, rack, v, time)

  private def pointsGen(oneMeasurement: Boolean): Gen[Seq[Point]] = for {
    m <- Gen.oneOf(Measurements)
    n <- Gen.choose(1, 4)
    ps <- Gen.listOfN(n, Gen.oneOf(Measurements).flatMap(other =>
      pointGen(if (oneMeasurement) m else other)))
  } yield ps

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> (for {
      ps <- pointsGen(oneMeasurement = false)
      kind <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.const(Some(true)),
        1 -> Gen.const(Some(false)))
    } yield Lp(ps, kind)),
    2 -> pointsGen(oneMeasurement = true).map(Pb(_)),
    2 -> pointsGen(oneMeasurement = true).map(Put(_)),
    2 -> (for (m <- Gen.oneOf(Measurements); h <- Gen.oneOf(Hosts))
      yield Statement(s"DELETE FROM $m WHERE host = '$h'")),
    2 -> (for (m <- Gen.oneOf(Measurements); h <- Gen.oneOf(Hosts))
      yield Statement(s"DROP SERIES FROM $m WHERE host = '$h'")),
    1 -> Gen.oneOf(Measurements).map(m => Statement(s"DROP MEASUREMENT $m")))

  private val opsGen: Gen[List[Op]] =
    Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, opGen))

  private def lpLine(p: Point, kindTag: Option[Boolean]): String = {
    val tags = p.host.map(h => s",host=$h") ++ p.rack.map(r => s",rack=$r") ++
      kindTag.filter(identity).map(_ => ",kind=k1")
    val fields = s"v=${p.v}" + kindTag.filterNot(identity).map(_ => ",kind=1.5").mkString
    s"${p.m}${tags.mkString} $fields${p.time.map(t => s" $t").mkString}"
  }

  private def write(f: HttpFacade, op: Op): Unit = op match {
    case Lp(ps, kind) =>
      val body = ps.map(lpLine(_, kind)).mkString("\n")
      assert(f.writeLines(Db, body, body.length).isRight, body)
    case Pb(ps) =>
      import WriteProto._
      val n = ps.size
      def nullMask(present: Seq[Boolean]): Array[Byte] =
        present.grouped(8).map(_.zipWithIndex.foldLeft(0) {
          case (b, (there, i)) => if (there) b else b | (1 << i) }.toByte).toArray
      def tag(name: String, vs: Seq[Option[String]]): Option[PbColumn] =
        Option.when(vs.exists(_.isDefined))(PbColumn(name, Semantic.Tag,
          Some(PbValues(str = vs.flatten.toVector)), nullMask(vs.map(_.isDefined))))
      val columns = tag("host", ps.map(_.host)).toVector ++ tag("rack", ps.map(_.rack)) ++
        Vector(PbColumn("v", Semantic.Field, Some(PbValues(f64 = ps.map(_.v).toVector)),
          Array.emptyByteArray),
          PbColumn("time", Semantic.Time,
            Some(PbValues(i64 = ps.map(_.time.getOrElse(42L)).toVector)),
            Array.emptyByteArray))
      f.writeBatches(Db, Vector(PbTableBatch(ps.head.m, columns, n)), 0)
    case Put(ps) =>
      val schema = StructType(Seq(StructField("host", StringType),
        StructField("v", DoubleType), StructField("time", LongType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        ps.map(p => Row(p.host.orNull, p.v, p.time.getOrElse(42L))), 1), schema)
      val bytes = new java.io.ByteArrayOutputStream()
      ArrowIpc.writeStream(df, bytes)
      val conn = new URI(s"http://127.0.0.1:${f.boundPort}/api/v2/flight/do_put" +
        s"?db=$Db&measurement=${ps.head.m}").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(bytes.toByteArray)
      conn.getOutputStream.close()
      assert(conn.getResponseCode == 200)
      conn.disconnect()
    case Statement(text) =>
      // a miss (an unknown measurement, a condition on a non-tag) is an
      // in-band error; these statements read chunk schemas, never a view
      Try(f.planStatement(Db, InfluxQl.parseAll(text).head))
  }

  private val predicates: Seq[(String, RpcPredicate)] = Seq(
    "none" -> RpcPredicate(),
    "covering range" -> RpcPredicate().withRange(Long.MinValue, Long.MaxValue),
    "partial range" -> RpcPredicate().withRange(2000000000L, 3000000001L),
    "tag expression" -> RpcPredicate().withExpr(col("host") === "a"),
    "field list" -> RpcPredicate().withFields("v"))

  private def outcome[A](body: => A): Either[String, A] =
    Try(body).toEither.left.map(e => Option(e.getMessage).getOrElse(e.getClass.getName))

  /** (request, answer through the facade, answer of the scan) for every
    * request under `pred`. */
  private def requests(f: HttpFacade, pred: RpcPredicate)
      : Seq[(String, Either[String, Option[Seq[String]]], Either[String, Option[Seq[String]]])] = {
    def values(df: org.apache.spark.sql.DataFrame, k: String) =
      ResultRows.collect(InfluxRpc.tagValues(df, k, pred)).map(_.getString(0))
    Seq("host", "rack", "kind", "v", "none").map(k =>
      (s"TagValues $k", outcome(f.planTagValues(Db, None, k, pred)),
        outcome(Some(InfluxRpc.tagValuesAcrossTables(f.tablesWithColumn(Db, k), k, pred))))) ++
    Seq(
      ("TagKeys", outcome(f.planTagKeys(Db, None, pred)),
        outcome(Some(InfluxRpc.tagKeysAcrossTables(f.dbTables(Db), pred)))),
      ("MeasurementNames", outcome(Some(f.planMeasurementNames(Db, pred))),
        outcome(Some(InfluxRpc.tableNames(f.dbTables(Db), pred))))) ++
    Measurements.flatMap(m =>
      (s"MeasurementTagKeys $m", outcome(f.planTagKeys(Db, Some(m), pred)),
        outcome(f.measurementView(Db, m).map(InfluxRpc.tagKeys(_, pred)))) +:
      Seq("host", "kind").map(k =>
        (s"MeasurementTagValues $m $k", outcome(f.planTagValues(Db, Some(m), k, pred)),
          outcome(f.measurementView(Db, m).map(values(_, k))))))
  }

  test("summary answers equal scan answers after generated writes, deletes and drops") {
    var answered = 0L
    var asked = 0L
    val prop = Prop.forAllNoShrink(opsGen) { ops =>
      val f = new HttpFacade(spark, port = 0, clockNs = () => 42L)
      try {
        ops.foreach(write(f, _))
        val before = f.summaryAnswers.get
        predicates.foreach { case (kind, pred) =>
          requests(f, pred).foreach { case (what, got, want) =>
            asked += 1
            assert(got == want, s"$what under $kind after $ops")
          }
        }
        answered += f.summaryAnswers.get - before
        true
      } finally f.stop()
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status)
    // both paths answered a real share of the requests
    assert(answered > asked / 5 && answered < asked, s"$answered of $asked")
  }
}
