package graft.server

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.SparkSpec
import graft.core.{InfluxQl, RpcPredicate}
import graft.operators.InfluxRpc

/** Plan shape and parity of the facade's reads (HttpFacade.measurementView
  * marks a view whose data is one partition): over such a view every read
  * front door — SQL, InfluxQL, the storage RPC planners, tag values and
  * Flight do_get — runs with no shuffle, and answers exactly what the same
  * read answers over a deliberately multi-partition copy of the view, in
  * the same row and frame order. Views not known to be one partition keep
  * their exchanges. All data is inline line protocol. */
class OnePartitionReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Db = HttpFacade.dbName("o", "b")

  /** `mem`: one write batch. */
  private val memBatch =
    """mem,host=a,region=us usage=1.0 100
      |mem,host=b,region=us usage=2.0 150
      |mem,host=c,region=eu usage=4.0 250
      |mem,host=a,region=us usage=8.0 300""".stripMargin

  /** `cpu`: four write batches with overlapping (tags, time) keys; the
    * third adds a tag and a field column, the fourth rewrites a key with
    * `usage` null. Deduplicated: 6 rows, usage sum 2+5+3+7+9 = 26. */
  private val cpuBatches = Seq(
    """cpu,host=a,region=us usage=1.0,temp=30.0 100
      |cpu,host=b,region=us usage=5.0 100
      |cpu,host=a,region=us usage=1.5 200""",
    """cpu,host=a,region=us usage=2.0 100
      |cpu,host=c,region=eu usage=7.0,temp=20.0 300""",
    """cpu,host=b,region=us,rack=r1 load=0.5 100
      |cpu,host=a,region=us usage=3.0,load=0.25 200
      |cpu,host=c,region=eu load=0.75 300""",
    """cpu,host=a,region=us temp=31.0 100
      |cpu,host=a,region=us usage=9.0 400""").map(_.stripMargin)

  /** The same facade with every measurement view spread over three
    * partitions: the reference each read is compared with. */
  private class Spread(dataDir: Option[String])
      extends HttpFacade(spark, port = 0, clockNs = () => 42L, dataDir = dataDir) {
    override def measurementView(db: String, measurement: String): Option[DataFrame] =
      super.measurementView(db, measurement).map(_.repartition(3))
  }

  private def facade(dataDir: Option[String] = None) =
    new HttpFacade(spark, port = 0, clockNs = () => 42L, dataDir = dataDir)

  private def write(f: HttpFacade, lp: String): Unit =
    assert(HttpFacade.postWrite(f.boundPort, "o", "b", lp) == 204)

  /** What a read sent, in the order it sent it, and the plan it ran. */
  private case class Read(rows: Seq[Any], plan: Dataset[_])

  private def run(ds: Dataset[_], ordered: Boolean): Read = {
    val rows = ds.collect().toSeq
    Read(if (ordered) rows else rows.map(_.toString).sorted, ds)
  }

  /** A storage read as the transports stream it: its frames, in order. */
  private def run(plan: InfluxRpc.SeriesPlan): Read =
    Read(plan.frames().toSeq, plan.rows)

  /** Shuffles in the executed (final adaptive) plan of a read. */
  private def shuffles(r: Read): Int =
    collect(r.plan.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  private def flightDoGet(f: HttpFacade, sql: String): Seq[Any] = {
    val json = s"""{"database_name":"$Db","sql_query":"$sql"}"""
    val ticket = new StorageProto.Writer().bytes(1, json.getBytes(UTF_8)).result()
    val data = FlightGrpc.dispatcher(f)(FlightGrpc.ServicePrefix + "DoGet", ticket)
      .fold(err => fail(err), _.toSeq)
    val (cols, rows) = ArrowIpc.readStream(
      new ByteArrayInputStream(FlightGrpc.flightDataToIpc(data)))
    cols +: rows.map(_.toString).sorted
  }

  /** Every read front door, over measurement `m` of [[Db]]. */
  private val reads: Seq[(String, (HttpFacade, String) => Read)] = Seq(
    "SQL GROUP BY ... ORDER BY" -> { (f, m) =>
      run(f.planSql(Db, s"SELECT host, count(*) AS n, sum(usage) AS s " +
        s"FROM $m GROUP BY host ORDER BY host").fold(fail(_), identity),
        ordered = true)
    },
    "InfluxQL aggregate" -> { (f, m) =>
      val stmt = InfluxQl.parseAll(
        s"SELECT count(usage), sum(usage) FROM $m WHERE region = 'us' GROUP BY host").head
      run(f.planStatement(Db, stmt).fold(fail(_), _.get._3), ordered = false)
    },
    "planReadFilter" -> { (f, m) =>
      run(f.planReadFilter(Db, m, RpcPredicate()).get)
    },
    "planReadGroup" -> { (f, m) =>
      run(f.planReadGroup(Db, m, RpcPredicate(), InfluxRpc.AggKind.Sum, Seq("region"))
        .fold(fail(_), identity))
    },
    "planReadWindowAggregate" -> { (f, m) =>
      run(f.planReadWindowAggregate(Db, m, RpcPredicate(), InfluxRpc.AggKind.Sum,
        Some(100L), None, 0L, 0).fold(fail(_), identity))
    },
    "tag values" -> { (f, m) =>
      run(InfluxRpc.tagValues(f.measurementView(Db, m).get, "host",
        RpcPredicate()), ordered = true)
    },
    "Flight do_get" -> { (f, m) =>
      val sql = s"SELECT region, count(*) AS n, sum(usage) AS s FROM $m GROUP BY region"
      val planned = run(f.planSql(Db, sql).fold(fail(_), identity), ordered = false)
      Read(flightDoGet(f, sql), planned.plan)
    })

  /** Runs every read of `m` on `f` and on `spread`: same rows in the same
    * order, and `f`'s plans shuffle (or not) as `shuffled` says. */
  private def checkReads(f: HttpFacade, spread: HttpFacade, m: String,
      shuffled: Boolean): Unit =
    reads.foreach { case (name, read) =>
      val got = read(f, m)
      val want = read(spread, m)
      assert(shuffles(want) > 0, s"$name: the reference must be multi-partition")
      if (shuffled) assert(shuffles(got) > 0, s"$name over $m: expected exchanges")
      else assert(shuffles(got) == 0,
        s"$name over $m:\n${got.plan.queryExecution.executedPlan}")
      assert(got.rows.nonEmpty, s"$name over $m")
      assert(got.rows == want.rows, s"$name over $m")
    }

  private def withFacades[A](dataDir: Option[String] = None)(
      body: (HttpFacade, HttpFacade) => A): A = {
    val f = facade(dataDir)
    val spread = new Spread(dataDir)
    try body(f, spread) finally { f.stop(); spread.stop() }
  }

  private def sqlTotals(f: HttpFacade, m: String): Seq[String] =
    f.planSql(Db, s"SELECT count(*) AS n, sum(usage) AS s FROM $m")
      .fold(fail(_), identity).collect().toSeq.map(_.toString)

  test("a one-chunk measurement: every read plans no exchange and matches a 3-partition view") {
    withFacades() { (f, spread) =>
      Seq(f, spread).foreach(write(_, memBatch))
      checkReads(f, spread, "mem", shuffled = false)
      assert(sqlTotals(f, "mem") == Seq("[4,15.0]"))
    }
  }

  test("a 4-chunk measurement with overlapping keys: the snapshot reads with no exchange") {
    withFacades() { (f, spread) =>
      cpuBatches.foreach(b => Seq(f, spread).foreach(write(_, b)))
      checkReads(f, spread, "cpu", shuffled = false)
      assert(sqlTotals(f, "cpu") == Seq("[6,26.0]"))
    }
  }

  test("after a dataDir restart the rebuilt snapshot is one partition; a parquet chunk keeps its exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("one-partition-restart").toString
    val before = facade(Some(dir))
    try (memBatch +: cpuBatches).foreach(write(before, _))
    finally before.stop()
    withFacades(Some(dir)) { (f, spread) =>
      checkReads(f, spread, "cpu", shuffled = false)
      checkReads(f, spread, "mem", shuffled = true)
      assert(sqlTotals(f, "cpu") == Seq("[6,26.0]"))
      assert(sqlTotals(f, "mem") == Seq("[4,15.0]"))
    }
  }

  test("a snapshot built with more than one partition keeps its exchanges and reads the same rows") {
    withFacades() { (f, spread) =>
      cpuBatches.foreach(b => Seq(f, spread).foreach(write(_, b)))
      val key = "spark.sql.adaptive.coalescePartitions.enabled"
      val prev = spark.conf.getOption(key)
      // without coalescing, the fold's dedup shuffle keeps all its
      // partitions, and so does the snapshot checkpointed from it
      spark.conf.set(key, "false")
      try f.measurementView(Db, "cpu")
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      checkReads(f, spread, "cpu", shuffled = true)
      assert(sqlTotals(f, "cpu") == Seq("[6,26.0]"))
    }
  }
}
