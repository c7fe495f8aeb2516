package graft

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.core.IoxSchema
import graft.operators.Upsert
import graft.server.HttpFacade
import graft.sources.LineProtocol

/** The facade's per-measurement read snapshot (HttpFacade.measurementView):
  * each read must equal one union + dedup over every chunk written so far
  * — the computation the snapshot replaces, kept here as the reference —
  * in rows, column order and category metadata, across folds, deletes,
  * drops, restarts and concurrent writes. All data is inline line
  * protocol. */
class MeasurementSnapshotSpec extends SparkSpec {

  private val Db = HttpFacade.dbName("o", "b")

  /** Four write batches of `cpu` with overlapping (tags, time) keys. The
    * third adds a tag column (`rack`) and a field column (`load`); the
    * fourth rewrites (a, us, 100) with `usage` null, so the older usage
    * must carry through. */
  private val batches = Seq(
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

  /** The chunk frames the facade stores for `lps`, one per batch. */
  private def chunks(lps: Seq[String]): Seq[DataFrame] =
    lps.map(lp => LineProtocol.ingest(spark, lp.split("\n").toSeq)("cpu"))

  /** The pre-snapshot read: all chunks unioned with their index as
    * arrival order, deduplicated on (tags, time) in one pass. */
  private def reference(chunks: Seq[DataFrame]): DataFrame =
    if (chunks.size == 1) chunks.head
    else {
      val merged = IoxSchema.mergeUnion(chunks.zipWithIndex.map {
        case (df, i) => df.withColumn("__seq", lit(i.toLong))
      })
      val pk = merged.schema.fields.collect {
        case f if IoxSchema.categoryOf(f).exists(c =>
          c == IoxSchema.Tag || c == IoxSchema.Time) => f.name
      }.toSeq
      Upsert.dedup(merged, pk, "__seq")
    }

  /** Column names, categories and sorted rows: what a read must match. */
  private def shape(df: DataFrame): (Seq[String], Seq[Option[String]], Seq[String]) =
    (df.columns.toSeq, df.schema.fields.toSeq.map(IoxSchema.categoryOf),
      df.collect().toSeq.map(_.toString).sorted)

  private def view(f: HttpFacade): DataFrame =
    f.measurementView(Db, "cpu").get

  private def write(f: HttpFacade, lp: String): Unit =
    assert(HttpFacade.postWrite(f.boundPort, "o", "b", lp) == 204)

  private def get(f: HttpFacade, path: String): String = {
    val conn = new URI(s"http://127.0.0.1:${f.boundPort}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    assert(conn.getResponseCode == 200, path)
    new String(conn.getInputStream.readAllBytes(), UTF_8)
  }

  private def influxql(f: HttpFacade, q: String): String =
    get(f, s"/query?db=$Db&q=${URLEncoder.encode(q, "UTF-8")}")

  /** (read_snapshot_builds, read_snapshot_reuses) from /metrics. */
  private def counters(f: HttpFacade): (Long, Long) = {
    val m = get(f, "/metrics").split("\n").map(_.split(" ")).collect {
      case Array(k, v) => k -> v.toLong
    }.toMap
    (m("read_snapshot_builds"), m("read_snapshot_reuses"))
  }

  private def withFacade[A](f: HttpFacade => A): A = {
    val facade = new HttpFacade(spark, port = 0)
    try f(facade) finally facade.stop()
  }

  test("every write folds into the snapshot: a read equals one dedup over all chunks") {
    withFacade { f =>
      batches.indices.foreach { i =>
        write(f, batches(i))
        val before = counters(f)
        assert(shape(view(f)) == shape(reference(chunks(batches.take(i + 1)))),
          s"after write ${i + 1}")
        // one chunk reads directly; from the second on, each first read
        // after a write builds exactly one snapshot
        assert(counters(f)._1 == before._1 + (if (i == 0) 0 else 1))
      }
      // (a, us, 100): usage from chunk 2 survives chunk 4's null, temp
      // from chunk 4; the new tag and field columns are carried
      val a100 = view(f).filter(col("host") === "a" && col("time") === 100L &&
        col("rack").isNull).select("usage", "temp", "load").collect().toSeq
      assert(a100.map(_.toSeq) == Seq(Seq(2.0, 31.0, null)))
      val sql = get(f, s"/iox/api/v1/databases/$Db/query?q=" +
        URLEncoder.encode("SELECT count(*) AS n FROM cpu", "UTF-8") + "&format=csv")
      assert(sql.trim == "n\n6", sql)
    }
  }

  test("a read with no write since the last one reuses the snapshot") {
    withFacade { f =>
      batches.take(3).foreach(write(f, _))
      view(f)
      val (b0, r0) = counters(f)
      view(f)
      assert(counters(f) == ((b0, r0 + 1)))
      // every read path goes through the same view
      influxql(f, "SELECT usage FROM cpu")
      get(f, s"/iox/api/v1/databases/$Db/query?q=" +
        URLEncoder.encode("SELECT * FROM cpu", "UTF-8") + "&format=csv")
      val (b1, r1) = counters(f)
      assert(b1 == b0 && r1 >= r0 + 3, (b1, r1))
    }
  }

  test("DELETE after a snapshot still hides its rows; a later write folds in without reviving them") {
    withFacade { f =>
      batches.take(2).foreach(write(f, _))
      view(f)
      assert(influxql(f, "DELETE FROM cpu WHERE host = 'a'") ==
        """{"results":[{"statement_id":0}]}""")
      def expected(n: Int) =
        shape(reference(chunks(batches.take(n))).filter(col("host") =!= "a"))
      assert(shape(view(f)) == expected(2))
      val (b0, _) = counters(f)
      write(f, batches(2))
      assert(shape(view(f)) == expected(3))
      assert(counters(f)._1 == b0 + 1)
      assert(view(f).filter(col("host") === "a").count() == 0)
    }
  }

  test("DROP MEASUREMENT forgets the snapshot: a re-created measurement reads only its new rows") {
    withFacade { f =>
      batches.take(3).foreach(write(f, _))
      view(f)
      assert(influxql(f, "DROP MEASUREMENT cpu") ==
        """{"results":[{"statement_id":0}]}""")
      assert(f.measurementView(Db, "cpu").isEmpty)
      write(f, batches(3))
      assert(shape(view(f)) == shape(chunks(batches.drop(3)).head))
      write(f, batches(1))
      assert(shape(view(f)) == shape(reference(chunks(Seq(batches(3), batches(1))))))
    }
  }

  test("a dataDir restart reloads the parquet chunks and reads the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("snapshot-restart").toString
    val expected = shape(reference(chunks(batches)))
    val f1 = new HttpFacade(spark, port = 0, dataDir = Some(dir))
    try {
      batches.foreach(write(f1, _))
      assert(shape(view(f1)) == expected)
    } finally f1.stop()
    val f2 = new HttpFacade(spark, port = 0, dataDir = Some(dir))
    try {
      assert(counters(f2) == ((0L, 0L)))
      assert(shape(view(f2)) == expected)
      assert(counters(f2)._1 == 1L)
    } finally f2.stop()
  }

  test("concurrent readers see the reference at some chunk prefix while a writer appends") {
    val prefixes = batches.indices.map(i => shape(reference(chunks(batches.take(i + 1)))))
    withFacade { f =>
      write(f, batches.head)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def thread(body: => Unit) = {
        val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
        t.start(); t
      }
      val readers = (1 to 2).map(_ => thread {
        var last = false
        while (!last) {
          last = done.get()
          val at = prefixes.indexOf(shape(view(f)))
          assert(at >= 0, "a read matched no chunk prefix")
          seen.add(at)
        }
      })
      val writer = thread {
        try batches.tail.foreach(write(f, _)) finally done.set(true)
      }
      (writer +: readers).foreach(_.join())
      errors.forEach(e => throw e)
      // each reader's last read started after the final write
      assert(seen.contains(batches.size - 1))
    }
  }
}
