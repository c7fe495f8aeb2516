package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.LineProtocol

/** Ingest/write-path measurement — the one reference bench family with no
  * query-side counterpart (server_benchmarks/benches/line_parser.rs,
  * write.rs, snapshot.rs; BASELINE.md "Line-protocol parse throughput" /
  * "Write (LP → MUB) throughput" / "MUB → Arrow snapshot" rows):
  *
  *  1. `lp_parse_1t_*`   — single-thread parse bytes/s over the reference's
  *                         own fixtures (prometheus.lp, tag_values.lp.gz) —
  *                         the direct line_parser.rs analog.
  *  2. `lp_parse_dist`   — distributed parse (textFile → mapPartitions
  *                         parseLines) over an events-derived LP corpus at
  *                         ×1 (sf0.1) and ×10 — the shape a 100 TB backfill
  *                         actually runs.
  *  3. `lp_write`        — LP → typed store (ingestAs → parquet): the
  *                         write.rs MUB-ingest analog, end to end.
  *  4. `compact`         — store → dedup-sorted compacted parquet + stats
  *                         sidecar (Ingest.compact): the snapshot.rs /
  *                         lifecycle-compaction analog.
  *
  * Methodology matches [[Bench]]: interleaved passes, per-metric MIN
  * (co-tenant noise is one-sided), untimed warmup first. Each record goes
  * to `--out` (default ingest_runs.jsonl) as one JSON line; a compact
  * summary prints to stdout at the end.
  *
  * Usage: runMain graft.IngestBench [--passes 3] [--out ingest_runs.jsonl]
  *        [--scales 1,10]
  */
object IngestBench {
  private def d3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  def main(args: Array[String]): Unit = {
    def opt(name: String, dflt: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(dflt)
    val passes = opt("--passes", "3").toInt.max(1)
    val outPath = opt("--out", "ingest_runs.jsonl")
    val scales = opt("--scales", "1,10").split(",").map(_.trim.toInt).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val scratch = "scale_scratch/ingest"
    val records = Seq.newBuilder[String]
    def record(metric: String, scale: Int, bytes: Long, rows: Long,
        secs: Seq[Double]): Unit = {
      val best = secs.min
      val line = s"""{"metric":"$metric","scale":$scale,"bytes":$bytes,""" +
        s""""rows":$rows,"sec":${d3(best)},"mb_per_s":${d3(bytes / 1e6 / best)},""" +
        s""""rows_per_s":${(rows / best).toLong},"passes":${secs.size},""" +
        s""""all_sec":[${secs.map(d3).mkString(",")}]}"""
      records += line
      println(line)
    }
    def timed[A](body: => A): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // ---- 1. single-thread parse over the reference's own fixtures ----
    def fixtureText(path: String): String = {
      val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      if (path.endsWith(".gz")) {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } else new String(raw, "UTF-8")
    }
    // the fixtures live in the reference checkout: a row whose file is
    // absent is skipped, with the reason, and the later rows still run
    def parse1t(name: String, path: String, iters: Int): Unit = {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
        println(s"[ingest-bench] skipping $name: fixture $path not found")
        return
      }
      val text = fixtureText(path)
      val lines = text.split('\n').toSeq
      var n = 0L
      (1 to 3).foreach(_ => n = LineProtocol.parseLines(lines).size.toLong) // warm
      val secs = (1 to passes).map { _ =>
        timed { (1 to iters).foreach(_ => LineProtocol.parseLines(lines).size) } / iters
      }
      record(name, 1, text.length.toLong, n, secs)
    }
    parse1t("lp_parse_1t_prometheus",
      "/root/reference/tests/fixtures/lineproto/prometheus.lp", 20)
    parse1t("lp_parse_1t_tagvalues",
      "/root/reference/tests/fixtures/lineproto/tag_values.lp.gz", 3)

    // ---- LP corpus from the events table (deterministic, text files) ----
    // events → line protocol: user_id + event_type as tags, event_id /
    // value / props as fields. String escaping per the LP spec (the
    // parse side round-trips it).
    def lpFrame(scale: Int): DataFrame = {
      val ev = graft.sources.Tables.events(spark, sfDir)
      val copies = (0 until scale).map { i =>
        // time-shift each copy past the corpus span so copies never
        // collide on (series, time) — the dedup in compact stays honest
        ev.withColumn("ts_ns", col("ts_ns") + lit(i * 400000000000000L))
      }
      // nulls in any concat arg null the whole line; drop such rows up
      // front (corpus size is measured from the materialized files)
      val all = copies.reduce(_ unionByName _)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("event_id").isNotNull && col("value").isNotNull &&
          col("props").isNotNull)
      val esc = regexp_replace(regexp_replace(col("props"),
        lit("\\\\"), lit("\\\\\\\\")), lit("\""), lit("\\\\\""))
      all.select(concat(
        lit("events,user_id=u"), col("user_id"),
        lit(",event_type="), col("event_type"),
        lit(" event_id="), col("event_id"), lit("i"),
        lit(",value="), col("value"),
        lit(",props=\""), esc, lit("\" "),
        col("ts_ns")).as("value"))
    }
    def corpusDir(scale: Int) = s"$scratch/lp_x$scale"
    // what a corpus was made from: the canonical sf directory and its
    // events row count, kept in `<corpus>.source`; a corpus made from
    // another source (or with no record) is rebuilt
    lazy val source = s"${new java.io.File(sfDir).getCanonicalPath} " +
      s"events=${graft.sources.Tables.events(spark, sfDir).count()}"

    for (scale <- scales) {
      val dir = corpusDir(scale)
      val stamp = java.nio.file.Paths.get(s"$dir.source")
      val cached = java.nio.file.Files.exists(stamp) &&
        new String(java.nio.file.Files.readAllBytes(stamp), "UTF-8") == source
      if (!cached) {
        println(s"[ingest-bench] materializing LP corpus x$scale from $source -> $dir")
        lpFrame(scale).write.mode("overwrite").text(dir)
        java.nio.file.Files.write(stamp, source.getBytes("UTF-8"))
      }
      val ds = spark.read.textFile(dir)
      val bytes = ds.map(_.length.toLong + 1).reduce(_ + _)
      val rows = ds.count()

      // ---- 2. distributed parse (no row building): parseLines only ----
      val parseSecs = (0 to passes).map { _ =>
        timed {
          // RDD mapPartitions: ParsedLine holds the FieldValue ADT (no
          // Spark encoder, deliberately — it never crosses a shuffle)
          val n = ds.rdd.mapPartitions(it =>
            Iterator.single(LineProtocol.parseLines(it).size.toLong)).sum()
          require(n == rows, s"parsed $n of $rows")
        }
      }.drop(1) // first run warms the JIT/codegen
      record("lp_parse_dist", scale, bytes, rows, parseSecs)

      // ---- 3. LP → typed store (ingestAs → parquet) ----
      val schema = LineProtocol.inferSchema(
        LineProtocol.parseLines(ds.take(2000).toSeq).toSeq)
      val storeDir = s"$scratch/store_x$scale"
      val writeSecs = (1 to passes).map { _ =>
        timed {
          LineProtocol.ingestAs(ds, "events", schema)
            .write.mode("overwrite").parquet(storeDir)
        }
      }
      record("lp_write", scale, bytes, rows, writeSecs)

      // ---- 4. compact: dedup + PK sort + stats sidecar ----
      val compactDir = s"$scratch/compact_x$scale"
      val compactSecs = (1 to passes).map { _ =>
        timed {
          graft.streaming.Ingest.compact(spark, storeDir, compactDir,
            pkCols = Seq("user_id", "event_type", graft.core.NsTime.TimeColumn))
        }
      }
      record("compact", scale, bytes, rows, compactSecs)
    }

    val all = records.result()
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (all.mkString("\n") + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[ingest-bench] sidecar write failed: $e") }
    println(s"""{"metric":"ingest_bench_done","records":${all.size},"out":"$outPath"}""")
    spark.stop()
  }
}
