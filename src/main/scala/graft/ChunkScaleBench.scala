package graft

import org.apache.spark.sql.functions._
import graft.sources.StatsCatalog
import graft.streaming.Lifecycle

/** Chunk-COUNT scaling measurement for the lifecycle/system families that
  * ScaleBench excludes (their cost is the write-compact-persist machinery,
  * not a data-sized query plan — r13 verdict #3). Two experiments:
  *
  *  1. REAL timeline at n ∈ {10, 100, 1000} open chunks (fixed rows per
  *     chunk): write → policy rounds (compact/persist) → dedup scan →
  *     metadata queries, each phase timed. A rows-scaling CONTROL
  *     (10 chunks × 10× rows) shows metadata costs are flat in row count.
  *  2. SIDECAR-ONLY listing at 10⁴ fabricated chunks: the metadata path
  *     (chunks(), system.chunks, system.chunk_columns) never opens a data
  *     file, so 10⁴ chunks cost 10⁴ sidecar JSON reads — timed to show
  *     linearity in chunk count (the ChunkMetadataScaleSpec pins the
  *     no-data-reads contract deterministically; this measures the slope).
  *
  * Output: one JSON line per record APPENDED to --out (default
  * chunk_scale.jsonl) — the file is the round-over-round raw-record log,
  * so every number a scale report quotes has a committed record.
  * Usage: runMain graft.ChunkScaleBench [--out chunk_scale.jsonl]
  *        [--counts 10,100,1000] [--rows 2000] [--fab 10000]
  *        [--batch true] [--tag r15] [--skip-fab true]
  * `--batch true` lands each timeline's chunks via the ONE-job
  * ChunkedTable.writeChunks batch path instead of serial writeChunk
  * calls — the write_s delta IS the measured batching win.
  */
object ChunkScaleBench {
  private def d3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  def main(args: Array[String]): Unit = {
    def opt(name: String, dflt: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(dflt)
    val counts = opt("--counts", "10,100,1000").split(",").map(_.trim.toInt).toSeq
    val rowsPerChunk = opt("--rows", "2000").toInt
    val fabN = opt("--fab", "10000").toInt
    // --persist false: compaction-only policy (persist-first rounds are
    // one bounded Persist each by design; the compaction-only variant is
    // where concurrent disjoint Compact actions engage)
    val persist = opt("--persist", "true").toBoolean
    val batch = opt("--batch", "false").toBoolean
    val tag = opt("--tag", "untagged")
    val skipFab = opt("--skip-fab", "false").toBoolean
    // JVM-state isolation controls (r15: the policy phase measured 38 s
    // after a one-job batch write vs 281-326 s after 10^3 serial write
    // jobs IN THE SAME JVM — to attribute that gap, --phase write lands
    // the chunks into --dir and exits, and --phase policy runs the
    // policy/scan/meta phases over that directory in a FRESH JVM;
    // --phase all (default) is the combined timeline as before)
    val phase = opt("--phase", "all")
    val fixedDir = opt("--dir", "")
    val outPath = opt("--out", "chunk_scale.jsonl")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val records = Seq.newBuilder[String]
    def rec(kv: (String, String)*): Unit = {
      val line = (kv :+ ("tag" -> s""""$tag"""") :+
        ("persist" -> persist.toString) :+ ("batch" -> batch.toString))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      records += line; println(line)
    }
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    def timeline(nChunks: Int, rows: Int, label: String): Unit = {
      val dir =
        if (fixedDir.nonEmpty) { new java.io.File(fixedDir).mkdirs(); fixedDir }
        else java.nio.file.Files
          .createTempDirectory(s"graft-chunkscale-$label").toString
      val table = new Lifecycle.ChunkedTable(spark, dir,
        pkCols = Seq("tag", "time"))
      // each chunk: `rows` points, 1% overlapping the previous chunk's
      // time range so compaction has real dedup work
      def chunkDf(i: Int) = (0 until rows).map { r =>
        (s"t${r % 50}", i.toLong * rows * 10 + r * 10L - (if (r < rows / 100) 10L else 0L),
          (i * rows + r).toDouble)
      }.toDF("tag", "time", "value")
      val (_, wSec) = if (phase == "policy") ((), 0.0) else timed {
        if (batch) {
          // one write job + one stats job for ALL chunks via the
          // DISTRIBUTED batch entry point: the same rows as chunkDf,
          // generated by spark.range (i = id div rows, r = id mod rows)
          // — no driver-local frames, no n-child union (the
          // writeChunks(Seq[DataFrame]) form measured 1.8× SLOWER than
          // serial at 10³ frames; a real backfill is ONE frame, which
          // is what writeChunksBy takes). Per-chunk lastWriteMs stamps
          // are irrelevant to the policy here (every chunk is idle past
          // the 1 ms late-arrive window by round time).
          val rw = rows.toLong
          val i = (col("id") / rw).cast("long")
          val r = col("id") % rw
          val gen = spark.range(nChunks.toLong * rw).select(
            i.as("__chunk"),
            concat(lit("t"), (r % 50).cast("string")).as("tag"),
            (i * rw * 10 + r * 10 -
              when(r < rw / 100, 10L).otherwise(0L)).cast("long").as("time"),
            col("id").cast("double").as("value"))
          table.writeChunksBy(gen, "__chunk", nowMs = 0L)
        } else
          (0 until nChunks).foreach(i => table.writeChunk(chunkDf(i), nowMs = i.toLong))
      }
      if (phase == "write") {
        rec("metric" -> "\"timeline\"", "label" -> s""""$label-writeonly"""",
          "chunks" -> nChunks.toString, "rows_per_chunk" -> rows.toString,
          "write_s" -> d3(wSec), "dir" -> s""""$dir"""")
        return
      }
      val rules = Lifecycle.Rules(lateArriveWindowMs = 1L,
        persistRowThreshold = Long.MaxValue, persistAgeThresholdMs = 1L,
        persist = persist)
      // policy rounds until quiescent (compacts opens, then persists)
      val (rounds, lSec) = timed {
        var i = 0
        var now = 1000000L
        while (i < 50 && table.runOnce(rules, nowMs = now).nonEmpty) {
          i += 1; now += 1000000L
        }
        i
      }
      val (nScan, sSec) = timed(table.scan().count())
      val (_, mSec) = timed(table.systemChunkColumns("t").count())
      val (nList, cSec) = timed(table.chunks().size)
      rec("metric" -> "\"timeline\"", "label" -> s""""$label"""",
        "chunks" -> nChunks.toString, "rows_per_chunk" -> rows.toString,
        "write_s" -> d3(wSec), "policy_rounds" -> rounds.toString,
        "policy_s" -> d3(lSec), "scan_rows" -> nScan.toString,
        "scan_s" -> d3(sSec), "meta_query_s" -> d3(mSec),
        "final_chunks" -> nList.toString, "list_s" -> d3(cSec))
      // best-effort cleanup (temp dirs are large at n=1000); a --dir table
      // is the caller's to manage (the write/policy phase split needs it
      // to survive between JVMs)
      if (fixedDir.isEmpty) try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }

    for (n <- counts) timeline(n, rowsPerChunk, s"x$n")
    // rows-scaling control: chunk count fixed at the smallest n, 10× rows
    // (skipped in the write/policy phase split — a fixed --dir can hold
    // only one table, and the control belongs to the combined timeline)
    if (phase == "all" && fixedDir.isEmpty)
      timeline(counts.min, rowsPerChunk * 10, s"x${counts.min}-rows10x")

    // ---- sidecar-only listing at fabN chunks ----
    if (!skipFab) {
      val fabDir = java.nio.file.Files
        .createTempDirectory("graft-chunkscale-fab").toString
      val (_, fabBuild) = timed {
        (0 until fabN).foreach { i =>
          val p = s"$fabDir/cold/chunk-$i"
          new java.io.File(p).mkdirs()
          StatsCatalog.save(spark, p, StatsCatalog.TableStats(
            rowCount = 1000L, timeMin = i * 1000L, timeMax = i * 1000L + 999L,
            tagValues = Map("tag" -> Seq("a", "b")), cappedTags = Nil,
            sortKey = Some(Seq("tag", "time")),
            columnStats = Map("tag" -> StatsCatalog.ColumnStat(1000L, Some("a"), Some("b")),
              "time" -> StatsCatalog.ColumnStat(1000L,
                Some((i * 1000L).toString), Some((i * 1000L + 999L).toString)))))
        }
      }
      val fabTable = new Lifecycle.ChunkedTable(spark, fabDir,
        pkCols = Seq("tag", "time"))
      val (nFab, listSec) = timed(fabTable.chunks().size)
      val (nCols, colsSec) = timed(fabTable.systemChunkColumns("t").count())
      rec("metric" -> "\"sidecar_only\"", "chunks" -> nFab.toString,
        "build_s" -> d3(fabBuild), "list_s" -> d3(listSec),
        "syscols_rows" -> nCols.toString, "syscols_s" -> d3(colsSec))
    }

    val all = records.result()
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (all.mkString("\n") + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    println(s"""{"metric":"chunk_scale_done","records":${all.size},"out":"$outPath"}""")
    spark.stop()
  }
}
