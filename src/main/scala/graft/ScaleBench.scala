package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Scaling measurement harness: runs a set of registered queries against
  * SEVERAL data directories (e.g. sf0.1 and a [[ScaleData]] ×10 scratch)
  * in interleaved passes, recording wall time plus the stage-level
  * shuffle-write / shuffle-read / input bytes for each (dir, query) run.
  * Output: one JSON object per line in the `--out` file — the raw record
  * behind `SCALE_r13.md`'s time and shuffle scaling ratios.
  *
  * Timing methodology matches [[Bench]]: interleaved full passes with a
  * per-query cross-pass MIN (co-tenant bursts are one-sided noise), and
  * an untimed warmup pass at sf0.001 to compile every plan's codegen
  * before anything is measured. Byte metrics are data-deterministic, so
  * they are taken from the min-time pass.
  *
  * Usage:
  *   runMain graft.ScaleBench --dirs d1,d2 [--queries a,b|heavy]
  *     [--passes 2] [--out scale_runs.jsonl]
  */
object ScaleBench {
  /** The scale-test battery: the heaviest dedup/ann/corpus/emb/text/rag
    * entries from the round-12 bench detail (everything ≥ ~1.8 s at
    * sf0.1, minus lifecycle_scan / system_chunk_columns whose cost is
    * the write-compact-persist machinery itself, not a data-sized
    * query plan — scaling those means scaling their temp-dir writes,
    * a different experiment). */
  val Heavy: Seq[String] = Seq(
    "dedup_ensemble", "dedup_keep_best", "dedup_edit_distance",
    "dedup_pagerank", "dedup_incremental", "dedup_cluster_sizes",
    "dedup_blocking_eval", "dedup_components", "dedup_ngram_jaccard",
    "dedup_minhash_accuracy", "dedup_lsh_scurve",
    "ann_ivfpq_recall", "ann_ivfpq_topk", "ann_brute_topk",
    "corpus_health_report", "corpus_overlap_hll", "corpus_coverage_select",
    "emb_seeding_quality", "text_mad_outliers", "text_ppl_buckets",
    "split_leakage_safe", "rag_query_expansion", "cluster_topics",
    "pipeline_end_to_end")

  def main(args: Array[String]): Unit = {
    def opt(name: String, dflt: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(dflt)
    val dirs = opt("--dirs",
      "/root/testdata/sf0.1,/root/repo/scale_scratch/x10")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val qNames = opt("--queries", "heavy") match {
      case "heavy" => Heavy
      case s => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val passes = opt("--passes", "2").toInt.max(1)
    val outPath = opt("--out", "scale_runs.jsonl")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage-level byte counters; reads are snapshot deltas around each
    // query (listener events are async — the post-query sleep lets the
    // bus drain; sub-ms inaccuracy is irrelevant at ratio precision)
    val shufW = new AtomicLong; val shufR = new AtomicLong
    val inB = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          inB.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })

    val queries = SparkEntry.queries.filter(q => qNames.contains(q._1))
      .toSeq.sortBy(_._1)
    val missing = qNames.filterNot(n => queries.exists(_._1 == n))
    if (missing.nonEmpty)
      System.err.println(s"[scale] unknown queries skipped: $missing")

    // codegen warmup (untimed, tiny SF)
    queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    case class Run(sec: Double, sw: Long, sr: Long, in: Long)
    // results((dir, query)) += run per pass
    val acc = scala.collection.mutable.Map.empty[(String, String), List[Run]]
    for (p <- 1 to passes; dir <- dirs; (name, fn) <- queries) {
      Thread.sleep(200) // let the listener bus drain the previous query
      val (w0, r0, i0) = (shufW.get, shufR.get, inB.get)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[scale] $name @ $dir failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // Nudge the ContextCleaner: shuffle files are deleted only when
      // their ShuffleDependency is GC'd, and a big-factor run writes
      // tens of GB per query — without this, one long session
      // accumulates shuffle dirs toward disk exhaustion.
      System.gc()
      Thread.sleep(200)
      if (ok) {
        val run = Run(sec, shufW.get - w0, shufR.get - r0, inB.get - i0)
        acc((dir, name)) = run :: acc.getOrElse((dir, name), Nil)
        System.err.println(f"[scale] pass $p $dir%-40s $name%-28s ${sec}%7.2f s")
      }
    }

    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", v)
    val lines = for {
      dir <- dirs; (name, _) <- queries
      runs <- acc.get((dir, name)).toSeq
    } yield {
      val best = runs.minBy(_.sec)
      val all = runs.reverse.map(r => d3(r.sec)).mkString("[", ",", "]")
      s"""{"query":"$name","dir":"$dir","sec":${d3(best.sec)},"sec_all":$all,""" +
        s""""shuffle_write":${best.sw},"shuffle_read":${best.sr},"input_bytes":${best.in}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"""{"metric":"scale_runs","n":${lines.size},"out":"$outPath"}""")
    spark.stop()
  }
}
