package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.concurrent.TrieMap

/** Per-query optimization profiler (guide §1): runs ONE registered query
  * `--reps` times against `--dir`, recording for each Spark job its wall
  * time and for each stage its task-time / shuffle-read / shuffle-write /
  * input bytes, and writes the query's `.explain("formatted")` to
  * `--plan-out` when given. The per-job breakdown is what Bench cannot
  * show: a 4 s query that runs 30 jobs of 130 ms has a different fix
  * (fewer rounds / fewer actions) than one job of 4 s (a slow stage).
  *
  * Usage: runMain graft.QueryProfile --query dedup_components
  *   [--dir /root/testdata/sf0.1] [--reps 3] [--plan-out plans/r15/x.txt]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    def opt(name: String, dflt: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(dflt)
    val qName = opt("--query", "dedup_components")
    val dir = opt("--dir", "/root/testdata/sf0.1")
    val reps = opt("--reps", "3").toInt
    val planOut = opt("--plan-out", "")
    // --plan-dir d --queries a,b,c: dump each query's formatted plan to
    // d/<name>_<suffix>.txt (no timing) — the plans/r15 evidence writer.
    // CAVEAT (r16 advice note): query builders that call
    // localCheckpoint() EXECUTE their upstream pipeline eagerly at
    // construction, so "no timing" means no timing printed — dumping
    // such a query's plan still runs its checkpoint jobs, and the dump
    // shows the truncated checkpoint scan, not the pipeline behind it.
    val planDir = opt("--plan-dir", "")
    val planSuffix = opt("--plan-suffix", "after")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (planDir.nonEmpty) {
      val names = opt("--queries", qName).split(",").map(_.trim).filter(_.nonEmpty)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))
      names.foreach { n =>
        val f = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
        val txt = f(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$planDir/${n}_$planSuffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[profile] $planDir/${n}_$planSuffix.txt")
      }
      spark.stop()
      return
    }
    val fn = SparkEntry.queries.getOrElse(qName,
      sys.error(s"unknown query $qName"))

    case class JobRec(desc: String, startNs: Long, var endNs: Long = 0L)
    val jobs = TrieMap.empty[Int, JobRec]
    val jobOrder = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // per-stage totals keyed by jobId via the stage->job map
    val stageJob = TrieMap.empty[Int, Int]
    case class StageAgg(var taskTimeMs: Long = 0, var shufReadB: Long = 0,
      var shufWriteB: Long = 0, var inputB: Long = 0, var nTasks: Int = 0,
      var nStages: Int = 0)
    val perJobStages = TrieMap.empty[Int, StageAgg]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(desc, System.nanoTime())
        jobOrder.add(e.jobId)
        e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.endNs = System.nanoTime())
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stageJob.get(si.stageId).foreach { jid =>
          val agg = perJobStages.getOrElseUpdate(jid, StageAgg())
          val m = si.taskMetrics
          agg.taskTimeMs += m.executorRunTime
          agg.shufReadB += m.shuffleReadMetrics.totalBytesRead
          agg.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          agg.inputB += m.inputMetrics.bytesRead
          agg.nTasks += si.numTasks
          agg.nStages += 1
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    if (planOut.nonEmpty) {
      val df = fn(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(planOut)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"[profile] plan written to $planOut")
    }

    def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    for (rep <- 1 to reps) {
      jobs.clear(); perJobStages.clear(); stageJob.clear(); jobOrder.clear()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val totalS = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the bus a moment to drain
      Thread.sleep(300)
      println(f"== rep $rep: $qName total ${d3(totalS)}s, ${jobs.size} jobs ==")
      import scala.jdk.CollectionConverters._
      var acc = 0.0
      jobOrder.asScala.toSeq.foreach { jid =>
        val j = jobs(jid)
        val wallS = (j.endNs - j.startNs) / 1e9
        acc += wallS
        val s = perJobStages.getOrElse(jid, StageAgg())
        println(f"  job $jid%3d ${d3(wallS)}s (cum ${d3(acc)}) " +
          f"stages=${s.nStages} tasks=${s.nTasks} taskTime=${s.taskTimeMs}ms " +
          f"shufR=${s.shufReadB / 1024}K shufW=${s.shufWriteB / 1024}K " +
          f"in=${s.inputB / 1024}K  ${j.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
