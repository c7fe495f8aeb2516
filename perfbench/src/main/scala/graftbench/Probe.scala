package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Reads the layers below the benchmark through their public hooks only:
  * a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (the planning tracker's phase times of every
  * executed plan), Spark's `CodegenMetrics`, and the JVM's GC, memory and
  * thread MX beans. Events are kept in memory; the workloads fold them into
  * per-pass and per-phase totals. Times from Spark are wall-clock ms. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Probe._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stagesRun = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def seen(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty(TagsKey)))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    jobs.put(e.jobId, Job(e.jobId, tags, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    seen()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    seen()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stagesRun.add(e.stageInfo.stageId)
    seen()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    seen()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis())
    plans.add(Plan(start, ms("analysis"), ms("optimization"), ms("planning")))
    seen()
  }

  def jobOfStage(stageId: Int): Option[Int] = Option(stageJob.get(stageId))

  /** Waits until the asynchronous listener buses have been quiet for a
    * moment, so every event of the finished work is counted. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 300 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  /** `SparkContext.SPARK_JOB_TAGS`, which is private to Spark. */
  val TagsKey = "spark.job.tags"

  final case class Job(id: Int, tags: Set[String], start: Long) {
    @volatile var end: Long = -1L
    def interval: (Long, Long) = (start, if (end < 0) start else end)
  }
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, input: Long, spill: Long)
  final case class Plan(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  /** JVM-wide counters read before and after a timed phase. */
  final case class JvmSnap(gcMs: Long, compiles: Long, compileMeanMs: Double,
      jitMs: Long)

  def jvmSnap(): JvmSnap = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    JvmSnap(gc, h.getCount, h.getSnapshot.getMean,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** Total time, in ms, that live threads whose names start with one of
    * `prefixes` have spent blocked on monitors. Needs thread-contention
    * monitoring, which the traced run turns on. */
  def blockedMs(prefixes: Seq[String]): Long = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getThreadInfo(mx.getAllThreadIds).filter(_ != null)
      .filter(t => prefixes.exists(t.getThreadName.startsWith))
      .map(t => math.max(0L, t.getBlockedTime)).sum
  }

  def enableContentionMonitoring(): Unit = {
    val mx = ManagementFactory.getThreadMXBean
    if (mx.isThreadContentionMonitoringSupported)
      mx.setThreadContentionMonitoringEnabled(true)
  }

  /** Waits until the JIT has finished no compilation for `quietMs`, at most
    * `maxMs`, so the timed phase does not share the cores with compiler
    * threads still working through the warm-up's hot methods. Returns the
    * seconds waited. */
  def awaitJitQuiet(quietMs: Long, maxMs: Long): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    def ms(since: Long) = (System.nanoTime() - since) / 1000000L
    var last = jit.getTotalCompilationTime
    var quietSince = t0
    while (ms(quietSince) < quietMs && ms(t0) < maxMs) {
      Thread.sleep(20)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Driver heap in use after a forced full GC, in MB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** RDD blocks still held by the block manager: (RDDs, MB). */
  def heldBlocks(sc: SparkContext): (Int, Double) = {
    val held = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (held.length, held.map(r => r.memSize + r.diskSize).sum / 1048576.0)
  }
}
