package graftbench

import scala.jdk.CollectionConverters._

import Stats.Span

/** Folds the probe's events into the per-layer metrics. Every traced run
  * prints the full list in [[Names]]; a layer a workload does not reach
  * reads 0. */
object Layers {

  val ServerRoutes: Seq[String] = Seq("sql", "influxql", "read_filter",
    "read_group", "read_window_aggregate", "tag_values", "do_get", "write")

  /** Per-layer metric names and units, in BENCHMARK.json order. */
  val Names: Seq[(String, String)] = Seq(
    "builder.s" -> "s", "builder.jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.between_jobs_s" -> "s",
    "exec.in_job_s" -> "s", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.core_util" -> "ratio", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.input_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "checkpoint.rdd_blocks" -> "count", "checkpoint.mb" -> "MB",
    "jvm.gc_s" -> "s", "jvm.retained_heap_mb" -> "MB",
    "transport.http_rtt_ms" -> "ms", "transport.grpc_rtt_ms" -> "ms") ++
    ServerRoutes.flatMap(r => Seq(s"server.${r}_p50_ms" -> "ms",
      s"server.${r}_p90_ms" -> "ms")) ++ Seq(
    "server.read_p50_ms" -> "ms", "server.read_p99_ms" -> "ms",
    "server.read_p50_ms_c1" -> "ms", "server.write_p95_ms" -> "ms",
    "server.blocked_ms_per_op" -> "ms", "server.jobs_per_op" -> "count",
    "server.task_ms_per_op" -> "ms", "server.analysis_ms_per_op" -> "ms",
    "server.chunks_per_db_start" -> "count", "server.chunks_per_db_end" -> "count",
    "wire.resp_kb_per_read" -> "KB", "client.ms_per_op" -> "ms",
    "sources.lp_parse_mb_s" -> "MB/s",
    "trace.overhead_pct" -> "%")

  /** The full per-layer list: measured values, 0 for the rest. */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = measured.map(m => m._1 -> m).toMap
    require(byName.keySet.subsetOf(Names.map(_._1).toSet),
      s"unlisted per-layer metrics: ${byName.keySet -- Names.map(_._1)}")
    Names.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) }
  }

  /** What the probe saw inside one window of wall-clock ms. */
  final class Window(probe: Probe, from: Long, to: Long) {
    val jobs: Seq[Probe.Job] = probe.jobs.values.asScala.toSeq
      .filter(j => j.start >= from && j.start <= to).sortBy(_.id)
    private val ids = jobs.map(_.id).toSet
    val tasks: Seq[Probe.Task] = probe.tasks.asScala.toSeq
      .filter(t => probe.jobOfStage(t.stageId).exists(ids))
    val stages: Int = probe.stagesRun.asScala.count(s => probe.jobOfStage(s).exists(ids))
    val plans: Seq[Probe.Plan] = probe.plans.asScala.toSeq
      .filter(p => p.startMs >= from && p.startMs <= to)
    def inJobMs: Long = Stats.unionLength(jobs.map(_.interval))
    def taskRunMs: Long = tasks.map(_.runMs).sum
  }

  private val MB = 1048576.0

  /** One row per traced query, the same fields the pass totals sum. */
  private def batchRow(probe: Probe, s: Batch.Sample): Seq[(String, Double)] = {
    val w = new Window(probe, s.w0, s.w2)
    val buildJobs = w.jobs.filter(_.start < s.w1)
    val spans = querySpans(s, w.jobs, 0L)
    val execute = spans.find(_.name == "execute").get
    Seq("build_s" -> (s.n1 - s.n0) / 1e9, "execute_s" -> (s.n2 - s.n1) / 1e9,
      "builder_jobs" -> buildJobs.size.toDouble,
      "jobs" -> w.jobs.size.toDouble, "stages" -> w.stages.toDouble,
      "tasks" -> w.tasks.size.toDouble,
      "analysis_s" -> w.plans.map(_.analysisMs).sum / 1000.0,
      "optimization_s" -> w.plans.map(_.optimizationMs).sum / 1000.0,
      "planning_s" -> w.plans.map(_.planningMs).sum / 1000.0,
      "between_jobs_s" -> Stats.selfTime(execute, spans) / 1000.0,
      "in_job_s" -> w.inJobMs / 1000.0,
      "task_run_s" -> w.taskRunMs / 1000.0,
      "task_cpu_s" -> w.tasks.map(_.cpuNs).sum / 1e9,
      "shuffle_write_mb" -> w.tasks.map(_.shuffleWrite).sum / MB,
      "shuffle_read_mb" -> w.tasks.map(_.shuffleRead).sum / MB,
      "input_mb" -> w.tasks.map(_.input).sum / MB,
      "spill_mb" -> w.tasks.map(_.spill).sum / MB)
  }

  /** op -> build / execute -> job, in wall-clock ms; ids are unique within
    * one query and offset by `base`. */
  private def querySpans(s: Batch.Sample, jobs: Seq[Probe.Job], base: Long): Seq[Span] = {
    val op = Span(base + 1, 0, s.name, s.w0, s.w2)
    val build = Span(base + 2, op.id, "build", s.w0, s.w1)
    val execute = Span(base + 3, op.id, "execute", s.w1, s.w2)
    Seq(op, build, execute) ++ jobs.zipWithIndex.map { case (j, i) =>
      val (a, b) = j.interval
      Span(base + 4 + i, if (j.start < s.w1) build.id else execute.id,
        s"job ${j.id} ${j.tags.mkString(",")}".trim, a, b)
    }
  }

  /** Catalyst, codegen, scheduler, executor and GC totals over `windows`;
    * `jvm` holds the JVM counters read around each timed stretch. */
  def sparkTotals(windows: Seq[Window], jvm: Seq[(Probe.JvmSnap, Probe.JvmSnap)])
      : Seq[(String, Double, String)] = {
    val tasks = windows.flatMap(_.tasks)
    val plans = windows.flatMap(_.plans)
    val inJob = windows.map(_.inJobMs).sum / 1000.0
    val taskRun = tasks.map(_.runMs).sum / 1000.0
    val compiles = jvm.map { case (a, b) => b.compiles - a.compiles }.sum.toDouble
    Seq(
      ("catalyst.analysis_s", plans.map(_.analysisMs).sum / 1000.0, "s"),
      ("catalyst.optimization_s", plans.map(_.optimizationMs).sum / 1000.0, "s"),
      ("catalyst.planning_s", plans.map(_.planningMs).sum / 1000.0, "s"),
      ("codegen.compiles", compiles, "count"),
      ("codegen.compile_s", compiles * jvm.last._2.compileMeanMs / 1000.0, "s"),
      ("scheduler.jobs", windows.map(_.jobs.size).sum.toDouble, "count"),
      ("scheduler.stages", windows.map(_.stages).sum.toDouble, "count"),
      ("scheduler.tasks", tasks.size.toDouble, "count"),
      ("exec.in_job_s", inJob, "s"),
      ("exec.task_run_s", taskRun, "s"),
      ("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s"),
      ("exec.core_util", if (inJob > 0) taskRun / (inJob * Main.Cores) else 0.0, "ratio"),
      ("exec.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / MB, "MB"),
      ("exec.shuffle_read_mb", tasks.map(_.shuffleRead).sum / MB, "MB"),
      ("exec.input_mb", tasks.map(_.input).sum / MB, "MB"),
      ("exec.spill_mb", tasks.map(_.spill).sum / MB, "MB"),
      ("jvm.gc_s", jvm.map { case (a, b) => b.gcMs - a.gcMs }.sum / 1000.0, "s"))
  }

  /** Per-layer totals of the traced batch pass; one window per query. */
  def batch(probe: Probe, p: Batch.PassTrace): Seq[(String, Double, String)] = {
    val rows = p.samples.map(s => batchRow(probe, s).toMap)
    def sum(k: String) = rows.map(_(k)).sum
    sparkTotals(p.samples.map(s => new Window(probe, s.w0, s.w2)), Seq((p.before, p.after))) ++
      Seq(("builder.s", sum("build_s"), "s"), ("builder.jobs", sum("builder_jobs"), "count"),
        ("scheduler.between_jobs_s", sum("between_jobs_s"), "s"),
        ("checkpoint.rdd_blocks", p.held._1.toDouble, "count"),
        ("checkpoint.mb", p.held._2, "MB"))
  }

  def batchRows(probe: Probe, p: Batch.PassTrace): String =
    Json.arr(p.samples.map { s =>
      Json.obj(Seq("pass" -> p.pass.toString, "query" -> Json.str(s.name)) ++
        batchRow(probe, s).map { case (k, v) => k -> Json.num(v) })
    })

  def batchSpans(probe: Probe, p: Batch.PassTrace): String =
    Json.arr(p.samples.zipWithIndex.flatMap { case (s, i) =>
      querySpans(s, new Window(probe, s.w0, s.w2).jobs, i * 100000L).map(spanJson)
    })

  def spanJson(s: Span): String = Json.obj(Seq("id" -> s.id.toString,
    "parent" -> s.parent.toString, "name" -> Json.str(s.name),
    "start_ms" -> s.start.toString, "end_ms" -> s.end.toString))
}
