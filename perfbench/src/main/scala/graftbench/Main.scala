package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py` with the checkout's
  * build on the classpath:
  *
  * {{{
  * graftbench.Main --workload ts-query|pipeline-query|server-mixed
  *   --seed N --seconds S --trace 0|1 --bench-dir perfbench --work DIR
  *   [--record FILE]
  * }}}
  *
  * The last line on stdout is the result object
  * `{"correct","attempted","failed","metrics"}`; the environment record and
  * the per-op trace go to sidecar files under `--work`. */
object Main {

  /** local[N] and the Spark settings are fixed, not taken from the host, so
    * results from different machines stay comparable; `nproc` is recorded.
    * Two task slots on a 4-core host leave cores for the driver thread and
    * the JIT, which stays busy through every timed pass (Spark generates new
    * classes for each query; a 10 s pass logged about 20 s of compilation),
    * and for other tenants of a shared host. */
  val Cores = 2
  /** Threads for the untimed concurrent steps: input generation and the
    * batch warm-up. */
  val Threads = 4

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, benchDir: String, work: String, record: Option[String])

  final case class Ctx(spark: SparkSession, opts: Opts, jvmStartMs: Long,
      sessionReadyMs: Long, probe: Option[Probe]) {
    def workDir(name: String): String = {
      val d = new File(opts.work, name); d.mkdirs(); d.getPath
    }
  }

  /** What a workload hands back: op counts, metrics by name, and the
    * sidecar sections (raw JSON values) that go with them. */
  final case class Outcome(attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], sidecar: Seq[(String, String)])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("bench-dir"), req("work"), m.get("record"))
  }

  def session(work: String): SparkSession = {
    // Settings copied from the engine's Bench main, plus local-only
    // directories so a run writes nowhere outside its work directory.
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Exits explicitly, so no lingering non-daemon thread can keep a failed
    * run alive; a failure exits non-zero without printing a result. */
  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(opts: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(opts.work)
    val probe = if (opts.trace) Some(new Probe(spark)) else None
    val ctx = Ctx(spark, opts, jvmStartMs, System.currentTimeMillis(), probe)
    val out = try opts.workload match {
      case "ts-query" | "pipeline-query" => Batch.run(ctx)
      case "server-mixed" => Server.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()

    val env = environment(ctx)
    val sidecar = Json.obj(Seq("environment" -> env,
      "result" -> Json.obj(Seq(
        "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
        "metrics" -> Json.metrics(out.metrics)))) ++ out.sidecar)
    val name = s"result-${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}.json"
    Files.write(Paths.get(opts.work, name), sidecar.getBytes(UTF_8))
    System.err.println(s"[perfbench] environment $env")
    System.err.println(s"[perfbench] sidecar ${Paths.get(opts.work, name)}")
    println(Json.obj(Seq("correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "metrics" -> Json.metrics(out.metrics))))
    System.out.flush()
  }

  /** Runs with different values here must never be compared. */
  private def environment(ctx: Ctx): String = {
    val sc = ctx.spark.sparkContext
    val settings = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.adaptive.enabled", "spark.sql.codegen.cache.maxEntries")
      .map(k => k -> Json.str(sc.getConf.get(k, "")))
    Json.obj(Seq(
      "commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "source_hash" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_HASH", "unknown")),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "local_cores" -> Cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> Json.str(System.getProperty("java.runtime.version")),
      "spark" -> Json.str(ctx.spark.version),
      "spark_settings" -> Json.obj(settings),
      "workload" -> Json.str(ctx.opts.workload),
      "seed" -> ctx.opts.seed.toString,
      "seconds" -> ctx.opts.seconds.toString,
      "traced" -> ctx.opts.trace.toString,
      "query_list" -> Json.arr(Workloads.queries(ctx.opts).map(Json.str))))
  }
}

/** Just enough JSON writing for the result line and the sidecars. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  /** All digits as measured; a non-finite value (an op that failed inside a
    * percentile) is written as 1e9 so the line stays valid JSON. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "1e9"
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  /** Metrics as the result object writes them: name -> {value, unit}. */
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
