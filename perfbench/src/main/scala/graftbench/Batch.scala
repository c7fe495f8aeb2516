package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `ts-query` and `pipeline-query`: the workload's query list, built with
  * `SparkEntry.queries(name)(spark, dir)` and run one after another into
  * the `noop` sink, in whole passes whose order the seed rotates. */
object Batch {

  /** The generated inputs are the same for every seed, so the expected
    * outputs can be committed; the seed only orders the passes. */
  val GenSeed = 42L
  val Sf = 0.01
  /** Set-up repeats the input load this often and reports the median. */
  val LoadRounds = 3
  /** After the warm-up, timing starts once the JIT has been idle this long
    * (or the wait hit its cap); the wait counts in set-up. */
  val JitQuietMs = 500L
  val JitWaitMaxMs = 5000L

  private type Builder = (SparkSession, String) => DataFrame

  /** One timed query: nanoTime and wall-clock ms at build start, execute
    * start and end. */
  final case class Sample(name: String, pass: Int, ok: Boolean,
      n0: Long, n1: Long, n2: Long, w0: Long, w1: Long, w2: Long) {
    def seconds: Double = if (ok) (n2 - n0) / 1e9 else Double.PositiveInfinity
  }

  def run(ctx: Main.Ctx): Main.Outcome = {
    val spark = ctx.spark
    val names = Workloads.queries(ctx.opts)
    val builders: Seq[(String, Builder)] = names.map(n => n ->
      SparkEntry.queries.getOrElse(n, throw new IllegalArgumentException(
        s"query $n is not in SparkEntry.queries")))

    // ---- set-up: load the inputs LoadRounds times, then warm up once;
    // the warm-up is also the output check
    val loadS = (0 until LoadRounds).map { r =>
      val t = System.nanoTime()
      DataGen.write(spark, dataDir(ctx, r), GenSeed, Sf, Main.Threads,
        Workloads.tables(ctx.opts.workload))
      (System.nanoTime() - t) / 1e9
    }
    val dir = dataDir(ctx, LoadRounds - 1)
    val warmStart = System.nanoTime()
    val check = Check.compare(ctx, warmUp(spark, dir, builders,
      if (ctx.opts.record.isDefined) 2 else 1))
    System.gc()
    val jitS = Probe.awaitJitQuiet(JitQuietMs, JitWaitMaxMs)
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupS = (ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0 +
      Stats.median(loadS) + warmS
    System.err.println(f"[perfbench] setup: session ${(ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0}%.2fs " +
      s"loads ${loadS.map(s => f"$s%.2f").mkString(",")}s warm-up ${f"$warmS%.2f"}s " +
      f"(JIT wait $jitS%.2fs)")

    // ---- timed passes: two, and more while the next one fits, so every
    // query's median has at least two samples. A traced run
    // makes exactly three, untraced / traced / untraced, so the trace
    // overhead is measured in one process with the warm-up drift cancelled.
    val budgetS = ctx.opts.seconds.toDouble
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val passes = Vector.newBuilder[(Int, Seq[Sample], Double)]
    val passJvm = Vector.newBuilder[(Probe.JvmSnap, Probe.JvmSnap)]
    var traced = Option.empty[PassTrace]
    var pass = 0
    var lastPassS = 0.0
    def more = ctx.probe match {
      case Some(_) => pass < 3
      case None => pass < 2 || elapsed + lastPassS <= budgetS
    }
    while (more) {
      val traceThis = ctx.probe.isDefined && pass == 1
      if (traceThis) ctx.probe.get.install()
      val before = Probe.jvmSnap()
      val p0 = System.nanoTime()
      val samples = Workloads.rotate(builders, ctx.opts.seed, pass)
        .map { case (name, fn) => timed(spark, dir, name, fn, pass) }
      lastPassS = (System.nanoTime() - p0) / 1e9
      passes += ((pass, samples, lastPassS))
      passJvm += ((before, Probe.jvmSnap()))
      if (traceThis) {
        ctx.probe.get.drain()
        ctx.probe.get.uninstall()
        traced = Some(PassTrace(pass, samples, lastPassS, before, Probe.jvmSnap(),
          Probe.heldBlocks(spark.sparkContext)))
      }
      pass += 1
    }
    val all = passes.result()
    val heapMb = Probe.retainedHeapMb()

    val samples = all.flatMap(_._2)
    val untracedPasses = all.filterNot(p => traced.exists(_.pass == p._1))
    val attempted = check.attempted + samples.size
    val failed = check.failed + samples.count(!_.ok)
    val e2e = endToEnd(setupS, untracedPasses)
    val metrics = (ctx.probe, traced) match {
      case (Some(probe), Some(t)) =>
        val untracedPass = untracedPasses.map(_._3).sum / untracedPasses.size
        Layers.complete(Layers.batch(probe, t) ++ Seq(("jvm.retained_heap_mb", heapMb, "MB"),
          ("trace.overhead_pct", 100.0 * (t.seconds / untracedPass - 1), "%")))
      case _ => e2e
    }
    val sidecar = Seq(
      "setup" -> Json.obj(Seq("session_s" -> Json.num((ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0),
        "load_s" -> Json.arr(loadS.map(Json.num)), "warmup_s" -> Json.num(warmS),
        "jit_wait_s" -> Json.num(jitS))),
      "passes" -> Json.arr(all.zip(passJvm.result()).map { case ((p, s, t), (j0, j1)) => Json.obj(Seq(
        "pass" -> p.toString, "seconds" -> Json.num(t),
        "gc_ms" -> (j1.gcMs - j0.gcMs).toString, "jit_ms" -> (j1.jitMs - j0.jitMs).toString,
        "traced" -> traced.exists(_.pass == p).toString,
        "queries" -> Json.obj(s.map(x => x.name -> Json.num(x.seconds))))) }),
      "retained_heap_mb" -> Json.num(heapMb),
      "check" -> check.json) ++
      ctx.probe.zip(traced).toSeq.flatMap { case (probe, t) => Seq(
        "end_to_end" -> Json.metrics(e2e),
        "trace_rows" -> Layers.batchRows(probe, t),
        "spans" -> Layers.batchSpans(probe, t)) }
    Main.Outcome(attempted, failed, metrics, sidecar)
  }

  /** The traced pass, with the JVM counters around it and the RDD blocks
    * still held after it. */
  final case class PassTrace(pass: Int, samples: Seq[Sample], seconds: Double,
      before: Probe.JvmSnap, after: Probe.JvmSnap, held: (Int, Double))

  /** Each query's time is the median over the timed passes, so one pass
    * slowed by the host does not move the run; `ops_per_s` is the query
    * rate of a pass made of those medians. */
  private def endToEnd(setupS: Double, passes: Seq[(Int, Seq[Sample], Double)])
      : Seq[(String, Double, String)] = {
    val perQuery = Stats.medianBy(passes.flatMap(_._2))(_.name, _.seconds)
    Seq(("setup_s", setupS, "s"),
      ("query_gmean_s", Stats.geomean(perQuery), "s"),
      ("ops_per_s", perQuery.size / perQuery.sum, "1/s"))
  }

  def dataDir(ctx: Main.Ctx, round: Int): String = ctx.workDir(s"data-r$round")

  /** The warm-up, which is also the output check: every query once, four
    * at a time, on the timed inputs. Each builds its frame, takes the
    * frame's checksum and writes it to the `noop` sink, so both plans are
    * compiled before timing starts. Recording takes a second checksum from
    * a fresh build, to find the checksums that do not repeat. */
  private def warmUp(spark: SparkSession, dir: String,
      builders: Seq[(String, Builder)], checksums: Int): Seq[(String, Seq[Option[(Long, String)]])] =
    Parallel.map(builders, Main.Threads) { case (name, fn) =>
      name -> (0 until checksums).map { i =>
        try {
          val df = fn(spark, dir)
          val sum = Check.checksum(df)
          if (i == 0) df.write.format("noop").mode("overwrite").save()
          Some(sum)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] warm-up $name failed: $e")
          None
        }
      }
    }

  private val tagSeq = new java.util.concurrent.atomic.AtomicLong

  private def timed(spark: SparkSession, dir: String, name: String, fn: Builder,
      pass: Int): Sample = {
    val sc = spark.sparkContext
    val tag = s"perfbench-${tagSeq.incrementAndGet()}"
    sc.addJobTag(tag)
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var w1 = w0; var n1 = n0
    val ok =
      try {
        val df = fn(spark, dir)
        w1 = System.currentTimeMillis(); n1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
      } finally sc.removeJobTag(tag)
    val n2 = System.nanoTime(); val w2 = System.currentTimeMillis()
    if (!ok) { w1 = w2; n1 = n2 }
    Sample(name, pass, ok, n0, n1, n2, w0, w1, w2)
  }
}

/** The output check: each query's row count and an order-insensitive
  * checksum, compared with `expected/<workload>.tsv`. A `-` checksum there
  * marks a query whose checksum did not repeat when it was recorded; only
  * its row count is checked. */
object Check {
  final case class Result(attempted: Int, failed: Int, json: String)

  /** Row count and the sum of per-row hashes. Doubles are rounded to six
    * decimals (and -0.0 folded into 0.0) so that summation-order noise in the
    * last bits does not flip the hash; maps are hashed as sorted entries. */
  def checksum(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if et == DoubleType || et == FloatType =>
      transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
    case _: MapType => to_json(array_sort(map_entries(c)))
    case _ => c
  }

  def compare(ctx: Main.Ctx, got: Seq[(String, Seq[Option[(Long, String)]])]): Result = {
    val expectedPath = Paths.get(ctx.opts.benchDir, "expected", s"${ctx.opts.workload}.tsv")
    val expected: Map[String, (Long, Option[String])] =
      if (!Files.exists(expectedPath)) Map.empty
      else Files.readAllLines(expectedPath, UTF_8).asScala.toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map {
          case Array(n, rows, sum) => n -> ((rows.toLong, if (sum == "-") None else Some(sum)))
          case bad => throw new IllegalStateException(s"bad expected line: ${bad.mkString("\t")}")
        }.toMap
    val recording = ctx.opts.record.isDefined
    val rows = got.map { case (name, rs) =>
      val first = rs.head
      val ok = first.isDefined && (recording || (expected.get(name) match {
        case Some((n, sum)) => first.get._1 == n && sum.forall(_ == first.get._2)
        case None => false
      }))
      if (!ok) System.err.println(s"[perfbench] check $name: got $first, " +
        s"expected ${expected.get(name)}")
      (name, first, rs.forall(_.isDefined) && rs.flatten.map(_._2).distinct.size == 1, ok)
    }
    ctx.opts.record.foreach { f =>
      val tsv = rows.map { case (n, r, stable, _) =>
        s"$n\t${r.map(_._1).getOrElse(-1L)}\t${if (stable) r.get._2 else "-"}" }
      Files.write(Paths.get(f), tsv.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val json = Json.obj(Seq(
      "expected" -> Json.str(expectedPath.getFileName.toString),
      "failed" -> Json.arr(rows.filterNot(_._4).map(r => Json.str(r._1))),
      "rows_only" -> Json.arr(rows.filter(r => expected.get(r._1).exists(_._2.isEmpty))
        .map(r => Json.str(r._1)))))
    Result(got.size, rows.count(!_._4), json)
  }
}
