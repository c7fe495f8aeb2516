package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized through a noop
  * sink (a bare .count() would let Catalyst prune the computed columns
  * and undercount the real work). */
object Bench {
  def main(args: Array[String]): Unit = {
    val mainStartNs = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    // ERROR, not WARN: the driver keeps only a 2000-byte TAIL of merged
    // stdout+stderr and parses the last JSON line in it. r13's artifact
    // was rc=124/parsed=null because the tail was 100% `WARN WindowExec`/
    // `MapPartitionsRDD` spam printed AFTER the compact line. The bench
    // entrypoint needs no WARNs; real failures still surface via the
    // per-query try/catch below.
    spark.sparkContext.setLogLevel("ERROR")
    // Timing methodology (shared-box noise): co-tenant CPU bursts run for
    // MINUTES, so iterating one query n times back-to-back lets a single
    // burst poison every sample of that query — min-of-n cannot shed it.
    // Instead run K interleaved FULL-SUITE passes (each query appears once
    // per pass, ~45 s apart), and report each query's MIN across passes: a
    // burst now costs at most one pass's sample of any given query, and
    // the cross-pass min sheds it. Noise is one-sided (a burst only ADDS
    // time), so the min is the max-likelihood estimate of true cost.
    // Per-pass totals go into the JSON artifact so contamination of any
    // single pass is visible in the record itself.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    // Profiling filter: SPARK_GRAFT_ONLY=name1,name2 restricts the run to
    // the named queries (local iteration on a hot query without paying the
    // full suite). Absent in the driver's environment → full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Locale.ROOT pins the decimal separator: String.format uses the JVM
    // default locale, which under e.g. de_DE would print commas and make
    // the JSON line unparseable.
    def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // Elapsed-time budget (r13 lesson: 3 interleaved full passes blew the
    // driver's bench slot — rc 124 with nothing parseable in the tail).
    // Two defenses: (1) stop STARTING work once the budget is spent — the
    // first pass always runs to completion so every query gets >=1 sample,
    // later passes abort between queries; (2) the caller below emits the
    // cumulative compact line + sidecar after EVERY pass, so even a hard
    // kill leaves the latest parseable total as the last JSON on stdout.
    // Budget default sized to the driver's ~1200 s slot (r14: sbt total
    // 1198 s, rc=0): warmup (~2 min concurrent) + pass 1 (~530 s
    // contended) leaves room to START pass 2 and abort it between queries
    // by ~950 s, so the final cumulative emission lands well before the
    // kill and MOST queries still collect a second warm sample.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "950").toDouble
    def elapsedS: Double = (System.nanoTime() - mainStartNs) / 1e9
    // Untimed warmup at tiny SF, CONCURRENT (r15): its only job is Janino
    // compilation of every query's codegen (kept resident by the enlarged
    // cache above) — compile is CPU-bound and per-query independent, so a
    // worker pool turns r14's ~640 s sequential warmup into ~1-2 min,
    // which is what makes a SECOND timed pass fit the driver's slot at
    // all. Results are discarded; failures are harmless (that query just
    // compiles during pass 1). sf0.001 timings are never folded into the
    // sfDir minima — different data size, folding would be dishonest.
    locally {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val t0 = System.nanoTime()
      queries.foreach { case (_, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try fn(spark, "/root/testdata/sf0.001")
              .write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
        })
      }
      pool.shutdown()
      pool.awaitTermination(20, java.util.concurrent.TimeUnit.MINUTES)
      System.err.println(
        s"[bench] concurrent warmup done in ${d3((System.nanoTime() - t0) / 1e9)}s")
    }
    // Per-pass query-order ROTATION: a co-tenant burst lasts minutes and
    // is contiguous in time, so with a fixed order it poisons the same
    // alphabetical block of every pass it touches (r14 driver run: one
    // corpus->decontaminate stretch at 16-67x in the only timed pass).
    // Rotating each pass by the golden ratio spreads any given wall-clock
    // window across different queries per pass, so the cross-pass min
    // sheds a burst even when only 2 passes fit the budget.
    def rotatedFor(pass: Int): Seq[(String, (SparkSession, String) => DataFrame)] = {
      val n = queries.size
      if (n == 0) queries
      else {
        val off = ((pass * 0.6180339887498949 * n).toLong % n).toInt
        queries.drop(off) ++ queries.take(off)
      }
    }
    // samples(p) = (Seq[(name, Option[sec])] in pass order, ranToEnd).
    // A query that throws records None — NOT its failure latency — so a
    // broken query can never masquerade as a 0.05 s "result" (r6 lesson:
    // 47 plan-time failures benched as plausible speedups). A pass aborted
    // by the budget simply OMITS the unreached queries (missing sample,
    // not a failure) and reports ranToEnd=false.
    // `emitPartial` receives the in-flight pass's samples-so-far every
    // ~60 s: a hard kill at ANY point then loses at most a minute of
    // samples, not the whole pass (r14's driver run had no parseable
    // line until 1174 s elapsed — one pass boundary). Partial emissions
    // are identifiable in the artifact: n_sampled < n_queries and the
    // in-flight pass counts as incomplete.
    def onePass(pass: Int, abortable: Boolean,
        emitPartial: Seq[(String, Option[Double])] => Unit):
        (Seq[(String, Option[Double])], Boolean) = {
      val order = rotatedFor(pass)
      val out = Seq.newBuilder[(String, Option[Double])]
      var lastEmitS = elapsedS
      var i = 0
      while (i < order.size && !(abortable && elapsedS > budgetS)) {
        val (name, fn) = order(i)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        out += ((name, if (ok) Some((System.nanoTime() - t0) / 1e9) else None))
        i += 1
        if (i < order.size && elapsedS - lastEmitS > 60.0) {
          emitPartial(out.result()); lastEmitS = elapsedS
        }
      }
      (out.result(), i == order.size)
    }
    // A SPARK_GRAFT_ONLY run is a partial suite: mark it in BOTH emitted
    // JSON forms so no stdout-parsing harness can record a filtered
    // partial total as a round total (the sidecar routing below already
    // protects the files; this protects the stream).
    val filteredMark = if (only.isDefined)
      s""","filtered":true,"only":${only.get.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      else ""
    // Per-round sidecar name. An explicit tag wins (SPARK_GRAFT_ROUND env
    // or a `--round N` arg) — the directory scan below silently misfiles
    // the sidecar if the bench runs from a different cwd, or overwrites
    // it if the bench runs twice in one round. Fallback: the highest
    // BENCH_r{N}.json on disk names the PREVIOUS round (the driver writes
    // this round's after this main exits), so max+1 is the current round.
    // Keeping every round's per-query detail in git makes family drift
    // attributable to queries (r10 verdict: a 12% text-family question
    // was unprovable because bench_detail.json had been overwritten).
    val explicitRound = sys.env.get("SPARK_GRAFT_ROUND")
      .orElse(args.sliding(2).collectFirst {
        case Array("--round", n) => n })
      .flatMap(n => scala.util.Try(n.trim.toInt).toOption)
    val roundTag = explicitRound.map(n => f"_r$n%02d").getOrElse(try {
      val pat = "BENCH_r(\\d+)\\.json".r
      val ns = Option(new java.io.File(".").list()).toSeq.flatten
        .collect { case pat(n) => n.toInt }
      if (ns.isEmpty) "" else f"_r${ns.max + 1}%02d"
    } catch { case _: Throwable => "" })
    // A filtered profiling run must never clobber the round's full-suite
    // sidecars — route it to a scratch name instead.
    val detailName =
      if (only.isDefined) "bench_detail_filtered.json"
      else s"bench_detail$roundTag.json"
    // Emits the cumulative artifact for the passes run SO FAR: the compact
    // line to stdout and the full per-query record to the sidecar files.
    // Called after EVERY pass (r13 lesson: the one end-of-run emission was
    // never reached when the driver's timeout killed pass 2, leaving
    // rc=124/parsed=null) — a kill at any point now loses at most the
    // in-flight pass, and the driver's last-JSON-line parse picks up the
    // newest cumulative total.
    def emitArtifacts(
        samples: Vector[(Seq[(String, Option[Double])], Boolean)]): Unit = {
      val byQuery = queries.map { case (name, _) =>
        // find(...).flatMap, not .get: a budget-aborted pass omits the
        // queries it never reached (missing sample != failure).
        val ts = samples.flatMap(_._1.find(_._1 == name).flatMap(_._2))
        (name, if (ts.isEmpty) None else Some((ts.min, ts.max - ts.min)))
      }
      // "Failed" = attempted at least once and never succeeded. A query no
      // pass reached (can only happen if even pass 1 was cut, which it
      // structurally isn't) would otherwise read as a failure.
      val attempted = samples.flatMap(_._1.map(_._1)).toSet
      val failed = byQuery.collect { case (n, None) if attempted(n) => n }
      val qs = byQuery.collect { case (k, Some((min, _))) => "\"" + k + "\":" + d3(min) }
        .mkString("{", ",", "}")
      val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val passTotals = samples.map(p => d3(p._1.flatMap(_._2).sum)).mkString("[", ",", "]")
      // Contamination marker: relative spread of the COMPLETE passes'
      // totals (a budget-truncated pass's total is structurally smaller —
      // comparing it would always fire). A clean run has passes within a
      // few percent; a co-tenant burst inflates one, so (max-min)/min >
      // 0.3 flags the run as burst-poisoned IN THE ARTIFACT ITSELF. With
      // fewer than 2 complete passes the question is UNANSWERABLE from
      // this run, and the artifact says so: spread and contaminated are
      // null, never a vacuous 0/false (the r14 driver artifact's false
      // was computed over a single pass).
      val warmTotals = samples.collect { case (p, true) => p.flatMap(_._2).sum }
        .filter(_ > 0)
      val passSpread: Option[Double] =
        if (warmTotals.size < 2) None
        else Some((warmTotals.max - warmTotals.min) / warmTotals.min)
      val contaminated = passSpread.map(s => (s > 0.3).toString).getOrElse("null")
      val total = byQuery.flatMap(_._2.map(_._1)).sum
      val passesComplete = samples.count(_._2)
      // n_sampled < n_queries identifies a PARTIAL emission (mid-pass or
      // budget-aborted): "value" then sums only the sampled queries' mins
      val nSampled = byQuery.count(_._2.isDefined)
      val passMark =
        s""","passes":${samples.size},"passes_complete":$passesComplete,"n_sampled":$nSampled,"pass_totals":$passTotals,"pass_spread":${passSpread.map(d3).getOrElse("null")},"contaminated":$contaminated,"elapsed_s":${d3(elapsedS)},"budget_s":${d3(budgetS)}"""
      val detail = s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":$qs,"failed":$failedArr$passMark$filteredMark,"sf":"$sfDir"}"""
      // The driver captures only a bounded 2000-byte TAIL of the run's
      // MERGED stdout+stderr (with the sbt "[success]" line inside it) and
      // parses the last JSON line from that window; at ~190 queries the
      // full per-query map overflows it and the whole bench reads as
      // unparseable (r6-r8: "parsed": null). So: the full-fidelity record
      // goes ONLY to the sidecar file — never stdout, never stderr — and
      // stdout gets compact lines whose "queries" map rolls the minima up
      // by family prefix (q/rpc/events/influxql/dedup/text/… — ~35
      // entries, stable round-over-round for trend comparison).
      val famTotals = byQuery
        .collect { case (k, Some((min, _))) => (k.takeWhile(_ != '_'), min) }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (fam, xs) => "\"" + fam + "\":" + d3(xs.map(_._2).sum) }
        .mkString("{", ",", "}")
      val failedCapped = // keep stdout bounded even if half the suite fails
        (failed.take(8).map("\"" + _ + "\"") ++
          (if (failed.size > 8) Seq("\"+" + (failed.size - 8) + " more\"") else Nil))
          .mkString("[", ",", "]")
      val compact = s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":$famTotals,"n_queries":${byQuery.size},"n_failed":${failed.size},"failed":$failedCapped$passMark$filteredMark,"sf":"$sfDir","detail":"$detailName"}"""
      // bench_detail.json stays as the stable latest-run pointer (not for
      // filtered profiling runs, which would replace it with a partial map)
      val sidecars =
        if (only.isDefined) Seq(detailName)
        else Seq(detailName, "bench_detail.json").distinct
      sidecars.foreach { f =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(f),
          (detail + "\n").getBytes("UTF-8"))
        catch { case e: Throwable =>
          System.err.println(s"[bench] sidecar write failed ($f): $e") }
      }
      println(compact)
      System.out.flush()
    }
    var samples = Vector.empty[(Seq[(String, Option[Double])], Boolean)]
    def emitMid(partial: Seq[(String, Option[Double])]): Unit =
      if (partial.nonEmpty) emitArtifacts(samples :+ ((partial, false)))
    // pass 1 is non-abortable so every query gets at least one timed
    // sample even on a fully contended box; later passes are rotated and
    // abort between queries once the budget is spent
    samples = samples :+ onePass(0, abortable = false, emitMid)
    emitArtifacts(samples)
    var p = 1
    while (p < passes && elapsedS <= budgetS) {
      samples = samples :+ onePass(p, abortable = true, emitMid)
      emitArtifacts(samples)
      p += 1
    }
    // Adaptive top-up (co-tenant contamination guard): when the FIRST
    // pass's total exceeds the LAST COMPLETE pass's by >30%, something
    // big was running early in the bench — one extra pass gives every
    // query another chance at an uncontended sample. Bounded at +2 AND by
    // the elapsed budget so a permanently loaded box still terminates.
    // Totals compare over the queries that succeeded in BOTH passes: a
    // query failing in just one pass would otherwise skew the ratio.
    def comparableTotals(a: Seq[(String, Option[Double])],
        b: Seq[(String, Option[Double])]): (Double, Double) = {
      val inB = b.collect { case (n, Some(_)) => n }.toSet
      val both = a.collect { case (n, Some(_)) if inB(n) => n }.toSet
      (a.collect { case (n, Some(t)) if both(n) => t }.sum,
        b.collect { case (n, Some(t)) if both(n) => t }.sum)
    }
    def warmComplete = samples.filter(_._2)
    var extra = 0
    while (extra < 2 && elapsedS <= budgetS && warmComplete.size >= 2 && {
      val (h, l) = comparableTotals(warmComplete.head._1, warmComplete.last._1)
      l > 0 && h > 1.3 * l
    }) {
      val (h, l) = comparableTotals(warmComplete.head._1, warmComplete.last._1)
      System.err.println(s"[bench] first pass ${d3(h)}s vs last complete ${d3(l)}s " +
        "(shared-success queries) — adding a top-up pass")
      samples = samples :+ onePass(p + extra, abortable = true, emitMid)
      emitArtifacts(samples)
      extra += 1
    }
    spark.stop()
  }
}
