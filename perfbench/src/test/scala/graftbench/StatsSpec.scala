package graftbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Span

/** Self-tests for the benchmark's own arithmetic and input generation. */
class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.99) == 99.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("a failed op enters the percentiles as +Inf") {
    val xs = Seq(1.0, 2.0, Double.PositiveInfinity)
    assert(Stats.percentile(xs, 1.0).isPosInfinity)
    assert(Stats.percentile(xs, 0.5) == 2.0)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 0.5, 0.5)) - 0.5) < 1e-12)
    assert(Stats.geomean(Seq(1.0, Double.PositiveInfinity)).isPosInfinity)
  }

  test("per-group medians: two samples give the lower, a failure stays +Inf") {
    val xs = Seq("a" -> 3.0, "b" -> 5.0, "a" -> 2.0, "b" -> 4.0, "b" -> 9.0,
      "c" -> Double.PositiveInfinity)
    val m = Stats.medianBy(xs)(_._1, _._2)
    assert(m.filter(_.isFinite).sorted == Seq(2.0, 5.0))
    assert(m.count(_.isPosInfinity) == 1)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.tailSupported(100, 0.9))
    assert(!Stats.tailSupported(99, 0.9))
    assert(!Stats.tailSupported(999, 0.99))
    assert(Stats.tailSupported(1000, 0.99))
    assert(Stats.samplesBeyond(200, 0.95) == 10)
    assert(!Stats.tailSupported(0, 0.5))
  }

  test("interval union counts overlapping jobs once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 12L))) == 22L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("time between jobs is the execute window minus the job union") {
    val window = (0L, 100L)
    // two overlapping jobs, one job sticking out of the window
    val jobs = Seq((10L, 40L), (30L, 50L), (90L, 120L))
    assert(Stats.coveredWithin(window, jobs) == 50L)
    assert(Stats.uncoveredWithin(window, jobs) == 50L)
    assert(Stats.uncoveredWithin(window, Nil) == 100L)
    assert(Stats.uncoveredWithin(window, Seq((-5L, 200L))) == 0L)
  }

  test("span self time subtracts only direct children") {
    val op = Span(1, 0, "op", 0, 100)
    val build = Span(2, 1, "build", 0, 30)
    val exec = Span(3, 1, "execute", 30, 100)
    val job1 = Span(4, 3, "job", 40, 60)
    val job2 = Span(5, 3, "job", 50, 80)
    val all = Seq(op, build, exec, job1, job2)
    assert(Stats.selfTime(op, all) == 0L)
    assert(Stats.selfTime(exec, all) == 30L)
    assert(Stats.selfTime(build, all) == 30L)
    assert(Stats.selfTime(job1, all) == 20L)
  }

  test("one seed gives byte-identical LP bodies and op sequences") {
    def bodies(seed: Long) = (0 until ServerLoad.Dbs).flatMap { db =>
      val series = ServerLoad.series(seed, db)
      ServerLoad.initialBatches(seed, db).map(ServerLoad.rfLp(series, _)) ++
        Seq(ServerLoad.tvLp(ServerLoad.tvRows(seed, db))) ++
        (0 until 5).map(n => ServerLoad.rfLp(series, ServerLoad.writeBatch(seed, db, n)))
    }.map(ServerLoad.body)
    def ops(seed: Long) = for (c <- -1 until 4; p <- 0 until 3)
      yield ServerLoad.pass(seed, c, p, c)
    val a = bodies(7); val b = bodies(7)
    assert(a.size == b.size && a.zip(b).forall { case (x, y) => x.sameElements(y) })
    assert(ops(7) == ops(7))
    assert(ops(7) != ops(8))
    assert(!bodies(7).zip(bodies(8)).forall { case (x, y) => x.sameElements(y) })
  }

  test("an op pass is 20 % writes and an even split of the reads") {
    val pass = ServerLoad.pass(1, 0, 0, 0)
    val byKind = pass.groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(pass.size == 35 && byKind("write") == 7)
    assert((byKind - "write").values.toSet == Set(4) && byKind.size == 8)
    assert(pass.forall(_.db == 0))
    assert(ServerLoad.pass(1, -1, 0, -1).map(_.db).toSet == (0 until ServerLoad.Dbs).toSet)
  }

  test("the batch order rotation is seeded") {
    val xs = (1 to 10).toVector
    assert(Workloads.rotate(xs, 3, 1) == Workloads.rotate(xs, 3, 1))
    assert(Workloads.rotate(xs, 3, 1).sorted == xs)
    assert((0 until 5).map(Workloads.rotate(xs, 3, _)).distinct.size > 1)
  }
}
