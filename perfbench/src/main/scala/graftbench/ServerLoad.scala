package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** The seeded inputs of `server-mixed`: line protocol for four databases
  * and the op sequences the clients run. Everything here is a pure
  * function of the seed, so one seed gives byte-identical LP bodies and op
  * sequences.
  *
  * Data shape follows the reference's storage-RPC fixtures: measurement
  * `rf` has tags t0..t4 with cardinalities 2/10/10/50/100 and one float
  * field (the `read_filter` fixture), measurement `tv` has tags a/b/c with
  * cardinalities 10/100/1000 (the `tag_values` fixture). Field values are
  * multiples of 1/4, so sums are exact in any order and reads are checked
  * for equality. */
object ServerLoad {
  val Dbs = 4
  val Series = 200
  val InitialSteps = 10
  val TvRows = 1000
  val BaseNs = 1600000000000000000L
  val StepNs = 10000000000L
  val WindowNs = 60000000000L
  val RfCards: Seq[Int] = Seq(2, 10, 10, 50, 100)
  val TvCards: Seq[Int] = Seq(10, 100, 1000)
  val TvKeys: Seq[String] = Seq("a", "b", "c")
  /** New series points and re-written old keys in one run-time write. */
  val WritePoints = 20
  val WriteRepeats = 5

  val ReadKinds: Seq[String] = Seq("sql", "influxql", "read_filter", "read_group",
    "read_window_aggregate", "tag_values", "do_get")

  /** Ops in one pass: 7 writes and 4 of each of the 7 reads (20 % / 80 %). */
  val PassOps = 35

  final case class Op(kind: String, db: Int, arg: Int)

  private def rng(parts: Long*): scala.util.Random =
    new scala.util.Random(parts.foldLeft(0x9e3779b97f4a7c15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xbf58476d1ce4e5b9L), 27) * 0x94d049bb133111ebL))

  /** Pass `pass` of a client's closed-loop op sequence. Every fifth op is a
    * write and the reads cycle through the read kinds from a seeded
    * offset, so any stretch of the sequence has the same mix; the seed also
    * picks each op's arguments. `db` < 0 spreads the ops over all
    * databases (the one-client phase). */
  def pass(seed: Long, client: Int, pass: Int, db: Int): Seq[Op] = {
    val off = rng(seed, 10, client).nextInt(ReadKinds.size)
    val r = rng(seed, 11, client, pass)
    (0 until PassOps).map { i =>
      val kind = if (i % 5 == 4) "write"
        else ReadKinds((off + pass * 28 + i - i / 5) % ReadKinds.size)
      Op(kind, if (db >= 0) db else (pass * PassOps + i) % Dbs, r.nextInt(1 << 20))
    }
  }

  /** Tag-value indices of the `rf` series of one database. */
  def series(seed: Long, db: Int): IndexedSeq[IndexedSeq[Int]] = {
    val r = rng(seed, 21, db)
    val seen = mutable.LinkedHashSet.empty[IndexedSeq[Int]]
    while (seen.size < Series) seen += RfCards.map(r.nextInt).toIndexedSeq
    seen.toIndexedSeq
  }

  /** `tv` rows: tag-value indices for a, b and c. */
  def tvRows(seed: Long, db: Int): IndexedSeq[IndexedSeq[Int]] = {
    val r = rng(seed, 22, db)
    IndexedSeq.fill(TvRows)(TvCards.map(r.nextInt).toIndexedSeq)
  }

  /** (series, step, value) points of an `rf` write. */
  type Points = Seq[(Int, Int, Double)]

  private def value(r: scala.util.Random): Double = r.nextInt(4000) / 4.0

  /** The initial load of one database, as write batches: steps split into
    * three batches, then a fourth that rewrites keys of the first with new
    * values, so reads have duplicates to resolve. */
  def initialBatches(seed: Long, db: Int): Seq[Points] = {
    val r = rng(seed, 23, db)
    val all = for (step <- 0 until InitialSteps; s <- 0 until Series)
      yield (s, step, value(r))
    val (b1, rest) = all.partition(_._2 < 4)
    val (b2, b3) = rest.partition(_._2 < 7)
    val again = b1.filter(_._1 % 2 == 0).map { case (s, st, _) => (s, st, value(r)) }
    Seq(b1, b2, b3, again)
  }

  /** The `n`-th write made to `db` during the run: new points for
    * [[WritePoints]] series at a fresh step, and [[WriteRepeats]] rewrites
    * of initial keys. */
  def writeBatch(seed: Long, db: Int, n: Int): Points = {
    val r = rng(seed, 24, db, n)
    val step = InitialSteps + n
    val fresh = r.shuffle((0 until Series).toVector).take(WritePoints)
      .map(s => (s, step, value(r)))
    val repeats = r.shuffle((0 until Series).toVector).take(WriteRepeats)
      .map(s => (s, r.nextInt(InitialSteps), value(r)))
    fresh ++ repeats
  }

  def timeNs(step: Int): Long = BaseNs + step * StepNs

  def rfLp(series: IndexedSeq[IndexedSeq[Int]], points: Points): String =
    points.map { case (s, step, v) =>
      val tags = series(s).zipWithIndex.map { case (t, i) => s"t$i=v$t" }.mkString(",")
      s"rf,$tags f=$v ${timeNs(step)}"
    }.mkString("\n")

  def tvLp(rows: IndexedSeq[IndexedSeq[Int]]): String =
    rows.zipWithIndex.map { case (row, i) =>
      val tags = row.zipWithIndex.map { case (t, k) => s"${TvKeys(k)}=v$t" }.mkString(",")
      s"tv,$tags v=${i % 100}.5 ${BaseNs + i}"
    }.mkString("\n")

  /** What the generator has written to one database; reads are checked
    * against it. Each database has one writer at a time. */
  final class Model(val seed: Long, val db: Int) {
    val series: IndexedSeq[IndexedSeq[Int]] = ServerLoad.series(seed, db)
    val tv: IndexedSeq[IndexedSeq[Int]] = tvRows(seed, db)
    val rf = mutable.HashMap.empty[(Int, Int), Double]
    var writes = 0
    val bodies = mutable.ArrayBuffer.empty[Array[Byte]]

    def apply(points: Points): Unit = points.foreach { case (s, st, v) => rf((s, st)) = v }

    /** Rows of `rf` whose tag `tag` has value index `v`. */
    def rows(tag: Int, v: Int): Iterable[((Int, Int), Double)] =
      rf.filter { case ((s, _), _) => series(s)(tag) == v }

    def tagValues(key: Int): Set[String] = tv.map(r => s"v${r(key)}").toSet
  }

  def body(s: String): Array[Byte] = s.getBytes(UTF_8)
}
