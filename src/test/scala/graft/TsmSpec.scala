package graft

import graft.sources.Tsm
import org.apache.spark.sql.functions._

/** TSM importer against the reference repo's REAL fixture files, pinned
  * to the facts the reference's own tests assert (reader.rs:685-801,
  * mapper.rs:650-745): block/measurement counts, time range, org/bucket
  * ids, per-block value counts, and the cpu measurement's tag/field
  * columns. Those files cannot be rebuilt in this repo, so each test that reads
  * one cancels (`referenceFile`) where the reference checkout is absent.
  * The generation-shadowing, shard-directory and RPC checks also run over
  * small committed fixtures (`src/test/resources/tsm/`) that [[TsmWriter]]
  * writes. */
class TsmSpec extends SparkSpec {

  private def gunzip(path: java.nio.file.Path): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      java.nio.file.Files.newInputStream(path))
    try in.readAllBytes() finally in.close()
  }

  // the guard runs before the gunzip, so a missing file cancels the test
  private lazy val fixture =
    gunzip(referenceFile("tests/fixtures/000000000000005-000000002.tsm.gz"))

  private def mergeTsm(f: String): java.nio.file.Path =
    referenceFile(s"tests/fixtures/merge-tsm/$f")

  test("index walk reproduces the reference reader's fixture facts") {
    assert(fixture.length == 4222248) // documented file size (reader.rs:711)
    val entries = Tsm.readIndex(fixture)
    // 2,159 blocks across the index (reader.rs read_tsm_block)
    assert(entries.map(_.blocks.size).sum == 2159)
    // earliest 2020-05-27T13:16:44.546128Z, latest 2020-05-27T16:36:18.379824Z
    assert(entries.flatMap(_.blocks).map(_.minTime).min == 1590585404546128000L)
    assert(entries.flatMap(_.blocks).map(_.maxTime).max == 1590597378379824000L)
    // every block is for org 05c19117091a1000, bucket 05c19117091a1001,
    // and every series key parses
    val keys = entries.map(e => Tsm.parseKey(e.key))
    assert(keys.forall(_.orgId == "05c19117091a1000"))
    assert(keys.forall(_.bucketId == "05c19117091a1001"))
    // 121 unique measurements (mapper.rs:669)
    assert(keys.map(_.measurement).distinct.size == 121)
    // the cpu measurement's schema (mapper.rs:731-745)
    val cpu = keys.filter(_.measurement == "cpu")
    assert(cpu.flatMap(_.tags.map(_._1)).distinct.sorted == Seq("cpu", "host"))
    assert(cpu.map(_.field).distinct.sorted == Seq(
      "usage_guest", "usage_guest_nice", "usage_idle", "usage_iowait",
      "usage_irq", "usage_nice", "usage_softirq", "usage_steal",
      "usage_system", "usage_user"))
  }

  test("block decode matches the reference's per-block value counts") {
    // the two blocks decode_tsm_blocks pins (reader.rs:752-800)
    val f = Tsm.Block(1590585530000000000L, 1590590600000000000L,
      offset = 5339, size = 153, typ = 0)
    val (fts, fvals) = Tsm.decodeBlock(fixture, f)
    assert(fts.length == 507)
    assert(fvals.asInstanceOf[Array[Double]].length == 507)
    assert(fts.head >= f.minTime && fts.last <= f.maxTime)
    assert(fts.sameElements(fts.sorted))

    val i = Tsm.Block(1590585520000000000L, 1590590600000000000L,
      offset = 190770, size = 30, typ = 1)
    val (its, ivals) = Tsm.decodeBlock(fixture, i)
    assert(its.length == 509)
    assert(ivals.asInstanceOf[Array[Long]].length == 509)
    // 30 bytes holding 509 timestamps+values is the RLE container —
    // the timestamps must be a perfect arithmetic sequence
    val deltas = its.sliding(2).map(p => p(1) - p(0)).toSeq.distinct
    assert(deltas.size == 1, s"RLE timestamps not equi-spaced: $deltas")
  }

  test("every block in the fixture decodes with ts.len == values.len") {
    val entries = Tsm.readIndex(fixture)
    var points = 0L
    entries.foreach { e =>
      e.blocks.foreach { b =>
        val (ts, values) = Tsm.decodeBlock(fixture, b)
        val n = values match {
          case a: Array[Double] => a.length
          case a: Array[Long] => a.length
          case a: Array[Boolean] => a.length
          case a: Array[String] => a.length
        }
        assert(ts.length == n,
          s"ts/value length mismatch in ${new String(e.key)} block $b")
        assert(ts.nonEmpty && ts.head >= b.minTime && ts.last <= b.maxTime)
        points += n
      }
    }
    assert(points > 100000, s"suspiciously few points decoded: $points")
  }

  test("distributed readPoints + measurement ingest over a fixture dir") {
    val srcs = Seq("merge_a.tsm.gz", "merge_b.tsm.gz").map(f => f -> mergeTsm(f))
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsm")
    for ((f, src) <- srcs) java.nio.file.Files.copy(src, tmp.resolve(f))

    val pts = Tsm.readPoints(spark, tmp.toString + "/*.tsm.gz")
    // the two generations interleave: both contribute cpu and disk
    assert(pts.select("file").distinct().count() == 2)
    assert(pts.select("measurement").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("cpu", "disk"))
    val n = pts.count()
    assert(n > 0)
    val tables = Tsm.ingest(spark, tmp.toString + "/*.tsm.gz")
    assert(tables.nonEmpty)
    // every measurement frame carries a time column plus at least one
    // field; row count never exceeds the point count (the pivot only
    // merges points sharing (series, time))
    tables.foreach { case (m, df) =>
      assert(df.columns.contains("time"), s"$m missing time")
      assert(df.count() <= n)
      assert(df.count() > 0, s"$m pivoted to zero rows")
    }
    // pivot conservation: per-measurement non-null field cells must
    // equal the long-format point count for that measurement
    val longCounts = pts.groupBy("measurement").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tables.foreach { case (m, df) =>
      val tagCols = pts.filter(col("measurement") === m)
        .select(explode(map_keys(col("tags")))).distinct()
        .collect().map(_.getString(0)).toSeq
      val fields = df.columns.toSeq.diff("time" +: tagCols)
      val cells = df.select(
        fields.map(f => sum(when(col(f).isNotNull, 1L).otherwise(0L))): _*)
        .head().toSeq.map(_.asInstanceOf[Long]).sum
      assert(cells == longCounts(m),
        s"$m: pivoted $cells non-null cells vs ${longCounts(m)} points")
    }
  }

  /** The committed fixture `name` (written by [[TsmWriter]]). */
  private def committed(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(getClass.getResource(s"/tsm/$name").toURI)

  /** The same file under two generation names: every (series, time,
    * field) arrives twice; the pivot's file-arrival last-write-wins must
    * collapse them to the single-file row count. `ext` is the file
    * extension (`.tsm` or `.tsm.gz`). */
  private def checkShadowing(src: java.nio.file.Path, ext: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsm-shadow")
    val one = java.nio.file.Files.createTempDirectory("graft-tsm-one")
    java.nio.file.Files.copy(src, one.resolve(s"000000001-000000001$ext"))
    java.nio.file.Files.copy(src, tmp.resolve(s"000000001-000000001$ext"))
    java.nio.file.Files.copy(src, tmp.resolve(s"000000002-000000001$ext"))

    val single = Tsm.ingest(spark, one.toString + s"/*$ext")
    val doubled = Tsm.ingest(spark, tmp.toString + s"/*$ext")
    assert(doubled.keySet == single.keySet)
    doubled.foreach { case (m, df) =>
      assert(df.count() == single(m).count(),
        s"$m: duplicate generations changed the row count")
    }
  }

  /** Real 1.x shard trees restart generation-sequence numbering per shard
    * dir, so <root>/12/000000001-000000001.tsm and
    * <root>/13/000000001-000000001.tsm are DIFFERENT files; file identity
    * (and so the arrival rank) must key on the full path — basename
    * identity merged them. */
  private def checkShardDirectories(src: java.nio.file.Path, ext: String): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft-tsm-shards")
    for (shard <- Seq("12", "13")) {
      val d = root.resolve(shard)
      java.nio.file.Files.createDirectory(d)
      java.nio.file.Files.copy(src, d.resolve(s"000000001-000000001$ext"))
    }
    val pts = Tsm.readPoints(spark, root.toString + s"/*/*$ext")
    assert(pts.select("file").distinct().count() == 2,
      "full-path file identity collapsed same-basename files across dirs")
    // identical content in both shards: the pivot still collapses each
    // (series, time, field) to one row, by path-order last-write-wins
    val one = java.nio.file.Files.createTempDirectory("graft-tsm-shard-one")
    java.nio.file.Files.copy(src, one.resolve(s"000000001-000000001$ext"))
    val single = Tsm.ingest(spark, one.toString + s"/*$ext")
    val both = Tsm.ingest(spark, root.toString + s"/*/*$ext")
    assert(both.keySet == single.keySet)
    both.foreach { case (m, df) =>
      assert(df.count() == single(m).count(),
        s"$m: cross-directory duplicates changed the row count")
    }
  }

  test("a later generation's rewrite of the same points shadows, " +
      "never duplicates") {
    checkShadowing(mergeTsm("merge_a.tsm.gz"), ".tsm.gz")
  }

  test("same-basename files in different shard directories stay distinct") {
    checkShardDirectories(mergeTsm("merge_a.tsm.gz"), ".tsm.gz")
  }

  test("committed fixtures: TsmWriter rewrites them byte for byte, and they decode to what it wrote") {
    val written = TsmWriter.fixtures.map { case (name, series) =>
      (name, series, TsmWriter.write(series))
    }
    if (sys.env.contains("GRAFT_REGEN_GOLDEN")) written.foreach { case (name, _, bytes) =>
      java.nio.file.Files.write(java.nio.file.Paths.get("src/test/resources/tsm", name), bytes)
    }
    written.foreach { case (name, series, bytes) =>
      assert(java.nio.file.Files.readAllBytes(committed(name)).sameElements(bytes),
        s"$name differs from TsmWriter's output (GRAFT_REGEN_GOLDEN=1 rewrites it)")
      val got = Tsm.decodeFile(bytes).map { p =>
        (p.measurement, p.tags, p.field, p.time,
          Seq(p.fval, p.ival, p.uval, p.sval, p.bval).flatten.map(_.toString))
      }.toSeq.sortBy(p => (p._1, p._3, p._2.toSeq.sorted.mkString, p._4))
      val want = series.flatMap(s => s.points.map { case (t, v) =>
        (s.measurement, s.tags.toMap, s.field, t, Seq(v.toString))
      }).sortBy(p => (p._1, p._3, p._2.toSeq.sorted.mkString, p._4))
      assert(got == want, name)
    }
  }

  test("committed fixtures: a later generation's rewrite shadows, never duplicates") {
    checkShadowing(committed("000000001-000000001.tsm"), ".tsm")
    // the real second generation: its rewritten value wins, its repeated
    // points add no row
    val dir = committed("000000001-000000001.tsm").getParent.toString
    val gen1 = java.nio.file.Files.createTempDirectory("graft-tsm-gen1")
    java.nio.file.Files.copy(committed("000000001-000000001.tsm"),
      gen1.resolve("000000001-000000001.tsm"))
    val cpu = Tsm.ingest(spark, dir + "/*.tsm")("cpu")
    assert(cpu.count() == Tsm.ingest(spark, gen1.toString + "/*.tsm")("cpu").count())
    assert(cpu.count() == 12)
    val a = cpu.filter(col("host") === "a").orderBy("time")
      .select("usage_user").collect().map(_.getDouble(0)).toSeq
    assert(a == Seq(0.0, 1.5, 99.0, 4.5, 6.0, 7.5))
  }

  test("committed fixtures: same-basename files in different shard directories stay distinct") {
    checkShardDirectories(committed("000000001-000000001.tsm"), ".tsm")
  }

  test("a field whose blocks disagree on type across files fails loudly") {
    import scala.jdk.CollectionConverters._
    // mirrors the 1.x "field type conflict" write error: the old fixed
    // priority silently nulled the integer points of `usage`
    val rows = Seq(
      org.apache.spark.sql.Row("a/f1.tsm", "cpu", Map("host" -> "a"),
        "usage", 1L, Double.box(1.5), null, null, null, null),
      org.apache.spark.sql.Row("a/f2.tsm", "cpu", Map("host" -> "a"),
        "usage", 2L, null, Long.box(2L), null, null, null))
    val pts = spark.createDataFrame(rows.asJava, Tsm.pointSchema)
    val e = intercept[IllegalArgumentException](Tsm.ingestPoints(spark, pts))
    assert(e.getMessage.contains("field type conflict"))
    assert(e.getMessage.contains("usage"))
    // control: the same field NAME under different measurements may
    // carry different types — no conflict
    val ok = Seq(
      org.apache.spark.sql.Row("a/f1.tsm", "cpu", Map("host" -> "a"),
        "usage", 1L, Double.box(1.5), null, null, null, null),
      org.apache.spark.sql.Row("a/f2.tsm", "mem", Map("host" -> "a"),
        "usage", 2L, null, Long.box(2L), null, null, null))
    val tables = Tsm.ingestPoints(spark,
      spark.createDataFrame(ok.asJava, Tsm.pointSchema))
    assert(tables.keySet == Set("cpu", "mem"))
    assert(tables("cpu").count() == 1 && tables("mem").count() == 1)
  }

  test("an ingested TSM measurement drives the RPC query layer") {
    checkRpc(mergeTsm("merge_a.tsm.gz"), "merge_a.tsm.gz")
  }

  test("committed fixtures: an ingested TSM measurement drives the RPC query layer") {
    checkRpc(committed("000000001-000000001.tsm"), "000000001-000000001.tsm")
  }

  /** `src`, copied in as `name`: its `cpu` measurement, tagged, answers
    * the storage RPC metadata and grouped reads. */
  private def checkRpc(src: java.nio.file.Path, name: String): Unit = {
    import org.apache.spark.sql.types.MetadataBuilder
    import graft.core.{IoxSchema, RpcPredicate}
    import graft.operators.InfluxRpc
    val tmp = java.nio.file.Files.createTempDirectory("graft-tsm-rpc")
    java.nio.file.Files.copy(src, tmp.resolve(name))
    val cpu = Tsm.ingest(spark, tmp.toString + "/" + name)("cpu")
    def meta(cat: String) = new MetadataBuilder()
      .putString(IoxSchema.CategoryKey, cat).build()
    val pts = Tsm.readPoints(spark, tmp.toString + "/" + name)
    val tagCols = pts.filter(col("measurement") === "cpu")
      .select(explode(map_keys(col("tags")))).distinct()
      .collect().map(_.getString(0)).toSet
    val tagged = cpu.select(cpu.columns.toSeq.map { c =>
      val cat =
        if (c == "time") IoxSchema.Time
        else if (tagCols(c)) IoxSchema.Tag
        else IoxSchema.Field
      col(c).as(c, meta(cat))
    }: _*)
    // metadata ops and a grouped read over the imported frame
    assert(InfluxRpc.tagKeys(tagged, RpcPredicate()).toSet == tagCols)
    val grouped = InfluxRpc.readGroup(tagged, RpcPredicate(),
      InfluxRpc.AggKind.Count)
    assert(grouped.count() > 0)
  }
}
