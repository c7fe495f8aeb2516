package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.core.RpcPredicate
import graft.operators.InfluxRpc
import graft.operators.InfluxRpc.AggKind
import graft.sources.LineProtocol

class InfluxRpcSpec extends SparkSpec {

  // TwoMeasurementsManyNulls-style fixture (scenarios.rs:322): tags with
  // missing values, multiple fields, interleaved timestamps.
  lazy val tables: Map[String, org.apache.spark.sql.DataFrame] = LineProtocol.ingest(spark, Seq(
    "h2o,state=CA,city=LA temp=90.0 100",
    "h2o,state=CA,city=SF temp=79.0,humid=0.5 200",
    "h2o,state=MA,city=Boston temp=50.4 250",
    "h2o,state=MA temp=70.4 300", // city tag null
    "o2,state=WA reading=50.0 100",
    "o2,state=CA reading=51.0,temp=60.0 200"))

  lazy val h2o = tables("h2o")
  lazy val o2 = tables("o2")

  test("tableNames honors predicates and limit-1 short-circuit") {
    val all = InfluxRpc.tableNames(tables, RpcPredicate())
    assert(all == Seq("h2o", "o2"))
    val timeFiltered = InfluxRpc.tableNames(tables, RpcPredicate().withRange(260, 1000))
    assert(timeFiltered == Seq("h2o"))
    val exprFiltered = InfluxRpc.tableNames(tables, RpcPredicate().withExpr(col("state") === "WA"))
    assert(exprFiltered == Seq("o2"))
  }

  test("tagKeys: only tags with non-null values under predicate") {
    assert(InfluxRpc.tagKeys(h2o, RpcPredicate()) == Seq("city", "state"))
    // beyond t=300 the only row has city null
    assert(InfluxRpc.tagKeys(h2o, RpcPredicate().withRange(300, 1000)) == Seq("state"))
  }

  test("tagValues: distinct non-null, sorted; rejects non-tag columns") {
    import spark.implicits._
    val vals = InfluxRpc.tagValues(h2o, "city", RpcPredicate())
      .as[String].collect().toSeq
    assert(vals == Seq("Boston", "LA", "SF"))
    assertThrows[IllegalArgumentException](
      InfluxRpc.tagValues(h2o, "temp", RpcPredicate()))
  }

  test("fieldColumns: field, type, last non-null time") {
    val rows = InfluxRpc.fieldColumns(h2o, RpcPredicate()).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("humid", "temp"))
    val byName = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byName("temp") == 300L)
    assert(byName("humid") == 200L)
  }

  test("readFilter: series-sorted projection under time range") {
    val out = InfluxRpc.readFilter(h2o, RpcPredicate().withRange(100, 260)).collect()
    assert(out.length == 3)
    // sorted by (city, state, time): Boston, LA, SF
    assert(out.map(_.getAs[String]("city")).toSeq == Seq("Boston", "LA", "SF"))
    assert(out.head.getAs[Long]("time") == 250L)
  }

  test("readGroup: grouped agg with prefix reorder and time=max(time)") {
    val out = InfluxRpc.readGroup(h2o, RpcPredicate(), AggKind.Sum, Seq("state"))
      .collect()
    // groups: (CA,LA) (CA,SF) (MA,Boston) (MA,null)
    assert(out.length == 4)
    val ca = out.filter(_.getAs[String]("state") == "CA")
    assert(ca.map(_.getAs[Double]("temp")).toSet == Set(90.0, 79.0))
    // time column = max(time) per group
    assert(out.map(_.getAs[Long]("time")).max == 300L)
  }

  test("readGroup selectors: first/last pick value at min/max time") {
    val sel = LineProtocol.ingest(spark, Seq(
      "sel,host=a v=1.0 10", "sel,host=a v=2.0 20", "sel,host=a v=0.5 30",
      "sel,host=b v=9.0 10"))("sel")
    val first = InfluxRpc.readGroup(sel, RpcPredicate(), AggKind.First)
      .collect().map(r => r.getAs[String]("host") -> r.getAs[Double]("v")).toMap
    assert(first == Map("a" -> 1.0, "b" -> 9.0))
    val last = InfluxRpc.readGroup(sel, RpcPredicate(), AggKind.Last)
      .collect().map(r => r.getAs[String]("host") -> r.getAs[Double]("v")).toMap
    assert(last == Map("a" -> 0.5, "b" -> 9.0))
    // First labels the per-field time_v with min(time)
    val ft = InfluxRpc.readGroup(sel, RpcPredicate(), AggKind.First)
      .collect().map(r => r.getAs[String]("host") -> r.getAs[Long]("time_v")).toMap
    assert(ft == Map("a" -> 10L, "b" -> 10L))
  }

  test("readGroup selectors: per-field time_<field> tracks each field's row") {
    // two fields whose extremes sit on DIFFERENT rows: the reference emits
    // time_<field> per field (influxrpc.rs:1336-1403), not one shared time
    val sel = LineProtocol.ingest(spark, Seq(
      "m2,host=a x=1.0,y=9.0 10",
      "m2,host=a x=5.0,y=2.0 20",
      "m2,host=a x=3.0,y=4.0 30"))("m2")
    val mx = InfluxRpc.readGroup(sel, RpcPredicate(), AggKind.Max).collect()
    assert(mx.length == 1)
    val r = mx.head
    assert(r.getAs[Double]("x") == 5.0 && r.getAs[Long]("time_x") == 20L)
    assert(r.getAs[Double]("y") == 9.0 && r.getAs[Long]("time_y") == 10L)
    assert(!mx.head.schema.fieldNames.contains("time"))
    // non-selector aggregates keep the single max(time) column
    val sm = InfluxRpc.readGroup(sel, RpcPredicate(), AggKind.Sum).collect().head
    assert(sm.getAs[Long]("time") == 30L)
  }

  test("readWindowAggregate: stop-bound buckets") {
    val out = InfluxRpc.readWindowAggregate(h2o, RpcPredicate().withFields("temp"),
        AggKind.Count, everyNs = 100L)
      .collect()
    // buckets by stop bound: 100->200? ts=100 -> stop 200; 200->300; 250->300; 300->400
    val buckets = out.map(r => (r.getAs[String]("state"), r.getAs[Long]("time"), r.getAs[Long]("temp")))
    assert(buckets.contains(("CA", 200L, 1L)))  // LA @100
    assert(buckets.contains(("MA", 400L, 1L)))  // null-city @300
  }

  test("toSeriesSet groups points per series") {
    val series = InfluxRpc.toSeriesSet(
      InfluxRpc.readFilter(h2o, RpcPredicate()), Seq("temp")).collect()
    // 4 distinct tag combinations
    assert(series.length == 4)
    val la = series.find(_.tags.get("city").contains("LA")).get
    assert(la.field == "temp" && la.points.map(_.value) == Seq(90.0))
  }

  /** One hot series (host=hot, 5k points shuffled across 8 partitions)
    * next to a small one. */
  private lazy val skewed: DataFrame = {
    val rows = scala.util.Random.shuffle(
      (1 to 5000).map(i => ("hot", i.toLong, i.toDouble)) ++
        (1 to 3).map(i => ("cold", i.toLong * 10, -i.toDouble)))
    val df0 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8)).toDF("host", "time", "v")
    spark.createDataFrame(df0.rdd, // re-tag schema as tag/time/field
      org.apache.spark.sql.types.StructType(Seq(
        graft.core.IoxSchema.tagged("host", org.apache.spark.sql.types.StringType, graft.core.IoxSchema.Tag),
        graft.core.IoxSchema.tagged("time", org.apache.spark.sql.types.LongType, graft.core.IoxSchema.Time),
        graft.core.IoxSchema.tagged("v", org.apache.spark.sql.types.DoubleType, graft.core.IoxSchema.Field))))
  }

  /** Raw regrouped rows: region=hot holds a heavily skewed raw series
    * (4k points across two hosts) next to a tiny group. */
  private lazy val rawRegions: DataFrame = {
    import spark.implicits._
    val rows = (1 to 4000).map(i => ("hot", s"h${i % 2}", i.toLong, i.toDouble)) ++
      Seq(("cold", "h9", 1L, 9.0))
    spark.createDataFrame(
      rows.toDF("region", "host", "time", "v").rdd,
      org.apache.spark.sql.types.StructType(Seq(
        graft.core.IoxSchema.tagged("region", org.apache.spark.sql.types.StringType, graft.core.IoxSchema.Tag),
        graft.core.IoxSchema.tagged("host", org.apache.spark.sql.types.StringType, graft.core.IoxSchema.Tag),
        graft.core.IoxSchema.tagged("time", org.apache.spark.sql.types.LongType, graft.core.IoxSchema.Time),
        graft.core.IoxSchema.tagged("v", org.apache.spark.sql.types.DoubleType, graft.core.IoxSchema.Field))))
  }

  test("toSeriesSet: skewed series assemble sorted without group buffering") {
    // points must come back time-sorted and complete
    val series = InfluxRpc.toSeriesSet(skewed, Seq("v")).collect()
    assert(series.length == 2)
    val hot = series.find(_.tags.get("host").contains("hot")).get
    assert(hot.points.length == 5000)
    assert(hot.points.map(_.time) == (1 to 5000).map(_.toLong))
    val cold = series.find(_.tags.get("host").contains("cold")).get
    assert(cold.points.map(_.value) == Seq(-1.0, -2.0, -3.0))
  }

  test("regex predicates: =~ matches, !~ excludes nulls (regex.rs semantics)") {
    import spark.implicits._
    val cities = InfluxRpc.readFilter(h2o,
        RpcPredicate().withRegexMatch("city", "^(LA|SF)$"))
      .select("city").as[String].collect().toSet
    assert(cities == Set("LA", "SF"))
    // !~ : the null-city row matches NEITHER =~ nor !~
    val notMatch = InfluxRpc.readFilter(h2o,
        RpcPredicate().withRegexNotMatch("city", "^(LA|SF)$"))
      .select("city").as[String].collect().toSet
    assert(notMatch == Set("Boston"))
  }

  test("seriesCardinality: exact and HLL estimate agree at small scale") {
    val exact = InfluxRpc.seriesCardinality(h2o, RpcPredicate())
    assert(exact == 4) // (CA,LA) (CA,SF) (MA,Boston) (MA,null)
    val est = InfluxRpc.seriesCardinality(h2o, RpcPredicate(), exact = false)
    assert(est == 4) // HLL is exact at tiny cardinality
    assert(InfluxRpc.seriesCardinality(h2o,
      RpcPredicate().withRange(0, 150)) == 1)
  }

  test("toFrames emits series + points frame pairs with synthetic keys") {
    val frames = InfluxRpc.toFrames(
      InfluxRpc.toSeriesSet(InfluxRpc.readFilter(h2o, RpcPredicate()), Seq("temp")),
      "h2o").collect()
    val seriesFrames = frames.filter(_.frameType == "series")
    assert(seriesFrames.length == 4)
    assert(frames.length == 8) // one points frame per series frame
    val la = seriesFrames.find(_.tags.get("city").contains("LA")).get
    assert(la.tags("_measurement") == "h2o" && la.tags("_field") == "temp")
  }

  test("toGroupedFrames: group -> series -> points order per group (data.rs:75-121)") {
    val series = InfluxRpc.toSeriesSet(
      InfluxRpc.readFilter(h2o, RpcPredicate()), Seq("temp"))
    val frames = InfluxRpc.toGroupedFrames(series, "h2o", Seq("state")).collect()
    // two groups (CA, MA): each leads with ONE group frame, then its
    // member series' series/points pairs
    val byGroup = frames.foldLeft(Vector.empty[Vector[InfluxRpc.Frame]]) {
      case (acc, f) if f.frameType == "group" => acc :+ Vector(f)
      case (acc, f) => acc.init :+ (acc.last :+ f)
    }
    assert(byGroup.size == 2)
    // cross-partition group order is hash-placement-dependent; the wire
    // contract is per-group frame order, which is what we pin below
    assert(byGroup.map(_.head.partitionKeyVals).toSet == Set(Seq("CA"), Seq("MA")))
    val ca = byGroup.find(_.head.partitionKeyVals == Seq("CA")).get
    assert(ca.head.tagKeys == Seq("city", "state")) // union of group tag keys
    assert(ca.tail.map(_.frameType) == Vector("series", "points", "series", "points"))
    assert(ca.tail.collect { case f if f.frameType == "series" => f.tags("city") }
      == Vector("LA", "SF"))
    val ma = byGroup.find(_.head.partitionKeyVals == Seq("MA")).get
    // null city tag: series key omits it; Boston + the city-less series
    assert(ma.tail.count(_.frameType == "series") == 2)
  }

  test("toGroupedFramesStreaming: None-agg raw groups, skewed, identical frames") {
    // a None-agg grouped read = raw series regrouped: the skewed group is
    // the shape that must NOT buffer per group on the streaming path.
    // AggKind.None regroup: raw rows, group-key column prefix
    val raw = InfluxRpc.readGroup(rawRegions, RpcPredicate(), InfluxRpc.AggKind.None,
      groupCols = Seq("region"))
    val series = InfluxRpc.toSeriesSet(raw, Seq("v"))

    def perGroup(frames: Seq[InfluxRpc.Frame]) =
      frames.foldLeft(Vector.empty[Vector[InfluxRpc.Frame]]) {
        case (acc, f) if f.frameType == "group" => acc :+ Vector(f)
        case (acc, f) => acc.init :+ (acc.last :+ f)
      }.map(g => g.head.partitionKeyVals -> g).toMap

    val streamed = perGroup(
      InfluxRpc.toGroupedFramesStreaming(series, "m", Seq("region")).collect().toSeq)
    val buffered = perGroup(
      InfluxRpc.toGroupedFrames(series, "m", Seq("region")).collect().toSeq)
    // identical groups, identical per-group frame sequences
    assert(streamed.keySet == Set(Seq("hot"), Seq("cold")))
    assert(streamed == buffered)
    // the skewed group carries its full raw points through the stream
    val hot = streamed(Seq("hot"))
    assert(hot.head.tagKeys == Seq("host", "region"))
    assert(hot.count(_.frameType == "series") == 2)
    assert(hot.filter(_.frameType == "points").map(_.timestamps.size).sum == 4000)
  }

  test("toGroupedFramesStreaming executes the series pipeline ONCE (shared shuffle)") {
    import spark.implicits._
    // both passes must descend from one shuffle dependency: if pass 1
    // (tag-key unions) and pass 2 (frame emission) each re-ran the
    // upstream pipeline, this accumulator would double-count
    val df = spark.createDataFrame(
      Seq(("e", "h1", 1L, 1.0), ("e", "h2", 2L, 2.0), ("w", "h3", 3L, 3.0))
        .toDF("region", "host", "time", "v").rdd,
      org.apache.spark.sql.types.StructType(Seq(
        graft.core.IoxSchema.tagged("region", org.apache.spark.sql.types.StringType, graft.core.IoxSchema.Tag),
        graft.core.IoxSchema.tagged("host", org.apache.spark.sql.types.StringType, graft.core.IoxSchema.Tag),
        graft.core.IoxSchema.tagged("time", org.apache.spark.sql.types.LongType, graft.core.IoxSchema.Time),
        graft.core.IoxSchema.tagged("v", org.apache.spark.sql.types.DoubleType, graft.core.IoxSchema.Field))))
    val acc = spark.sparkContext.longAccumulator("series-pipeline-rows")
    val series = InfluxRpc.toSeriesSet(df, Seq("v")).map { s => acc.add(1L); s }
    val frames = InfluxRpc
      .toGroupedFramesStreaming(series, "m", Seq("region")).collect()
    assert(frames.count(_.frameType == "group") == 2)
    assert(frames.count(_.frameType == "series") == 3)
    assert(acc.value == 3L,
      s"series pipeline produced ${acc.value} rows for 3 series — must run once")
  }

  test("series-set converters: a one-partition input plans no exchange and emits the 8-partition frames") {
    object plans extends AdaptiveSparkPlanHelper
    def shuffles(ds: Dataset[_]): Int =
      plans.collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
    // each converter with its shuffles over 8 partitions: the round-robin
    // spread, then one hash shuffle on the key per converter
    val converters: Seq[(DataFrame => Dataset[InfluxRpc.Frame], Int)] = Seq(
      (df => InfluxRpc.toFrames(InfluxRpc.toSeriesSet(df, Seq("temp", "humid")), "h2o"), 2),
      (df => InfluxRpc.toGroupedFrames(InfluxRpc.toSeriesSet(df, Seq("temp")), "h2o",
        Seq("state")), 3))
    converters.foreach { case (convert, spreadShuffles) =>
      val one = convert(h2o.coalesce(1))
      val oneFrames = one.collect().toSeq
      assert(shuffles(one) == 0, one.queryExecution.executedPlan)
      val eight = convert(h2o.repartition(8))
      val eightFrames = eight.collect().toSeq
      assert(shuffles(eight) == spreadShuffles, eight.queryExecution.executedPlan)
      assert(oneFrames.nonEmpty && oneFrames == eightFrames)
    }
  }

  test("validateRpcExpr rejects LIKE / IS NULL / modulo, allows rlike") {
    InfluxRpc.validateRpcExpr(col("state") === "CA" && col("temp") > 5)
    InfluxRpc.validateRpcExpr(col("state").rlike("C.*"))
    assertThrows[IllegalArgumentException](
      InfluxRpc.validateRpcExpr(col("state").like("C%")))
    assertThrows[IllegalArgumentException](
      InfluxRpc.validateRpcExpr(col("state").isNull))
    assertThrows[IllegalArgumentException](
      InfluxRpc.validateRpcExpr(col("temp") % 2 === 0))
  }

  // ------------------------------------------------------------------
  // The driver-side stream (SeriesPlan) against the distributed form: on
  // one-partition input both emit the same frames in the same order.

  private object plans extends AdaptiveSparkPlanHelper

  /** `stream`'s frames equal `dataset`'s, in order, and `stream` plans no
    * typed operator (no object serializer: the rows go out untyped). */
  private def assertSameFrames(stream: InfluxRpc.SeriesPlan,
      dataset: Dataset[InfluxRpc.Frame]): Seq[InfluxRpc.Frame] = {
    val got = stream.frames().toSeq
    val want = dataset.collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
    val plan = stream.rows.queryExecution.executedPlan
    assert(plans.collect(plan) {
      case o: org.apache.spark.sql.execution.SerializeFromObjectExec => o }.isEmpty, plan)
    got
  }

  /** The library's typed read_group pipeline: selectors give one series
    * per field at that field's own `time_<field>`, over the rows where the
    * field was selected (a null `time_<field>` cannot decode as a point). */
  private def datasetGroupFrames(out: DataFrame, fields: Seq[String], agg: AggKind,
      groupKeys: Seq[String]): Dataset[InfluxRpc.Frame] = agg match {
    case AggKind.None => InfluxRpc.toGroupedFramesStreaming(
      InfluxRpc.toSeriesSet(out, fields), "m", groupKeys)
    case AggKind.Sum | AggKind.Count | AggKind.Mean => InfluxRpc.toGroupedFrames(
      InfluxRpc.toSeriesSet(out, fields), "m", groupKeys)
    case _ => InfluxRpc.toGroupedFrames(
      fields.map { f =>
        val ts = graft.core.IoxSchema.tagColumns(out.schema)
        InfluxRpc.toSeriesSet(
          out.where(col(f).isNotNull)
            .select(ts.map(col) :+ col(f) :+ col(s"time_$f").as("time"): _*), Seq(f))
      }.reduce(_ union _), "m", groupKeys)
  }

  test("series stream = Dataset converters: read_filter and window aggregates over the null-city h2o") {
    val one = h2o.coalesce(1)
    val fields = graft.core.IoxSchema.fieldColumns(h2o.schema) // the table's order
    val filtered = InfluxRpc.readFilter(one, RpcPredicate())
    val frames = assertSameFrames(InfluxRpc.seriesPlan(filtered, "m"),
      InfluxRpc.toFrames(InfluxRpc.toSeriesSet(filtered, fields), "m"))
    // 4 series keys; humid only on SF; the null city left out of its key
    assert(frames.count(_.frameType == "series") == 5)
    assert(frames.exists(f => f.frameType == "series" && f.tags.get("state").contains("MA") &&
      !f.tags.contains("city")))
    Seq(AggKind.Sum, AggKind.Count, AggKind.Mean, AggKind.First, AggKind.Max).foreach { agg =>
      val out = InfluxRpc.readWindowAggregate(one, RpcPredicate(), agg, everyNs = 100L)
      assertSameFrames(InfluxRpc.seriesPlan(out, "m"),
        InfluxRpc.toFrames(InfluxRpc.toSeriesSet(out, fields), "m"))
    }
    // a field restriction: only the restricted field's series
    val humid = InfluxRpc.readFilter(one, RpcPredicate().withFields("humid"))
    val humidFrames = assertSameFrames(InfluxRpc.seriesPlan(humid, "m"),
      InfluxRpc.toFrames(InfluxRpc.toSeriesSet(humid, Seq("humid")), "m"))
    assert(humidFrames.collect { case f if f.frameType == "series" => f.tags("_field") } ==
      Seq("humid"))
  }

  test("series stream = Dataset converters: the 5 000-point skewed series over 8 partitions") {
    val want = InfluxRpc.toFrames(
      InfluxRpc.toSeriesSet(InfluxRpc.readFilter(skewed.coalesce(1), RpcPredicate()), Seq("v")), "m")
    Seq(skewed, skewed.coalesce(1)).foreach { df =>
      val frames = assertSameFrames(InfluxRpc.seriesPlan(InfluxRpc.readFilter(df, RpcPredicate()), "m"), want)
      assert(frames.filter(_.frameType == "points").map(_.timestamps.size) == Seq(3, 5000))
    }
  }

  test("series stream = Dataset converters: read_group aggregates, selectors and the None regroup") {
    val sel = LineProtocol.ingest(spark, Seq(
      "m2,host=a x=1.0,y=9.0 10",
      "m2,host=a x=5.0,y=2.0 20",
      "m2,host=a x=3.0,y=4.0 30",
      "m2,host=b x=2.0 15"))("m2").coalesce(1)
    val cases: Seq[(DataFrame, Seq[String], Seq[String], Seq[AggKind])] = Seq(
      (h2o.coalesce(1), Seq("humid", "temp"), Seq("state"),
        Seq(AggKind.Sum, AggKind.Count, AggKind.Mean, AggKind.First, AggKind.Last,
          AggKind.Min, AggKind.Max, AggKind.None)),
      // a group key that is null on one series: its group value is ""
      (h2o.coalesce(1), Seq("humid", "temp"), Seq("city"),
        Seq(AggKind.Sum, AggKind.Last, AggKind.None)),
      (h2o.coalesce(1), Seq("humid", "temp"), Nil, Seq(AggKind.Count, AggKind.None)),
      (sel, Seq("x", "y"), Seq("host"),
        Seq(AggKind.First, AggKind.Last, AggKind.Min, AggKind.Max, AggKind.Mean)),
      (rawRegions.coalesce(1), Seq("v"), Seq("region"), Seq(AggKind.None, AggKind.Sum)))
    cases.foreach { case (df, fields, groupKeys, aggs) =>
      aggs.foreach { agg =>
        val out = InfluxRpc.readGroup(df, RpcPredicate(), agg, groupKeys)
        val frames = assertSameFrames(InfluxRpc.groupedSeriesPlan(out, "m", groupKeys, agg),
          datasetGroupFrames(out, fields, agg, groupKeys))
        assert(frames.head.frameType == "group", s"$agg by $groupKeys")
      }
    }
    // selectors: each field at its own selected time
    val max = InfluxRpc.groupedSeriesPlan(
      InfluxRpc.readGroup(sel, RpcPredicate(), AggKind.Max, Seq("host")), "m", Seq("host"),
      AggKind.Max).frames().toSeq
    assert(max.collect { case f if f.frameType == "points" => (f.timestamps, f.values) } ==
      Seq((Seq(20L), Seq(5.0)), (Seq(10L), Seq(9.0)), (Seq(15L), Seq(2.0))))
  }

  test("series stream = Dataset converters: calendar-month windows") {
    def ns(date: String) = java.time.Instant.parse(s"${date}T00:00:00Z").toEpochMilli * 1000000L
    val months = LineProtocol.ingest(spark, Seq(
      s"mo,host=a v=1.0 ${ns("2021-01-15")}",
      s"mo,host=a v=2.0 ${ns("2021-02-10")}",
      s"mo,host=a v=4.0 ${ns("2021-02-20")}",
      s"mo,host=b v=8.0 ${ns("2021-03-05")}"))("mo").coalesce(1)
    val out = InfluxRpc.readWindowAggregateMonths(months, RpcPredicate(), AggKind.Sum, 1)
    val frames = assertSameFrames(InfluxRpc.seriesPlan(out, "m"),
      InfluxRpc.toFrames(InfluxRpc.toSeriesSet(out, Seq("v")), "m"))
    assert(frames.collect { case f if f.frameType == "points" => f.values } ==
      Seq(Seq(1.0, 6.0), Seq(8.0)))
  }
}
