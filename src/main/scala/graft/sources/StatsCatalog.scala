package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{IoxSchema, NsTime, RpcPredicate, Utf8Order}

/** Table-level statistics: the engine's chunk metadata.
  *
  * The reference answers tag_keys / tag_values / table_names from chunk
  * metadata whenever the predicate allows, only falling back to data scans
  * (influxrpc.rs:198-214, 269-292, 396-420); its chunks carry per-column
  * summaries (partition_metadata.rs TableSummary/ColumnSummary). A
  * [[TableStats]] is that summary: row count, time range, and per-tag
  * distinct values (capped: a tag above the cap is marked and excluded
  * from metadata-only answering). Two places keep one:
  *  - compaction writes it as a sidecar (`_graft_stats/` JSON, one row)
  *    next to the parquet data, whose footers give min/max but not
  *    distinct tag sets ([[compute]], [[computeDuringWrite]]);
  *  - every server chunk carries one on its record, built at append from
  *    the batch's rows on the driver with no job ([[ofRows]]), and the
  *    server's metadata RPCs answer from the union of their chunks'
  *    summaries when [[covers]] holds (`graft.server.ChunkSummaries`).
  *
  * At 100 TB this is the difference between O(1) metadata queries and a
  * full scan per cardinality lookup — the reference treats that as a
  * first-class design point and so does this engine. Every metadata
  * answer here is in UTF-8 byte order ([[Utf8Order]]), like a scan's.
  */
object StatsCatalog {

  /** `_`-prefixed so Spark's file index skips it on data scans (same
    * convention as _SUCCESS / _metadata). */
  val StatsFile = "_graft_stats.json"

  /** The distinct values a summary keeps per tag by default; a tag with
    * more is capped. */
  val MaxTagValues = 10000

  private lazy val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  /** Per-column summary (reference ColumnSummary,
    * data_types/src/partition_metadata.rs): non-null count plus min/max
    * rendered as strings (min_as_str/max_as_str — what system.chunk_columns
    * serves). None min/max = all-null or a non-orderable type. */
  case class ColumnStat(count: Long,
      min: Option[String] = None, max: Option[String] = None)

  case class TableStats(
      rowCount: Long,
      timeMin: Long,
      timeMax: Long,
      tagValues: Map[String, Seq[String]],
      cappedTags: Seq[String],
      /** The chunk's recorded sort order (reference SortKey,
        * internal_types/src/schema/sort.rs:89-146): Some(cols) means the
        * data was written dedup-sorted on exactly these columns, so a
        * scan whose dedup key equals it can treat the chunk as self-clean
        * from metadata alone. None = unknown (pre-SortKey sidecars /
        * unsorted open chunks). */
      sortKey: Option[Seq[String]] = None,
      /** Per-column stats for every chunk column (system.chunk_columns
        * source); empty for pre-upgrade sidecars. */
      columnStats: Map[String, ColumnStat] = Map.empty)

  /** Count, time bounds, per-tag distinct sets (sorted, capped at `cap+1`
    * to detect overflow). Two bounded-memory passes: pass 1 estimates each
    * tag's cardinality with HyperLogLog++ (constant-size buffers); only
    * tags plausibly under the cap get a `collect_set` in pass 2 —
    * `collect_set` materializes the FULL distinct set in its aggregation
    * buffer before any slice, so a 10⁹-cardinality tag would otherwise OOM
    * an executor at exactly the scale the cap exists to flag. The 2×
    * margin covers HLL underestimation (rsd 5%); tags that squeak past the
    * estimate still get an exact capped/not-capped verdict from the
    * `cap+1`-sliced set, with buffer memory bounded by ~2×cap values.
    * Stats run at compaction time, so the extra scan is off the query path.
    * `tagCols` defaults to the schema's category metadata; pass explicitly
    * for frames that lost metadata in a parquet round-trip. */
  def compute(df: DataFrame, tagCols: Seq[String] = Nil, cap: Int = MaxTagValues,
      sortKey: Option[Seq[String]] = None): TableStats = {
    val tags = if (tagCols.nonEmpty) tagCols else IoxSchema.tagColumns(df.schema)
    val aggs = scalarAggs(df.schema, tags)
    val pre = df.agg(aggs.head, aggs.tail: _*).head()
    val m = pre.schema.fieldNames.iterator.zip(pre.toSeq.iterator).toMap
    finish(df, df.schema, tags, cap, sortKey, m)
  }

  /** Stats of a batch held as rows on the driver, in one pass and with no
    * job: row count, time bounds and per-tag distinct non-null values,
    * capped like [[compute]]'s (a tag with more than [[MaxTagValues]]
    * distinct values is marked capped and keeps none). None when the rows
    * have no i64 `time` column or a null time, which a range predicate
    * could not be checked against. Tags are `schema`'s tag-category
    * columns. */
  def ofRows(schema: org.apache.spark.sql.types.StructType,
      rows: Iterable[org.apache.spark.sql.Row]): Option[TableStats] = {
    val timeIdx = Some(schema.fieldNames.indexOf(NsTime.TimeColumn))
      .filter(i => i >= 0 && schema(i).dataType == org.apache.spark.sql.types.LongType)
    timeIdx.flatMap { ti =>
      val tags = IoxSchema.tagColumns(schema)
      val tagIdx = tags.map(schema.fieldIndex).toArray
      val seen = Array.fill(tags.size)(scala.collection.mutable.HashSet.empty[String])
      var n = 0L
      var tMin = Long.MaxValue
      var tMax = Long.MinValue
      var timed = true
      val it = rows.iterator
      while (timed && it.hasNext) {
        val r = it.next()
        if (r.isNullAt(ti)) timed = false
        else {
          val t = r.getLong(ti)
          n += 1
          tMin = math.min(tMin, t)
          tMax = math.max(tMax, t)
          var i = 0
          while (i < tagIdx.length) {
            if (!r.isNullAt(tagIdx(i)) && seen(i).size <= MaxTagValues)
              seen(i) += r.getString(tagIdx(i))
            i += 1
          }
        }
      }
      Option.when(timed)(TableStats(
        rowCount = n,
        timeMin = if (n == 0) 0L else tMin,
        timeMax = if (n == 0) 0L else tMax,
        tagValues = tags.indices.map(i => tags(i) ->
          (if (seen(i).size > MaxTagValues) Nil else Utf8Order.sorted(seen(i)))).toMap,
        cappedTags = tags.indices.collect { case i if seen(i).size > MaxTagValues => tags(i) }
          .sorted))
    }
  }

  /** Stats computed in the SAME job as a write: the scalar pass (row
    * count, time bounds, per-tag HLL cardinality estimates) rides the
    * write action itself via `Dataset.observe` (CollectMetrics is a
    * pass-through node — the written data is unchanged and the metrics
    * cost one aggregation buffer per partition, no extra scan). Only the
    * capped distinct-set pass touches storage again, and `written` is
    * aggregated directly so Catalyst prunes it to the under-cap tag
    * columns. Compaction read amplification drops from 2 full re-reads of
    * what was just written to at most one tag-columns-only read.
    *
    * `write` receives the observed frame and MUST run exactly one action
    * on it (the parquet write); `written` re-reads the written output. */
  /** `tagSets = false` skips the tag distinct-value sets entirely (no HLL
    * estimates, no collect_set re-read) — right for TRANSIENT chunks
    * (open hot chunks) whose sidecars no metadata fast path ever reads;
    * the scalar stats (row count, time bounds, per-column count/min/max)
    * still ride the write for free. */
  def computeDuringWrite(df: DataFrame, tagCols: Seq[String] = Nil, cap: Int = MaxTagValues,
      sortKey: Option[Seq[String]] = None, tagSets: Boolean = true)(
      write: DataFrame => Unit, written: => DataFrame): TableStats = {
    val tags =
      if (!tagSets) Nil
      else if (tagCols.nonEmpty) tagCols else IoxSchema.tagColumns(df.schema)
    val obs = org.apache.spark.sql.Observation()
    val aggs = scalarAggs(df.schema, tags)
    write(df.observe(obs, aggs.head, aggs.tail: _*))
    finish(written, df.schema, tags, cap, sortKey, obs.get)
  }

  /** Batched scalar stats: ONE aggregation job computing a TableStats per
    * distinct value of `keyCol` (no tag distinct sets — the batch path
    * lands transient open chunks, whose sidecars no metadata fast path
    * reads). The batch-ingest write lands n chunks in one write job + one
    * stats job instead of 2n driver-scheduled jobs — at 10³ chunks the
    * serial per-chunk path is job-launch-bound (r14 measurement,
    * ~0.5-1.5 s/chunk). Result keys are `keyCol`'s values (chunk ids). */
  def computeGrouped(df: DataFrame, keyCol: String): Map[Long, TableStats] = {
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(_.name == keyCol))
    val aggs = scalarAggs(schema, Nil)
    val rows = df.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*).collect()
    rows.map { row =>
      val m = row.schema.fieldNames.iterator.zip(row.toSeq.iterator).toMap
      val key = m(keyCol) match {
        case l: Long => l
        case i: Int => i.toLong
        case other => other.toString.toLong
      }
      key -> finish(
        sys.error("computeGrouped never runs a distinct-set pass"),
        schema, Nil, MaxTagValues, None, m - keyCol)
    }.toMap
  }

  /** Min/max only make sense (and only aggregate) for orderable atomic
    * types; binary renders uselessly and arrays/maps/structs don't
    * order for stats purposes. */
  private def orderableForStats(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType | NullType => false
      case _ => true
    }
  }

  /** One flat row of metrics: global count/time bounds, per-tag HLL
    * estimates, and per-column count/min/max (min/max rendered to string
    * AFTER aggregating natively — casting first would order numerics
    * lexicographically). Rides either a plain agg or a write via observe. */
  private def scalarAggs(schema: org.apache.spark.sql.types.StructType,
      tags: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    val time = col(NsTime.TimeColumn)
    Seq(count(lit(1)).as("__n"), min(time).as("__tmin"), max(time).as("__tmax")) ++
      tags.map(t => approx_count_distinct(column(t), 0.05).as(s"__est_$t")) ++
      schema.fields.flatMap { f =>
        val base = Seq(count(column(f.name)).as(s"__cnt_${f.name}"))
        if (orderableForStats(f.dataType))
          base ++ Seq(min(column(f.name)).cast("string").as(s"__cmin_${f.name}"),
            max(column(f.name)).cast("string").as(s"__cmax_${f.name}"))
        else base
      }
  }

  /** The column named `name`, quoted: a tag or field name may hold a dot,
    * which `col` would read as a nested-field path. */
  private def column(name: String): org.apache.spark.sql.Column =
    col(s"`${name.replace("`", "``")}`")

  /** Shared tail of both compute paths: run the capped `collect_set` pass
    * over `src` for tags whose HLL estimate is plausibly under the cap,
    * then assemble the TableStats from the metric row `m`. */
  private def finish(src: => DataFrame, schema: org.apache.spark.sql.types.StructType,
      tags: Seq[String], cap: Int, sortKey: Option[Seq[String]],
      m: Map[String, Any]): TableStats = {
    val est = (t: String) => m(s"__est_$t").asInstanceOf[Long]
    val (collectable, overCap) = tags.partition(t => est(t) <= 2L * cap)
    val tagVals: Map[String, Seq[String]] =
      if (collectable.isEmpty) Map.empty
      else {
        val aggs = collectable.map(t =>
          slice(sort_array(collect_set(column(t))), 1, cap + 1).as(s"__tag_$t"))
        val row = src.agg(aggs.head, aggs.tail: _*).head()
        collectable.map(t => t -> row.getSeq[String](row.fieldIndex(s"__tag_$t"))).toMap
      }
    TableStats(
      rowCount = m("__n").asInstanceOf[Long],
      timeMin = Option(m("__tmin")).fold(0L)(_.asInstanceOf[Long]),
      timeMax = Option(m("__tmax")).fold(0L)(_.asInstanceOf[Long]),
      tagValues = tagVals.map { case (t, vs) => t -> vs.take(cap) } ++
        overCap.map(t => t -> Seq.empty[String]),
      cappedTags = (tagVals.collect { case (t, vs) if vs.size > cap => t } ++
        overCap).toSeq.sorted,
      sortKey = sortKey,
      columnStats = schema.fields.map { f =>
        f.name -> ColumnStat(
          count = m(s"__cnt_${f.name}").asInstanceOf[Long],
          min = m.get(s"__cmin_${f.name}").flatMap(Option(_)).map(_.toString),
          max = m.get(s"__cmax_${f.name}").flatMap(Option(_)).map(_.toString))
      }.toMap)
  }

  /** Sidecar IO goes through the Hadoop FileSystem API, so it works on
    * any object store the table lives on (s3a/gs/abfss/file), exactly
    * like the reference's metadata in object storage. Stats are tiny
    * driver-side metadata — no Spark job involved. */
  def save(spark: SparkSession, tablePath: String, stats: TableStats): Unit = {
    val path = new org.apache.hadoop.fs.Path(tablePath, StatsFile)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(path, true)
    try out.write(mapper.writeValueAsString(stats).getBytes("UTF-8"))
    finally out.close()
  }

  def load(spark: SparkSession, tablePath: String): Option[TableStats] =
    try load(new org.apache.hadoop.fs.Path(tablePath, StatsFile)
        .getFileSystem(spark.sessionState.newHadoopConf()), tablePath)
    catch { case _: Exception => None }

  /** FileSystem-supplied variant: `newHadoopConf()` clones the whole
    * session conf (~1 ms CPU, lock-heavy) — at 10⁴ chunks a per-chunk
    * conf build dominates the metadata listing, so bulk callers
    * (ChunkedTable) construct ONE FileSystem and pass it here. */
  def load(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String): Option[TableStats] = {
    val path = new org.apache.hadoop.fs.Path(tablePath, StatsFile)
    try {
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(path).getLen.toInt)
          in.readFully(bytes)
          Some(mapper.readValue(new String(bytes, "UTF-8"), classOf[TableStats]))
        } finally in.close()
      }
    } catch { case _: Exception => None }
  }

  /** Can `pred` be answered from metadata alone? Only when it has no row
    * expressions and its time range covers the whole table (reference
    * check: influxrpc.rs:396-420 requires a metadata-answerable
    * predicate). */
  def covers(stats: TableStats, pred: RpcPredicate): Boolean =
    pred.exprs.isEmpty && pred.range.forall(r =>
      r.startNs <= stats.timeMin && r.stopNs > stats.timeMax)

  /** Time-range pruning check: false when the chunk's data time range
    * provably misses `pred.range`. DEDUP-SAFE for any chunk: the dedup
    * key includes time, so a time-disjoint chunk cannot hold another
    * chunk's PK and pruning it can never change upsert results. */
  def timeMayMatch(stats: TableStats, pred: RpcPredicate): Boolean =
    pred.range.forall(r =>
      stats.timeMax >= r.startNs && stats.timeMin < r.stopNs)

  /** Field/column statistics pruning (the reference's PruningPredicate
    * role over chunk min/max, query_tests/src/pruning.rs): false when a
    * `col OP literal` conjunct excludes the column's [min, max].
    * Conservative everywhere else: un-analyzable expressions, missing
    * column stats, all-null columns with no bounds, and ambiguous
    * literal/stat type pairings all keep the chunk. A column the chunk
    * LACKS reads as null there, so a comparison conjunct on it can never
    * be satisfied — pruned.
    *
    * NOT dedup-safe on its own: a pruned chunk could hold the LATEST
    * value for a PK that also lives in a kept chunk, and upsert dedup
    * would then resurrect the stale value. Callers must apply this only
    * to chunks whose PK range overlaps no other chunk ([[mayMatch]]'s
    * contract is the conjunction; the scan layers enforce the overlap
    * restriction). */
  def fieldsMayMatch(stats: TableStats, pred: RpcPredicate): Boolean =
    pred.exprs.forall { e =>
      org.apache.spark.sql.graft.ColumnBridge.extractComparison(e) match {
        case None => true
        case Some((colName, op, lit)) =>
          // Spark resolves columns case-insensitively by default; honor
          // exact match first, then a unique case-insensitive one
          val cs0 = stats.columnStats.get(colName).orElse {
            stats.columnStats.filter(_._1.equalsIgnoreCase(colName)) match {
              case one if one.size == 1 => Some(one.head._2)
              case _ => None
            }
          }
          cs0 match {
            case None =>
              // stats exist but this column is absent from the chunk:
              // its values are all null, which no comparison satisfies
              stats.columnStats.isEmpty ||
                stats.columnStats.keys.exists(_.equalsIgnoreCase(colName))
            case Some(cs) =>
              (cs.min, cs.max) match {
                case (Some(mn), Some(mx)) => intervalMaySatisfy(mn, mx, op, lit)
                case _ => cs.count > 0 || stats.columnStats.isEmpty
              }
          }
      }
    }

  /** Combined check for chunks where both prunes are safe (no PK
    * overlap with any other chunk). */
  def mayMatch(stats: TableStats, pred: RpcPredicate): Boolean =
    timeMayMatch(stats, pred) && fieldsMayMatch(stats, pred)

  /** Can any value in [min, max] satisfy `value OP lit`? Values compare
    * as exact BigDecimals whenever both the rendered stats and the
    * literal parse numerically (exact at any long magnitude — a Double
    * detour would mislabel ns-epoch values above 2^53); strings compare
    * lexicographically only when the STATS are non-numeric too (a
    * numeric column probed with a string literal goes through Spark's
    * cast, which this check cannot reproduce — keep the chunk). */
  private def intervalMaySatisfy(min: String, max: String, op: String,
      lit: Any): Boolean = {
    def num(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    val statBounds = (num(min), num(max))
    val litNum: Option[BigDecimal] = lit match {
      case n: Number => num(n.toString)
      case s: String => num(s)
      case _ => None
    }
    def interval[A](mn: A, mx: A, v: A)(implicit ord: Ordering[A]): Boolean = {
      import ord._
      op match {
        case "<" => mn < v
        case "<=" => mn <= v
        case ">" => mx > v
        case ">=" => mx >= v
        case "=" | "==" => mn <= v && v <= mx
        case _ => true
      }
    }
    (statBounds, litNum, lit) match {
      case ((Some(mn), Some(mx)), Some(v), _) => interval(mn, mx, v)
      case ((None, None), _, s: String) => interval(min, max, s)
      case _ => true // mixed numeric/string pairing: cannot analyze
    }
  }

  /** tag_values from the sidecar when possible; `fallback` (the scan
    * path) otherwise. */
  def tagValuesFast(spark: SparkSession, tablePath: String, tag: String,
      pred: RpcPredicate)(fallback: => DataFrame): DataFrame = {
    import spark.implicits._
    load(spark, tablePath) match {
      case Some(st) if covers(st, pred) && st.tagValues.contains(tag) &&
          !st.cappedTags.contains(tag) =>
        Utf8Order.sorted(st.tagValues(tag)).toDF("value")
      case _ => fallback
    }
  }

  /** tag_keys from the sidecar: tags with at least one distinct value.
    * Metadata-only when the predicate is coverable; `fallback` otherwise
    * (reference influxrpc.rs:269-292). */
  def tagKeysFast(spark: SparkSession, tablePath: String, pred: RpcPredicate)(
      fallback: => Seq[String]): Seq[String] =
    load(spark, tablePath) match {
      case Some(st) if covers(st, pred) =>
        Utf8Order.sorted(st.tagValues.collect { case (t, vs) if vs.nonEmpty => t } ++
          st.cappedTags)
      case _ => fallback
    }

  /** table_names from sidecars: a table qualifies if its stats exist, the
    * predicate is metadata-answerable, the row count is positive and the
    * time ranges intersect; otherwise it must be probed via `fallback`. */
  def tableNamesFast(spark: SparkSession, tables: Map[String, String],
      pred: RpcPredicate)(fallback: String => Boolean): Seq[String] =
    Utf8Order.sorted(tables.iterator.collect { case (name, path)
        if pred.tables.forall(_.contains(name)) &&
          (load(spark, path) match {
            case Some(st) if pred.exprs.isEmpty =>
              st.rowCount > 0 && pred.range.forall(r =>
                r.startNs <= st.timeMax && r.stopNs > st.timeMin)
            case _ => fallback(name)
          }) => name
    })
}
