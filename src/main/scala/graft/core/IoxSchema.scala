package graft.core

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Column-category model of the reference's schema system.
  *
  * The reference annotates an Arrow schema with `iox::column::type`
  * metadata (internal_types/src/schema.rs:112-114) classifying each column
  * as Tag / Field / Timestamp (schema.rs:614-632). Here the same category
  * lives in `StructField.metadata` under the key `graft.category`, and tags
  * are plain StringType (Parquet dictionary-encodes them transparently,
  * playing the role of the reference's Dictionary(Int32, Utf8) layout,
  * schema.rs:698-708).
  */
object IoxSchema {
  val CategoryKey = "graft.category"
  val Tag = "tag"
  val Field = "field"
  val Time = "time"

  def tagged(name: String, dt: DataType, category: String): StructField =
    StructField(name, dt, nullable = category != Time,
      new MetadataBuilder().putString(CategoryKey, category).build())

  def categoryOf(f: StructField): Option[String] =
    if (f.metadata.contains(CategoryKey)) Some(f.metadata.getString(CategoryKey))
    else None

  def tagColumns(schema: StructType): Seq[String] =
    schema.fields.filter(f => categoryOf(f).contains(Tag)).map(_.name).toSeq

  def fieldColumns(schema: StructType): Seq[String] =
    schema.fields.filter(f => categoryOf(f).contains(Field)).map(_.name).toSeq

  // ------------------------------------------------------------ sort key

  val SortKeyMeta = "graft.sortKey"

  /** Record a sort key on the schema (the reference's
    * `Schema::set_sort_key`, internal_types/src/schema.rs via
    * sort.rs:89-146): any ORDER and any SUBSET of the schema's columns is
    * valid — a later set REPLACES an earlier one entirely
    * (table_schema.rs test_set_sort_key_valid_{same_order,
    * different_order,subset,subset_of_fully_set}); a column the schema
    * lacks is an error (test_set_sort_key_invalid_not_exist). Stored as
    * schema-level metadata on each member field's position in the key,
    * the same information the chunk sidecars persist
    * ([[graft.sources.StatsCatalog.TableStats.sortKey]]). */
  def setSortKey(schema: StructType, sortKey: Seq[String]): StructType = {
    val missing = sortKey.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"sort key column(s) not in schema: ${missing.mkString(", ")}")
    StructType(schema.fields.map { f =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      val idx = sortKey.indexOf(f.name)
      if (idx >= 0) mb.putLong(SortKeyMeta, idx.toLong)
      else mb.remove(SortKeyMeta) // a new key REPLACES any previous one
      f.copy(metadata = mb.build())
    })
  }

  /** The recorded sort key in order, empty when none is set. */
  def sortKeyOf(schema: StructType): Seq[String] =
    schema.fields.toSeq
      .filter(_.metadata.contains(SortKeyMeta))
      .sortBy(_.metadata.getLong(SortKeyMeta))
      .map(_.name)

  /** Union two frames whose schemas may differ (chunks of one table may
    * carry different column sets over time — schema merge,
    * internal_types/src/schema/merge.rs). unionByName with
    * allowMissingColumns fills absent columns with null, which is exactly
    * the reference's merge semantics for rows lacking a column.
    *
    * unionByName DROPS StructField metadata for a column that is missing
    * on one side, which would silently declassify tags/fields in the
    * merged schema (breaking downstream primary-key and field
    * enumeration); restore each column's category from the first member
    * schema that carries one.
    */
  def mergeUnion(dfs: Seq[DataFrame]): DataFrame = {
    val merged = dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    val metaByName = dfs.iterator.flatMap(_.schema.fields)
      .filter(_.metadata.contains(CategoryKey))
      .toSeq.groupBy(_.name).map { case (n, fs) => n -> fs.head.metadata }
    merged.select(merged.schema.fields.map { f =>
      metaByName.get(f.name) match {
        case Some(m) if !f.metadata.contains(CategoryKey) => col(f.name).as(f.name, m)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Check two schemas are mergeable: same-name columns must agree on type
    * (the reference rejects tag/field or type conflicts at ingest,
    * entry/src/entry.rs:948). */
  def mergeConflicts(a: StructType, b: StructType): Seq[String] = {
    val byName = a.fields.map(f => f.name -> f).toMap
    b.fields.toSeq.flatMap { fb =>
      byName.get(fb.name) match {
        case Some(fa) if fa.dataType != fb.dataType =>
          Some(s"${fb.name}: ${fa.dataType.simpleString} vs ${fb.dataType.simpleString}")
        case _ => None
      }
    }
  }
}

/** Time range with [start, stop) semantics (reference
  * query/src/predicate.rs TimestampRange). Values are ns epoch. */
case class TimeRangeNs(startNs: Long, stopNs: Long) {
  def toColumn(time: Column): Column = time >= startNs && time < stopNs
}

/** Conjunctive predicate model of the reference's query/src/predicate.rs:53-124:
  * optional table set, field-name projection, time range, plus arbitrary
  * boolean column expressions. Converts to a single Catalyst Column so the
  * whole thing is eligible for pushdown (Catalyst splits conjunctions and
  * pushes what the source supports).
  */
case class RpcPredicate(
    tables: Option[Set[String]] = None,
    fieldColumns: Option[Seq[String]] = None,
    range: Option[TimeRangeNs] = None,
    exprs: Seq[Column] = Nil,
    /** Optional exact partition-key filter (predicate.rs:63-64): chunks
      * whose template-computed key differs are pruned before any file
      * listing or footer read. */
    partitionKey: Option[String] = None) {

  def withRange(startNs: Long, stopNs: Long): RpcPredicate =
    copy(range = Some(TimeRangeNs(startNs, stopNs)))
  def withExpr(e: Column): RpcPredicate = copy(exprs = exprs :+ e)
  def withFields(fs: String*): RpcPredicate = copy(fieldColumns = Some(fs))
  def withPartitionKey(key: String): RpcPredicate = copy(partitionKey = Some(key))

  /** InfluxRPC `=~` / `!~` regex operators (reference RegexMatch UDFs,
    * query/src/func/regex.rs:14-83). Patterns arrive in the reference's
    * Go/RE2 dialect; [[GoRegex.toJava]] repairs the two spellings Java
    * rejects (`(?P<name>`, POSIX `[:class:]`) and passes everything else
    * through, so Java-dialect patterns keep working. `!~` keeps the
    * reference's null semantics: a null tag matches neither way. */
  def withRegexMatch(column: String, pattern: String): RpcPredicate =
    copy(exprs = exprs :+ col(column).rlike(GoRegex.toJava(pattern)))
  def withRegexNotMatch(column: String, pattern: String): RpcPredicate =
    copy(exprs = exprs :+
      (col(column).isNotNull && !col(column).rlike(GoRegex.toJava(pattern))))

  /** All row-level conditions AND-ed; None when unconstrained. */
  def filterColumn(timeCol: Column): Option[Column] = {
    val parts = range.map(_.toColumn(timeCol)).toSeq ++ exprs
    parts.reduceOption(_ && _)
  }

  /** A predicate column the table does not have makes the table yield
    * NOTHING — not an error, and not null-semantics evaluation (the
    * reference planner checks predicate columns against the table schema
    * and skips the table, read_filter.rs
    * test_read_filter_data_pred_refers_to_non_existent_column). */
  def referencesOnly(columns: Seq[String]): Boolean =
    exprs.forall(e => org.apache.spark.sql.graft.ColumnBridge
      .attributeNames(e).forall(columns.contains))

  def applyTo(df: DataFrame, timeCol: String = NsTime.TimeColumn): DataFrame =
    if (!referencesOnly(df.columns.toSeq)) df.limit(0)
    else filterColumn(col(timeCol)).map(df.filter).getOrElse(df)
}
