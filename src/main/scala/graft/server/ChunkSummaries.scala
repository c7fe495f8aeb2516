package graft.server

import org.apache.spark.sql.types.StructType

import graft.core.{IoxSchema, RpcPredicate, Utf8Order}
import graft.sources.StatsCatalog
import graft.sources.StatsCatalog.TableStats

/** The metadata RPCs (tag keys, tag values, measurement names) answered
  * from the summaries the facade's chunks carry: no measurement view, no
  * snapshot fold and no Spark job. The reference answers them from its
  * chunks' `TableSummary` whenever the predicate allows and plans a scan
  * otherwise (influxrpc.rs:198-214, 269-292, 396-420); so does the facade,
  * through [[select]].
  *
  * The union of a measurement's chunk summaries answers exactly what its
  * deduplicated view would: upsert dedup keeps one row per (tags, time)
  * key, so it never changes which tag sets, tag values or measurements
  * hold rows. Answers are in UTF-8 byte order ([[Utf8Order]]), like the
  * scan path's. */
private[server] object ChunkSummaries {

  /** A chunk as the answers read it: its measurement, its schema and its
    * summary. */
  final case class Summarized(measurement: String, schema: StructType,
      stats: TableStats)

  /** `chunks`, the chunks of the measurements a request selects, when the
    * request can be answered from their summaries under `pred`; None when
    * it must scan. That takes all of:
    *  - a predicate with no row expressions, field list or partition key,
    *    whose time range (if any) covers every non-empty chunk
    *    ([[StatsCatalog.covers]]);
    *  - no 1.x DELETE / DROP SERIES tombstone on a selected measurement
    *    (`tombstoned`), whose rows a summary cannot tell apart;
    *  - a summary on every chunk;
    *  - within each measurement, one type and one category for every
    *    column its chunks share, so that the scan would merge them without
    *    an error, and a column is a tag in all of them or in none. */
  def select(chunks: Seq[HttpFacade.Chunk], pred: RpcPredicate,
      tombstoned: String => Boolean): Option[Seq[Summarized]] = {
    val summarized = chunks.flatMap(c =>
      c.stats.map(Summarized(c.measurement, c.frame.schema, _)))
    Option.when(
      pred.exprs.isEmpty && pred.fieldColumns.isEmpty && pred.partitionKey.isEmpty &&
        summarized.size == chunks.size &&
        summarized.forall(s => s.stats.rowCount == 0 || StatsCatalog.covers(s.stats, pred)) &&
        !summarized.iterator.map(_.measurement).distinct.exists(tombstoned) &&
        summarized.groupBy(_.measurement).values.forall(consistent))(summarized)
  }

  private def consistent(chunks: Seq[Summarized]): Boolean =
    chunks.flatMap(_.schema.fields).groupBy(_.name).values.forall(fs =>
      fs.map(f => (f.dataType, IoxSchema.categoryOf(f))).distinct.size == 1)

  /** The values of tag `key`; None when a chunk holds `key` as a column
    * other than a tag (the scan reports that error) or has more distinct
    * values of it than its summary keeps. */
  def tagValues(selected: Seq[Summarized], key: String): Option[Seq[String]] = {
    val holding = selected.filter(_.schema.fieldNames.contains(key))
    Option.when(holding.forall(s => IoxSchema.tagColumns(s.schema).contains(key) &&
        !s.stats.cappedTags.contains(key)))(
      Utf8Order.sorted(holding.iterator.flatMap(_.stats.tagValues.getOrElse(key, Nil))))
  }

  /** The tags with at least one value: a capped tag has more than the
    * summary keeps. */
  def tagKeys(selected: Seq[Summarized]): Seq[String] =
    Utf8Order.sorted(selected.iterator.flatMap(s =>
      s.stats.tagValues.collect { case (t, vs) if vs.nonEmpty => t } ++ s.stats.cappedTags))

  /** The measurements with at least one row. */
  def measurementNames(selected: Seq[Summarized]): Seq[String] =
    Utf8Order.sorted(selected.iterator.collect {
      case s if s.stats.rowCount > 0 => s.measurement })
}
