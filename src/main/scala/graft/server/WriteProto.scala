package graft.server

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{IoxSchema, NsTime}
import StorageProtoReader.Reader

/** The protobuf WRITE path (`write_pb` service): decodes the reference's
  * columnar write request (influxdata.transfer.column.v1 write.proto —
  * WriteRequest { DatabaseBatch { table_batches { columns } } }) with the
  * same zero-dependency cursor reader as the storage request surface, and
  * converts each TableBatch to a DataFrame carrying the engine's LP
  * schema metadata — so a pb-written row is INDISTINGUISHABLE from a
  * line-protocol-written one downstream (the reference funnels both into
  * the same Entry flatbuffer, entry/src/entry.rs:306 `pb_to_entry`;
  * here both funnel into the same per-measurement frame store).
  *
  * Faithful edge semantics from pb_column_to_fb (entry.rs:436-530):
  *  - the null mask is LSB-first per byte: row p is null iff bit (p & 7)
  *    of byte (p >> 3) is set;
  *  - non-null rows consume values in order; if the values run out before
  *    the row count, the LAST value repeats (entry.rs:471-479);
  *  - a column whose Values message is missing/empty is an error
  *    (PBColumnContainsOnlyNullValues);
  *  - the semantic-type set must be pure-IOx or LP-shaped: tags are
  *    strings, fields need a Time column NAMED `time`, a tag without any
  *    field is invalid (entry.rs:348 pb_check_table_batch_column_types).
  */
object WriteProto {

  final case class WritePbException(msg: String)
    extends RuntimeException(msg)

  /** Column.Values: exactly one populated vector picks the type. */
  case class PbValues(
      i64: Vector[Long] = Vector.empty,
      f64: Vector[Double] = Vector.empty,
      u64: Vector[Long] = Vector.empty,
      str: Vector[String] = Vector.empty,
      bool: Vector[Boolean] = Vector.empty,
      bytes: Vector[Array[Byte]] = Vector.empty)

  object Semantic {
    val Unspecified = 0; val Iox = 1; val Tag = 2; val Field = 3; val Time = 4
  }

  case class PbColumn(name: String, semanticType: Int,
      values: Option[PbValues], nullMask: Array[Byte]) {
    def isNull(row: Int): Boolean = {
      val byte = row >> 3
      byte < nullMask.length && ((nullMask(byte) >> (row & 7)) & 1) == 1
    }
    def nullCount(rows: Int): Int = (0 until rows).count(isNull)
  }

  case class PbTableBatch(name: String, columns: Vector[PbColumn],
      rowCount: Int)
  case class PbDatabaseBatch(databaseName: String,
      tables: Vector[PbTableBatch])

  // ------------------------------------------------------------- decoding

  /** WriteRequest { DatabaseBatch database_batch = 1 } — absence is the
    * reference's FieldViolation::required("database_batch"). */
  def decodeWriteRequest(bytes: Array[Byte]): PbDatabaseBatch = {
    val r = new Reader(bytes)
    var batch: Option[PbDatabaseBatch] = None
    while (r.hasMore) r.key() match {
      case (1, 2) => batch = Some(decodeDatabaseBatch(r.sub()))
      case (_, wt) => r.skip(wt)
    }
    batch.getOrElse(throw WritePbException("database_batch is required"))
  }

  private def decodeDatabaseBatch(r: Reader): PbDatabaseBatch = {
    var name = ""
    val tables = Vector.newBuilder[PbTableBatch]
    while (r.hasMore) r.key() match {
      case (1, 2) => name = r.stringField()
      case (2, 2) => tables += decodeTableBatch(r.sub())
      case (_, wt) => r.skip(wt)
    }
    PbDatabaseBatch(name, tables.result())
  }

  private def decodeTableBatch(r: Reader): PbTableBatch = {
    var name = ""
    var rows = 0
    val cols = Vector.newBuilder[PbColumn]
    while (r.hasMore) r.key() match {
      case (1, 2) => name = r.stringField()
      case (2, 2) => cols += decodeColumn(r.sub())
      case (3, 0) => rows = r.varint().toInt
      case (_, wt) => r.skip(wt)
    }
    PbTableBatch(name, cols.result(), rows)
  }

  private def decodeColumn(r: Reader): PbColumn = {
    var name = ""
    var sem = 0
    var values: Option[PbValues] = None
    var mask = Array.emptyByteArray
    while (r.hasMore) r.key() match {
      case (1, 2) => name = r.stringField()
      case (2, 0) => sem = r.varint().toInt
      case (3, 2) => values = Some(decodeValues(r.sub()))
      case (4, 2) => mask = r.bytesField()
      case (_, wt) => r.skip(wt)
    }
    PbColumn(name, sem, values, mask)
  }

  /** Repeated scalars arrive packed (wire type 2, proto3 default) or
    * unpacked (one field per element) — a conforming decoder accepts
    * both spellings. */
  private def decodeValues(r: Reader): PbValues = {
    var v = PbValues()
    while (r.hasMore) r.key() match {
      case (1, 2) => val p = r.sub()
        val b = Vector.newBuilder[Long]; while (p.hasMore) b += p.varint()
        v = v.copy(i64 = v.i64 ++ b.result())
      case (1, 0) => v = v.copy(i64 = v.i64 :+ r.varint())
      case (2, 2) => val p = r.sub()
        val b = Vector.newBuilder[Double]
        while (p.hasMore) b += java.lang.Double.longBitsToDouble(p.fixed64())
        v = v.copy(f64 = v.f64 ++ b.result())
      case (2, 1) =>
        v = v.copy(f64 = v.f64 :+ java.lang.Double.longBitsToDouble(r.fixed64()))
      case (3, 2) => val p = r.sub()
        val b = Vector.newBuilder[Long]; while (p.hasMore) b += p.varint()
        v = v.copy(u64 = v.u64 ++ b.result())
      case (3, 0) => v = v.copy(u64 = v.u64 :+ r.varint())
      case (4, 2) => v = v.copy(str = v.str :+ r.stringField())
      case (5, 2) => val p = r.sub()
        val b = Vector.newBuilder[Boolean]
        while (p.hasMore) b += (p.varint() != 0L)
        v = v.copy(bool = v.bool ++ b.result())
      case (5, 0) => v = v.copy(bool = v.bool :+ (r.varint() != 0L))
      case (6, 2) => v = v.copy(bytes = v.bytes :+ r.bytesField())
      case (_, wt) => r.skip(wt)
    }
    v
  }

  // ----------------------------------------------------------- conversion

  /** entry.rs:348 pb_check_table_batch_column_types: the table's columns
    * must form either the IOx set or the line-protocol set. */
  private def checkColumnTypes(t: PbTableBatch): Unit = {
    var iox = false; var tag = false; var field = false
    var timeNontime = false; var timeTime = false
    t.columns.foreach { c =>
      c.semanticType match {
        case Semantic.Iox => iox = true
        case Semantic.Tag => tag = true
        case Semantic.Field => field = true
        case Semantic.Time =>
          if (c.name == NsTime.TimeColumn) timeTime = true
          else timeNontime = true
        case other => throw WritePbException(
          s"column ${c.name}: invalid semantic type $other")
      }
    }
    (iox, tag, field, timeNontime, timeTime) match {
      case (true, false, false, _, _) => () // IOx column set
      case (false, _, true, false, true) => () // line-protocol column set
      case (true, true, _, _, _) => throw WritePbException(
        "IOx column incompatible with line protocol tag column")
      case (true, _, true, _, _) => throw WritePbException(
        "IOx column incompatible with line protocol field column")
      case (_, _, true, true, _) => throw WritePbException(
        "line protocol field column incompatible with time column not named 'time'")
      case (_, _, true, _, false) => throw WritePbException(
        "line protocol field column requires time column named 'time'")
      case (_, true, false, _, _) => throw WritePbException(
        "line protocol tag column requires at least one line protocol field column")
      case _ => throw WritePbException("table batch has no typed columns")
    }
  }

  private def sqlTypeOf(c: PbColumn): DataType = {
    val v = c.values.getOrElse(
      throw WritePbException(s"column ${c.name} contains only null values"))
    if (v.i64.nonEmpty) LongType
    else if (v.f64.nonEmpty) DoubleType
    else if (v.u64.nonEmpty) DecimalType(20, 0)
    else if (v.str.nonEmpty) StringType
    else if (v.bool.nonEmpty) BooleanType
    else if (v.bytes.nonEmpty) BinaryType
    else throw WritePbException(s"column ${c.name} contains only null values")
  }

  /** Expand one column to per-row cells: null-mask rows are null, others
    * consume values in order, and past-the-end rows repeat the last value
    * (entry.rs:471-479 missing-value fill). */
  private def cells(c: PbColumn, rows: Int): IndexedSeq[Any] = {
    val v = c.values.getOrElse(
      throw WritePbException(s"column ${c.name} contains only null values"))
    val vals: IndexedSeq[Any] =
      if (v.i64.nonEmpty) v.i64
      else if (v.f64.nonEmpty) v.f64
      else if (v.u64.nonEmpty) v.u64.map(u =>
        new java.math.BigDecimal(java.lang.Long.toUnsignedString(u)))
      else if (v.str.nonEmpty) v.str
      else if (v.bool.nonEmpty) v.bool
      else v.bytes
    var next = 0
    (0 until rows).map { row =>
      if (c.isNull(row)) null
      else {
        val out = vals(math.min(next, vals.length - 1))
        next += 1
        out
      }
    }
  }

  /** One (measurement, schema, rows) per table batch, on the driver,
    * schema-tagged exactly like [[graft.sources.LineProtocol.inferSchema]]
    * output: tags, then fields, then `time` — IOx-native columns ride as
    * fields (the engine's schema model is LP-shaped; `time`-named Time
    * columns keep the Time category in both sets). */
  def toBatches(batch: PbDatabaseBatch): Seq[(String, StructType, Seq[Row])] =
    batch.tables.map { t =>
      checkColumnTypes(t)
      if (t.rowCount <= 0)
        throw WritePbException(s"table ${t.name}: row_count is required")
      val tags = t.columns.filter(_.semanticType == Semantic.Tag)
      val times = t.columns.filter(c => c.semanticType == Semantic.Time ||
        (c.semanticType == Semantic.Iox && c.name == NsTime.TimeColumn))
      val fields = t.columns.filterNot(c => tags.contains(c) || times.contains(c))
      tags.foreach { c =>
        if (sqlTypeOf(c) != StringType)
          throw WritePbException(s"tag column ${c.name} must carry strings")
      }
      times.foreach { c =>
        if (sqlTypeOf(c) != LongType)
          throw WritePbException(s"time column ${c.name} must carry i64")
      }
      val schema = StructType(
        tags.map(c => IoxSchema.tagged(c.name, StringType, IoxSchema.Tag)) ++
        fields.map(c => IoxSchema.tagged(c.name, sqlTypeOf(c), IoxSchema.Field)) ++
        times.map(c => IoxSchema.tagged(c.name, LongType, IoxSchema.Time)))
      val ordered = tags ++ fields ++ times
      val byCol = ordered.map(cells(_, t.rowCount))
      (t.name, schema, (0 until t.rowCount).map(r => Row.fromSeq(byCol.map(_(r)))))
    }

  /** [[toBatches]] as one (measurement, frame of one partition) each. */
  def toFrames(spark: SparkSession, batch: PbDatabaseBatch)
      : Seq[(String, DataFrame)] =
    toBatches(batch).map { case (m, schema, rows) =>
      m -> spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
}
