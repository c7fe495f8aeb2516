package graft.server

import org.apache.spark.{OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  GenericInternalRow, InterpretedOrdering, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

import graft.core.IoxSchema
import graft.operators.Upsert

/** The snapshot fold as one narrow task: `dedup(base @ seq 0, added @
  * seq 1..k)` over a deduplicated, primary-key-sorted base of one
  * partition and a few one-partition chunks, with no sort, no shuffle and
  * no Spark SQL plan.
  *
  * The task reads the added rows into a map ordered by primary key, each
  * field keeping its winner under [[Upsert.lastNonNull]]'s rule — the
  * greatest `struct(seq-if-non-null, value)`, so the latest non-null value
  * wins, a tie within one chunk goes to the greater value (Catalyst's
  * ordering) and an equal value keeps the first. It then streams the base
  * rows once, merging matched keys and emitting new keys in order. Rows,
  * their order (primary key ascending, nulls first: what the dedup's
  * SortAggregate emits over one partition), column order and category
  * metadata equal the dedup's; the output schema is the dedup's own,
  * from [[shapeOf]]. */
private[server] object SnapshotMerge {

  /** What `Upsert.dedup(IoxSchema.mergeUnion(inputs @ 0..k))` outputs for
    * the input schemas: the union's schema (with the `__seq` column), the
    * dedup's schema, and how many of its leading columns are the primary
    * key. */
  final case class Shape(merged: StructType, out: StructType, pkWidth: Int)

  val SeqCol = "__seq"

  def isKey(f: org.apache.spark.sql.types.StructField): Boolean =
    IoxSchema.categoryOf(f).exists(c => c == IoxSchema.Tag || c == IoxSchema.Time)

  /** The fold's [[Shape]]: the same analysis the shuffle fold runs, over
    * empty relations of the input schemas. */
  def shapeOf(spark: SparkSession, schemas: Seq[StructType]): Shape = {
    val merged = IoxSchema.mergeUnion(schemas.zipWithIndex.map { case (s, i) =>
      spark.createDataFrame(java.util.List.of[Row](), s).withColumn(SeqCol, lit(i.toLong))
    })
    val pk = merged.schema.fields.filter(isKey).map(_.name).toSeq
    Shape(merged.schema, Upsert.dedup(merged, pk, SeqCol).schema, pk.size)
  }

  /** Whether [[merge]] folds inputs of `schemas` (the base first) into
    * `shape`: the dedup groups (there is a field), the base is a dedup
    * output whose key leads the output key (so its rows are already in
    * output order, with every later key column null), every input column
    * has the output column's type (the union casts nothing), and no key
    * column is floating point (the dedup would normalize its -0.0 and
    * NaN). */
  def mergeable(schemas: Seq[StructType], shape: Shape): Boolean = {
    val out = shape.out
    val base = schemas.head
    val baseKey = base.fields.takeWhile(isKey).map(_.name)
    shape.pkWidth > 0 && out.length > shape.pkWidth &&
      base.length > baseKey.length && !base.fields.drop(baseKey.length).exists(isKey) &&
      out.fieldNames.take(baseKey.length).sameElements(baseKey) &&
      schemas.forall(_.fields.forall(f =>
        out.fieldNames.contains(f.name) && out(f.name).dataType == f.dataType)) &&
      !out.fields.take(shape.pkWidth).exists(f =>
        f.dataType == DoubleType || f.dataType == FloatType)
  }

  /** The merged rows of `inputs` (base first, each one partition, laid out
    * as `schemas`), one partition laid out as `shape.out`. */
  def merge(inputs: Seq[RDD[InternalRow]], schemas: Seq[StructType],
      shape: Shape): RDD[InternalRow] =
    new MergeRDD(inputs,
      schemas.map(s => shape.out.fieldNames.map(s.fieldNames.indexOf(_))).toArray,
      shape.out, shape.pkWidth)

  /** The only partition, with the only partition of each input (an
    * executor cannot list an input's partitions itself). */
  private final class MergePartition(val inputs: Array[Partition]) extends Partition {
    def index: Int = 0
  }

  /** Depends on the only partition of each input, and holds no input
    * itself: once checkpointed, the RDD lets its inputs go. `columns(i)(j)`
    * is output column j's index in input i, or -1. */
  private final class MergeRDD(inputs: Seq[RDD[InternalRow]],
      columns: Array[Array[Int]], out: StructType, pkWidth: Int)
      extends RDD[InternalRow](inputs.head.sparkContext,
        inputs.map(new OneToOneDependency(_))) {

    override protected def getPartitions: Array[Partition] =
      Array(new MergePartition(dependencies.map(_.rdd.partitions(0)).toArray))

    override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
      val types = out.fields.map(_.dataType)
      val keyOrder = InterpretedOrdering.forSchema(types.take(pkWidth).toSeq)
      val valueOrder = types.map(TypeUtils.getInterpretedOrdering)
      val project = InterpretedUnsafeProjection.createProjection(
        types.indices.map(j => BoundReference(j, types(j), nullable = true)))
      def rows(i: Int): Iterator[InternalRow] =
        dependencies(i).rdd.asInstanceOf[RDD[InternalRow]]
          .iterator(split.asInstanceOf[MergePartition].inputs(i), ctx)
      /** Input i's row's key; `keep` copies values that point into the row. */
      def keyOf(i: Int, row: InternalRow, keep: Boolean): InternalRow = {
        val key = new Array[Any](pkWidth)
        var j = 0
        while (j < pkWidth) {
          val c = columns(i)(j)
          if (c >= 0 && !row.isNullAt(c)) {
            val v = row.get(c, types(j))
            key(j) = if (keep) InternalRow.copyValue(v) else v
          }
          j += 1
        }
        new GenericInternalRow(key)
      }

      /** Per field of one added key: the winning value and its seq (0:
        * none yet). */
      final class Winner {
        val values = new Array[Any](types.length)
        val seqs = new Array[Int](types.length)
        def offer(seq: Int, row: InternalRow): Unit = {
          var j = pkWidth
          while (j < types.length) {
            val c = columns(seq)(j)
            if (c >= 0 && !row.isNullAt(c)) {
              val v = row.get(c, types(j))
              if (seqs(j) < seq || valueOrder(j).gt(v, values(j))) {
                values(j) = InternalRow.copyValue(v)
                seqs(j) = seq
              }
            }
            j += 1
          }
        }
      }

      val added = new java.util.TreeMap[InternalRow, Winner](keyOrder)
      (1 until columns.length).foreach { seq =>
        rows(seq).foreach { row =>
          added.computeIfAbsent(keyOf(seq, row, keep = true), _ => new Winner).offer(seq, row)
        }
      }

      /** The output row of `key`: each field from the added winner, else
        * from the base row. */
      def emit(key: InternalRow, w: Winner, base: InternalRow): InternalRow = {
        val values = new Array[Any](types.length)
        var j = 0
        while (j < types.length) {
          values(j) =
            if (j < pkWidth) key.get(j, types(j))
            else if (w != null && w.seqs(j) > 0) w.values(j)
            else {
              val c = columns(0)(j)
              if (base == null || c < 0 || base.isNullAt(c)) null
              else base.get(c, types(j))
            }
          j += 1
        }
        project(new GenericInternalRow(values)).copy()
      }

      // every input column is an output column, so this means the same layout
      val baseLaidOut = columns(0).indices.forall(j => columns(0)(j) == j)
      val pending = added.entrySet.iterator
      val base = rows(0)
      new Iterator[InternalRow] {
        private var nextAdded = if (pending.hasNext) pending.next() else null
        private var row: InternalRow = _
        private var rowKey: InternalRow = _
        advance()

        private def advance(): Unit =
          if (base.hasNext) { row = base.next(); rowKey = keyOf(0, row, keep = false) }
          else row = null

        def hasNext: Boolean = row != null || nextAdded != null

        def next(): InternalRow = {
          val cmp =
            if (nextAdded == null) 1
            else if (row == null) -1
            else keyOrder.compare(nextAdded.getKey, rowKey)
          if (cmp <= 0) {
            val got = emit(nextAdded.getKey, nextAdded.getValue, if (cmp == 0) row else null)
            nextAdded = if (pending.hasNext) pending.next() else null
            if (cmp == 0) advance()
            got
          } else {
            val got = row match {
              case u: UnsafeRow if baseLaidOut => u.copy()
              case r => emit(rowKey, null, r)
            }
            advance()
            got
          }
        }
      }
    }
  }
}
