package org.apache.spark.sql.graft

import org.apache.spark.TaskContext
import org.apache.spark.rdd.{MapPartitionsRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition,
  UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Frames pinned behind a local checkpoint, and frames over an existing
  * one-partition RDD, as `LogicalRDD` scans that report their
  * partitioning — with no closure for Spark's `ClosureCleaner` to read.
  *
  * `Dataset.localCheckpoint` copies rows with an anonymous function and
  * counts an eager checkpoint with another; the cleaner reads the large
  * `Dataset` and `LocalRDDCheckpointData` class files with ASM each time.
  * Here the row copy and the count are named functions, which the cleaner
  * skips. The scan reports `SinglePartition` when its RDD is one
  * partition, so Catalyst plans no exchange over it; a checkpoint taken
  * under AQE, or a frame over a parallelized RDD, otherwise reports an
  * unknown partitioning. Lives under `org.apache.spark.sql` for
  * `MapPartitionsRDD`, `Dataset.ofRows` and the checkpoint internals. */
object Pinned {

  /** `df` behind a lazy local checkpoint: the first job that scans it
    * stores its blocks. Plans `df` now (an AQE plan runs its shuffle map
    * stages here, to size its output) but runs no job of its own. */
  def lazily(df: DataFrame): DataFrame = pin(df)._1

  /** `df` behind a local checkpoint stored now by one job, and its row
    * count from that job. */
  def eagerly(df: DataFrame): (DataFrame, Long) = {
    val (out, rdd) = pin(df)
    val counts = new Array[Long](rdd.getNumPartitions)
    rdd.sparkContext.runJob(rdd, CountRows, counts.indices,
      (i: Int, n: Long) => counts(i) = n)
    (out, counts.sum)
  }

  /** The rows of `rdd`, one partition laid out as `schema`, behind a lazy
    * local checkpoint. Each row must be its own object: the checkpoint
    * stores the references. */
  def rows(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame = {
    require(rdd.getNumPartitions == 1, "one partition")
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, new LogicalRDD(
      DataTypeUtils.toAttributes(schema), rdd.localCheckpoint(),
      SinglePartition)(session))
  }

  /** `df` reporting `SinglePartition` when it scans an existing RDD of one
    * partition; otherwise `df` itself. */
  def onePartition(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.getNumPartitions == 1 &&
          r.outputPartitioning != SinglePartition =>
        repartitioned(df, r, SinglePartition)
      case _ => df
    }

  /** `df` reporting an unknown partitioning when it scans an existing RDD
    * and reports `SinglePartition`; otherwise `df` itself. A union of
    * one-partition scans is one partition, so an aggregate over it plans
    * no exchange; over these it shuffles, and AQE sizes its output. */
  def anyPartitioning(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.outputPartitioning == SinglePartition =>
        repartitioned(df, r, UnknownPartitioning(1))
      case _ => df
    }

  private def repartitioned(df: DataFrame, r: LogicalRDD,
      p: Partitioning): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      withPartitioning(r, p))

  private def pin(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = new MapPartitionsRDD(ds.queryExecution.executedPlan.execute(),
      CopyRows).localCheckpoint()
    val scan = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val plan =
      if (rdd.getNumPartitions == 1) withPartitioning(scan, SinglePartition)
      else scan
    (classic.Dataset.ofRows(ds.sparkSession, plan), rdd)
  }

  /** `r` with partitioning `p`; its session, statistics and constraints
    * carry over. */
  private def withPartitioning(r: LogicalRDD, p: Partitioning): LogicalRDD =
    r.makeCopy(Array(r.output, r.rdd, p, r.outputOrdering,
      Boolean.box(r.isStreaming), r.stream)).asInstanceOf[LogicalRDD]

  /** Copies each row: an operator's output row object is reused. */
  private object CopyRows
      extends ((TaskContext, Int, Iterator[InternalRow]) => Iterator[InternalRow])
      with Serializable {
    def apply(ctx: TaskContext, part: Int,
        rows: Iterator[InternalRow]): Iterator[InternalRow] = rows.map(_.copy())
  }

  private object CountRows
      extends ((TaskContext, Iterator[InternalRow]) => Long) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Long = {
      var n = 0L
      while (rows.hasNext) { rows.next(); n += 1 }
      n
    }
  }
}
