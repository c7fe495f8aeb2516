package graft.core

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution

/** The one result path of every server read: CSV/JSON results, InfluxQL
  * series, Flight `DoGet`, the storage RPC frames and the metadata reads
  * all take their rows from [[stream]].
  *
  * A read is one SQL execution (listeners, `Observation`s and the SQL UI
  * see it as one query, and it ends when the reader is done), and each
  * partition of its executed plan is one job on the calling thread, run
  * when the reader reaches it. So at most one partition is on the driver
  * at a time, job groups, tags and `spark.driver.maxResultSize` apply per
  * job as they do for `Dataset.toLocalIterator`, and 0, 1 and n
  * partitions take the same path.
  *
  * Unlike `toLocalIterator`, which cleans three closures per job (each
  * read back from `SparkPlan`, `RDD` and `SparkContext` with ASM), the
  * only function shipped here is [[CopyRows]], a named function object
  * the closure cleaner has nothing to read for. Rows become `Row`s with
  * Catalyst's type converters for the schema, which give the values
  * `collect()` gives without resolving an encoder and generating its
  * deserializer on every read. */
object ResultRows {

  /** Runs `df` and hands `read` its rows in order; returns what `read`
    * returns. The rows are valid only inside `read`: the execution ends
    * when it returns, and partitions it has not reached never run. */
  def stream[T](df: DataFrame)(read: Iterator[Row] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute()
      val sc = rdd.sparkContext
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      read(rdd.partitions.indices.iterator
        .flatMap(p => sc.runJob(rdd, CopyRows, Seq(p)).head)
        .map(toRow(_).asInstanceOf[Row]))
    }
  }

  /** All rows of `df`, through [[stream]]: for the small metadata reads. */
  def collect(df: DataFrame): Vector[Row] = stream(df)(_.toVector)

  /** A partition's rows as an array. Operators reuse one mutable row
    * between `next()` calls, so each row is copied before it is kept. */
  private object CopyRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow])
      with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.map(_.copy()).toArray
  }
}
