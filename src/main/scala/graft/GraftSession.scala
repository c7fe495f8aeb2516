package graft

import org.apache.spark.sql.SparkSession

/** The local Spark session the mains run on, built in one place. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: String = "32"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** A builder of `local[cores]` with one shuffle partition per core, UTC
    * session time, nanosecond parquet timestamps read as longs, AQE on, a
    * codegen cache of 10,000 classes (a pass over the registered queries
    * generates more than the default 100 hold, so each pass would
    * recompile) and no UI. A main that needs other settings adds them to
    * the builder before `getOrCreate()`. */
  def builder(cores: String = cpus()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
}
