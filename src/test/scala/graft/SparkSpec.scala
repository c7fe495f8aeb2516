package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** A file of the influxdb_iox reference checkout that SURVEY.md cites
    * as `path:line`. Cancels the calling test, naming the path, when the
    * checkout does not hold it; a test whose subject is a reference file
    * runs only where that file exists. */
  def referenceFile(rel: String): java.nio.file.Path = {
    val path = java.nio.file.Paths.get("/root/reference", rel)
    assume(java.nio.file.Files.exists(path),
      s"reference checkout file not present: $path")
    path
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
