package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `body`'s value, and the number of Spark jobs it started. */
  def countingJobs[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkSpec.JobSentinel) != null))
          seen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // the listener bus delivers in order: once the start of a job run
      // after `body` arrives, every job `body` started has been counted
      sc.setLocalProperty(SparkSpec.JobSentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SparkSpec.JobSentinel, null)
      assert(seen.await(60, TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** The local property that marks [[SparkSpec.countingJobs]]'s own job. */
  private val JobSentinel = "graft.test.sentinel"

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
