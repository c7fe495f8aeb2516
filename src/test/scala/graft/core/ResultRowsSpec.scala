package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** [[ResultRows]], the result path of every server read: the rows and
  * their order are `collect()`'s, each partition is one job, run one after
  * another, the read is one SQL execution that covers its jobs, and
  * cancelling the reader's job group mid-stream fails the read. */
class ResultRowsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("s", StringType),
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("b", BooleanType),
    StructField("ts", TimestampType),
    StructField("dec", DecimalType(20, 4)),
    StructField("bin", BinaryType),
    StructField("arr", ArrayType(IntegerType)),
    StructField("m", MapType(StringType, LongType)),
    StructField("st", StructType(Seq(
      StructField("x", IntegerType), StructField("y", StringType))))))

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  private val rows = Seq(
    Row("a", 1L, 1.5, true, ts(1000L), new java.math.BigDecimal("12.3400"),
      Array[Byte](1, 2, 3), Seq(1, 2), Map("k" -> 1L), Row(1, "p")),
    Row("b", -2L, Double.NaN, false, ts(-5000L), new java.math.BigDecimal("-0.0001"),
      Array.emptyByteArray, Seq.empty[Int], Map.empty[String, Long], Row(null, "q")),
    Row("", Long.MaxValue, -0.0, null, null, null, null, null, null, null),
    Row(null, null, null, true, ts(0L), new java.math.BigDecimal("99999999.9999"),
      Array[Byte](-1), Seq[Integer](3, null),
      Map("a" -> 2L, "b" -> 3L), Row(2, null)),
    Row("é ü", Long.MinValue, Double.PositiveInfinity, false, ts(1700000000123L),
      new java.math.BigDecimal("0.0000"), Array[Byte](0), Seq(7), Map("z" -> 0L),
      Row(3, "r")),
    Row("f", 0L, Double.MinPositiveValue, true, ts(86400000L),
      new java.math.BigDecimal("1.0000"), Array[Byte](9, 9), Seq(8, 9),
      Map("y" -> -1L), Row(4, "s")))

  private def frame(partitions: Int): DataFrame =
    spark.createDataFrame(
      if (partitions == 0) spark.sparkContext.emptyRDD[Row]
      else spark.sparkContext.parallelize(rows, partitions),
      schema)

  /** Row equality, plus the sign of every double (`Row.equals` takes
    * -0.0 for 0.0). */
  private def assertSameRows(got: Seq[Row], want: Seq[Row]): Unit = {
    assert(got == want)
    val bits = (rs: Seq[Row]) => rs.map(r =>
      if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    assert(bits(got) == bits(want))
  }

  test("rows and order equal collect() over 1, 8 and 0 partitions and an empty result") {
    for (n <- Seq(1, 8, 0)) {
      val df = frame(n)
      assert(df.rdd.getNumPartitions == n)
      val want = df.collect().toSeq
      assert(want.size == (if (n == 0) 0 else rows.size))
      assertSameRows(ResultRows.collect(df), want)
      assertSameRows(ResultRows.stream(df)(_.toVector), want)
    }
    // the -0.0 row survives as -0.0, and the NaN row as NaN
    val got = ResultRows.collect(frame(1))
    assert(java.lang.Double.doubleToRawLongBits(got(2).getDouble(2)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(got(1).getDouble(2).isNaN)
    // an empty result over 8 non-empty partitions
    val empty = frame(8).where(col("l") === 42L)
    assert(ResultRows.collect(empty).isEmpty)
    assert(ResultRows.stream(empty)(_.hasNext) == false)
    // an ordered multi-partition read keeps the plan's order
    val sorted = frame(8).orderBy(col("l"))
    assertSameRows(ResultRows.collect(sorted), sorted.collect().toSeq)
  }

  private val Sentinel = "graft.test.resultrows.sentinel"

  /** `body`'s value and the listener events it caused, in bus order. */
  private def eventsOf[A](body: => A): (A, Seq[SparkListenerEvent]) = {
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var sentinelJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Sentinel) != null)) {
          sentinelJob = e.jobId; seen.countDown()
        } else events.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId != sentinelJob) events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart | _: SparkListenerSQLExecutionEnd =>
          events.add(e)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // the bus delivers in order: once a job run after `body` starts,
      // every event `body` caused has been seen
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Sentinel, null)
      assert(seen.await(60, TimeUnit.SECONDS))
      (out, events.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("over 8 partitions a read runs 8 one-task jobs, one after another") {
    val df = spark.range(0, 800, 1, 8).toDF("id")
    val (n, events) = eventsOf(ResultRows.stream(df)(_.size))
    assert(n == 800)
    val jobEvents = events.collect {
      case e: SparkListenerJobStart => ("start", e.jobId, e.stageInfos.map(_.numTasks))
      case e: SparkListenerJobEnd => ("end", e.jobId, Nil)
    }
    assert(jobEvents.count(_._1 == "start") == 8)
    // each job ends before the next one starts, and reads one partition
    jobEvents.grouped(2).foreach {
      case Seq((s, id, tasks), (e, id2, _)) =>
        assert(s == "start" && e == "end" && id == id2 && tasks == Seq(1))
      case other => fail(s"jobs overlap: $other")
    }
  }

  test("a read is one SQL execution: its jobs run inside it, a listener sees one onSuccess, an Observation gets its metrics") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    val obs = Observation("result_rows")
    val observed = df.observe(obs, count(lit(1)).as("n"), sum(col("id")).as("s"))
    val outcomes = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(1)
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq observed.queryExecution) { outcomes.add("success"); done.countDown() }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (qe eq observed.queryExecution) { outcomes.add("failure"); done.countDown() }
    }
    spark.listenerManager.register(qeListener)
    val tag = "graft-result-rows-one-execution"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val (total, events) =
      try eventsOf(ResultRows.stream(observed)(_.map(_.getLong(0)).sum))
      finally sc.removeJobTag(tag)
    try {
      assert(total == 4950L)
      val starts = events.collect {
        case e: SparkListenerSQLExecutionStart if e.jobTags.contains(tag) => e
      }
      assert(starts.size == 1)
      val id = starts.head.executionId.toString
      val jobs = events.collect { case e: SparkListenerJobStart => e }
      assert(jobs.size == 4)
      assert(jobs.forall(_.properties.getProperty("spark.sql.execution.id") == id))
      // the execution ends after its last job
      val end = events.indexWhere {
        case e: SparkListenerSQLExecutionEnd => e.executionId.toString == id
        case _ => false
      }
      assert(end > events.lastIndexWhere(_.isInstanceOf[SparkListenerJobEnd]))
      assert(done.await(60, TimeUnit.SECONDS))
      Thread.sleep(200) // a second callback, if any, would land by now
      assert(outcomes.asScala.toSeq == Seq("success"))
      val metrics = Await.result(Future(obs.get), 60.seconds)
      assert(metrics == Map("n" -> 100L, "s" -> 4950L))
    } finally spark.listenerManager.unregister(qeListener)
  }

  test("cancelling the reader's job group mid-stream fails the read and leaves no job running") {
    val group = "graft-result-rows-cancel"
    val slow = udf { (id: Long) =>
      if (id > 0) Thread.sleep(60000)
      id
    }
    val df = spark.range(0, 4, 1, 4).toDF("id").select(slow(col("id")).as("id"))
    val sc = spark.sparkContext
    sc.setJobGroup(group, "cancel mid-stream", interruptOnCancel = true)
    val canceller = new Thread(() => {
      // once the second partition's job is running, cancel the group
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (System.nanoTime() < deadline &&
          sc.statusTracker.getJobIdsForGroup(group).length < 2) Thread.sleep(20)
      Thread.sleep(200)
      sc.cancelJobGroup(group)
    })
    val seen = new ConcurrentLinkedQueue[Long]()
    val t0 = System.nanoTime()
    val err = try {
      intercept[SparkException] {
        ResultRows.stream(df)(_.foreach { r =>
          seen.add(r.getLong(0))
          if (seen.size == 1) canceller.start()
        })
      }
    } finally sc.clearJobGroup()
    canceller.join(60000)
    assert(seen.asScala.toSeq == Seq(0L))
    assert(String.valueOf(err.getMessage).toLowerCase.contains("cancel"))
    assert((System.nanoTime() - t0) / 1e9 < 50, "the running job was not interrupted")
    val deadline = System.nanoTime() + 30L * 1000000000L
    def running = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(id => sc.statusTracker.getJobInfo(id))
      .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
    while (running.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(running.isEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 2)
  }
}
