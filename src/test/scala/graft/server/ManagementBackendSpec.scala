package graft.server

import graft.{ManagementCalls, SparkSpec}
import graft.ManagementCalls._
import graft.streaming.DatabaseRules

/** The management listings and chunk actions over gRPC find each chunk's
  * partitions in at most one Spark job, whatever the chunk count, and in
  * none when there is nothing to look at. */
class ManagementBackendSpec extends SparkSpec {

  private val Db = "o_b"
  private val Day1 = "2019-09-17"
  private val Day2 = "2019-09-18"

  private def withServer[A](body: (HttpFacade, Int) => A): A = {
    val facade = new HttpFacade(spark, port = 0, clockNs = () => 42L)
    try ManagementCalls.withGrpc(facade)(body(facade, _)) finally facade.stop()
  }

  /** `call`'s value, failing when it ran more than `most` Spark jobs. */
  private def jobsAtMost[A](most: Int, what: String)(call: => A): A = {
    val (out, jobs) = countingJobs(call)
    assert(jobs <= most, s"$what ran $jobs jobs")
    out
  }

  test("at 20 chunks over two partition keys, each listing and chunk action " +
      "runs at most one Spark job") {
    withServer { (f, g) =>
      // chunk i holds one `cpu` row on day 1 (even i) or day 2 (odd i)
      (0 until 20).foreach { i =>
        val ns = 1568756160000000000L + (i % 2) * 86400000000000L + i
        assert(f.writeLines(Db, s"cpu,host=h$i usage=$i $ns", 0).isRight)
      }
      val (ls, chunks) = jobsAtMost(1, "ListChunks")(listChunks(g, Db))
      assert(ls == 0)
      assert(chunks.map(c => (c.partitionKey, c.id)) ==
        (0 until 20 by 2).map((Day1, _)) ++ (1 until 20 by 2).map((Day2, _)))
      assert(chunks.forall(c => c.table == "cpu" && c.rowCount == 1 &&
        c.storage == "OpenMutableBuffer"))
      assert(jobsAtMost(1, "ListPartitions")(listPartitions(g, Db)) ==
        ((0, Seq(Day1, Day2))))
      assert(jobsAtMost(1, "GetPartition")(getPartition(g, Db, Day2)) == ((0, Some(Day2))))
      val (ps, day2) = jobsAtMost(1, "ListPartitionChunks")(listPartitionChunks(g, Db, Day2))
      assert(ps == 0 && day2.map(_.id) == (1 until 20 by 2))
      assert(jobsAtMost(1, "NewPartitionChunk")(newPartitionChunk(g, Db, Day2, "cpu")) == 0)
      val (cs, op) = jobsAtMost(1, "ClosePartitionChunk")(
        closePartitionChunk(g, Db, Day2, "cpu", 19))
      assert(cs == 0 && op.map(_.job) == Some("CloseChunk"))
      assert(listPartitionChunks(g, Db, Day2)._2.map(_.storage) ==
        Seq.fill(9)("ClosedMutableBuffer") :+ "ReadBuffer")
      assert(listPartitionChunks(g, Db, Day1)._2.map(_.storage) ==
        Seq.fill(10)("OpenMutableBuffer"))
    }
  }

  test("a database with no chunks answers every listing and action with no Spark job") {
    withServer { (_, g) =>
      assert(createDatabase(g, DatabaseRules(Db)) == 0)
      assert(jobsAtMost(0, "ListChunks")(listChunks(g, Db)) == ((0, Nil)))
      assert(jobsAtMost(0, "ListPartitions")(listPartitions(g, Db)) == ((0, Nil)))
      assert(jobsAtMost(0, "GetPartition")(getPartition(g, Db, Day1)) == ((0, None)))
      assert(jobsAtMost(0, "ListPartitionChunks")(listPartitionChunks(g, Db, Day1)) ==
        ((0, Nil)))
      assert(jobsAtMost(0, "NewPartitionChunk")(newPartitionChunk(g, Db, Day1, "cpu")) ==
        NotFound)
      assert(jobsAtMost(0, "ClosePartitionChunk")(
        closePartitionChunk(g, Db, Day1, "cpu", 0)) == ((NotFound, None)))
    }
  }

  test("every successful call with an empty response carries its one message") {
    withServer { (_, g) =>
      val ready = graft.StorageRequests.msg(_.varintField(1, 1))
      (1 to 2).foreach { i =>
        val (s, msgs) = GrpcClient.call(g,
          ManagementGrpc.ManagementPrefix + "SetServingReadiness", ready)
        assert(s == 0 && msgs.map(_.length) == Seq(0), s"call $i: ${msgs.size} messages")
      }
    }
  }
}
