package graft

import java.nio.file.Files
import graft.server.{GrpcClient, HttpFacade, IoxGrpc, ManagementGrpc, ManagementProto => P, StorageProto, StorageProtoReader => R}

/** Restart persistence of the management plane — the reference's
  * tests/end_to_end_cases/management_api.rs shape (create database →
  * restart server → rules survive) extended to the whole persisted
  * surface: a facade configured with a data directory is stopped and a
  * NEW facade opened over the same directory; the server id, database
  * rules, chunk listing and the chunk DATA must all come back from disk,
  * reloaded chunks surfacing as ObjectStoreOnly (their bytes live on
  * disk — the reference's post-restart stage), and the reloaded server
  * must keep accepting writes that themselves survive the next restart. */
class ServerRestartSpec extends SparkSpec {

  private def msg(f: StorageProto.Writer => Unit): Array[Byte] = {
    val w = new StorageProto.Writer; f(w); w.result()
  }
  private val M = ManagementGrpc.ManagementPrefix
  private val W = ManagementGrpc.WritePrefix

  private def withFacade[T](dir: String)(f: (HttpFacade, Int) => T): T = {
    val fac = new HttpFacade(spark, port = 0, clockNs = () => 42L,
      dataDir = Some(dir))
    val g = IoxGrpc.start(fac)
    try f(fac, g.boundPort) finally { g.stop(); fac.stop() }
  }

  /** (partition_key, chunk id, storage enum, table, rows) via the
    * management ListChunks route. */
  private def chunkList(p: Int,
      db: String): Seq[(String, Long, Int, String, Long)] = {
    val (s, r) = GrpcClient.call(p, M + "ListChunks", msg(_.string(1, db)))
    assert(s == 0)
    val rr = new R.Reader(r.head)
    val out = Seq.newBuilder[(String, Long, Int, String, Long)]
    while (rr.hasMore) rr.key() match {
      case (1, 2) =>
        val c = rr.sub()
        var pk = ""; var id = 0L; var st = 0L; var tbl = ""; var n = 0L
        while (c.hasMore) c.key() match {
          case (1, 2) => pk = c.stringField()
          case (2, 0) => id = c.varint()
          case (3, 0) => st = c.varint()
          case (8, 2) => tbl = c.stringField()
          case (9, 0) => n = c.varint()
          case (_, wt) => c.skip(wt)
        }
        out += ((pk, id, st.toInt, tbl, n))
      case (_, wt) => rr.skip(wt)
    }
    out.result()
  }

  private def writeLp(p: Int, db: String, lp: String): Unit =
    assert(GrpcClient.call(p, W + "Write",
      msg { w => w.string(1, db); w.string(2, lp) })._1 == 0)

  test("concurrent writers to one db keep the persisted manifest " +
      "consistent: every row reloads under its own measurement") {
    // the HTTP pool is multi-threaded; interleaved appends must not pair
    // a chunk's parquet file id with another measurement in the manifest
    // (the failure mode is silent cross-measurement data after restart)
    val dir = Files.createTempDirectory("graft-restart-conc").toString
    withFacade(dir) { (_, p) =>
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          for (j <- 0 until 3)
            writeLp(p, "cdb", s"m$t,host=h$j v=${t * 10 + j} ${100 + j}")
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    withFacade(dir) { (fac, _) =>
      for (t <- 0 until 4) {
        val (qs, csv) = HttpFacade.getQuery(fac.boundPort, "cdb",
          s"SELECT count(*) AS n, sum(v) AS sv FROM m$t")
        assert(qs == 200 && csv.trim.split("\n").toSeq ==
          Seq("n,sv", s"3,${t * 30 + 3}.0"),
          s"m$t rows mis-attributed after restart: $csv")
      }
    }
  }

  test("DROP MEASUREMENT then restart: the surviving chunks reload with " +
      "their own measurement and rows, in vector order") {
    val dir = Files.createTempDirectory("graft-restart-drop").toString
    withFacade(dir) { (fac, p) =>
      writeLp(p, "ddb", "cpu,host=a usage=1.0 100\ncpu,host=b usage=2.0 200")
      writeLp(p, "ddb", "mem,host=a used=5i 100")
      writeLp(p, "ddb", "disk,host=a free=9.0 100")
      writeLp(p, "ddb", "cpu,host=c usage=3.0 300")
      val conn = new java.net.URI(s"http://127.0.0.1:${fac.boundPort}/query" +
        s"?db=ddb&q=${java.net.URLEncoder.encode("DROP MEASUREMENT mem", "UTF-8")}")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200 && new String(
        conn.getInputStream.readAllBytes(), "UTF-8") ==
        """{"results":[{"statement_id":0}]}""")
    }
    withFacade(dir) { (fac, p) =>
      // cpu 0, disk 1, cpu 2, all on disk
      assert(chunkList(p, "ddb") == Seq(("1970-01-01", 0L, 5, "cpu", 2L),
        ("1970-01-01", 2L, 5, "cpu", 1L), ("1970-01-01", 1L, 5, "disk", 1L)))
      val (cs, cpu) = HttpFacade.getQuery(fac.boundPort, "ddb",
        "SELECT count(*) AS n, sum(usage) AS su FROM cpu")
      assert(cs == 200 && cpu.trim.split("\n").toSeq == Seq("n,su", "3,6.0"))
      val (ds, disk) = HttpFacade.getQuery(fac.boundPort, "ddb",
        "SELECT host, free FROM disk")
      assert(ds == 200 && disk.trim.split("\n").toSeq == Seq("host,free", "a,9.0"))
      assert(HttpFacade.getQuery(fac.boundPort, "ddb", "SELECT * FROM mem")._1 == 400)
    }
  }

  test("server id, rules, and chunk data survive facade restarts " +
      "(management_api.rs restart shape)") {
    val dir = Files.createTempDirectory("graft-restart").toString

    // ---- first life: set id, create a database with rules, write
    withFacade(dir) { (_, p) =>
      assert(GrpcClient.call(p, M + "UpdateServerId",
        msg(_.varintField(1, 42)))._1 == 0)
      val rules = msg { r =>
        r.string(1, "rdb")
        r.bytes(2, msg(_.bytes(1, msg(_.string(2, "host"))))) // by host tag
        r.bytes(3, msg { lc =>
          lc.varintField(4, 10000000); lc.varintField(12, 300)
        })
      }
      assert(GrpcClient.call(p, M + "CreateDatabase",
        msg(_.bytes(1, rules)))._1 == 0)
      writeLp(p, "rdb", "cpu,host=a usage=1.5 100\ncpu,host=b usage=5.0 200")
      // live chunks are open mutable buffers
      assert(chunkList(p, "rdb").forall(_._3 == 1), "OpenMutableBuffer live")
    }

    // ---- second life: everything reloads from the directory
    withFacade(dir) { (fac, p) =>
      val (s, r) = GrpcClient.call(p, M + "GetServerId", Array.emptyByteArray)
      assert(s == 0 && P.readVarint(r.head, 1) == 42L, "server id reloads")
      // the reloaded id is LIVE state: conflicting re-set still rejected
      assert(GrpcClient.call(p, M + "UpdateServerId",
        msg(_.varintField(1, 7)))._1 == 3)
      // rules reload with their field values intact
      val rules = fac.rulesOf("rdb")
      assert(rules.partitionTemplate.parts ==
        Seq(graft.core.TemplatePart.ColumnValue("host")))
      assert(rules.lifecycle.bufferSizeSoft.contains(10000000L))
      assert(rules.lifecycle.lateArriveWindowMs == 300000L)
      // chunks reload: same partitions/rows, storage = ObjectStoreOnly
      assert(chunkList(p, "rdb") ==
        Seq(("host_a", 0L, 5, "cpu", 1L), ("host_b", 0L, 5, "cpu", 1L)))
      // the data itself is queryable
      val (qs, csv) = HttpFacade.getQuery(fac.boundPort, "rdb",
        "SELECT host, usage FROM cpu ORDER BY host")
      assert(qs == 200 && csv.trim.split("\n").toSeq ==
        Seq("host,usage", "a,1.5", "b,5.0"))
      // the reloaded server keeps accepting writes and rules updates
      writeLp(p, "rdb", "cpu,host=c usage=7.0 300")
      val updated = msg { r =>
        r.string(1, "rdb")
        r.bytes(2, msg(_.bytes(1, msg(_.string(2, "region")))))
      }
      assert(GrpcClient.call(p, M + "UpdateDatabase",
        msg(_.bytes(1, updated)))._1 == 0)
    }

    // ---- third life: the second life's write and update survived too
    withFacade(dir) { (fac, p) =>
      assert(fac.rulesOf("rdb").partitionTemplate.parts ==
        Seq(graft.core.TemplatePart.ColumnValue("region")))
      val (qs, csv) = HttpFacade.getQuery(fac.boundPort, "rdb",
        "SELECT count(*) AS n, sum(usage) AS su FROM cpu")
      assert(qs == 200 && csv.trim.split("\n").toSeq == Seq("n,su", "3,13.5"))
      // second-life chunk took a fresh file id — nothing was overwritten
      // (under the updated region template all of chunk 0's rows share
      // one partition key, so it lists as a single 2-row entry)
      assert(chunkList(p, "rdb").map(c => (c._2, c._5)).sorted ==
        Seq((0L, 2L), (1L, 1L)))
    }
  }
}
