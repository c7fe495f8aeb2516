package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.{FlightGrpc, GrpcClient, HttpFacade, StorageGrpc, StorageProtoReader => R}
import graft.StorageRequests._

/** End-to-end storage gRPC over REAL HTTP/2: a client speaking the
  * public gRPC wire protocol (h2c prior knowledge, 5-byte length-prefixed
  * messages, grpc-status trailers) over a loopback socket against
  * [[graft.server.GrpcServer]] + [[StorageGrpc]], the one transport of
  * the storage API. */
class GrpcStorageSpec extends SparkSpec {

  private val cpuData =
    "cpu,host=a usage=1.5 100\ncpu,host=a usage=2.5 200\ncpu,host=b usage=5.0 100"

  test("storage gRPC over real HTTP/2: caps, read_filter, tag keys/values") {
    // data lands under the hex database the read_source (0xab, 0xcd)
    // renders to, via the LP write endpoint
    withStorageGrpc(spark, cpuData) { (_, p) =>
      // Capabilities: empty request, one response message
      val (cs, caps) = call(p, "Capabilities", Array.emptyByteArray)
      assert(cs == 0 && caps.size == 1 && caps.head.nonEmpty)

      // ReadFilter: table via the \x00 _measurement sentinel; the
      // server-streamed messages carry series/points frame pairs per host
      val rf = msg { b =>
        b.bytes(1, source)
        b.bytes(3, predicate(measurementIs("cpu")))
      }
      val (rs, rmsgs) = call(p, "ReadFilter", rf)
      assert(rs == 0, s"grpc-status $rs")
      val members = frames(rmsgs).map(_._1)
      assert(members == Seq(1, 2, 1, 2), s"got $members")

      // ReadGroup by host with SUM: group frame + series + points per host
      val rg = msg { b =>
        b.bytes(1, source)
        b.bytes(3, predicate(measurementIs("cpu")))
        b.bytes(4, "host".getBytes(UTF_8))
        b.varintField(5, 2) // Group::GROUP_BY
        b.bytes(6, msg(a => a.varintField(1, 1))) // Aggregate SUM
      }
      val (gs, gmsgs) = call(p, "ReadGroup", rg)
      assert(gs == 0, s"grpc-status $gs")
      val gm = frames(gmsgs).map(_._1)
      assert(gm == Seq(7, 1, 2, 7, 1, 2), s"got $gm")

      // ReadWindowAggregate: 100ns windows, SUM — per-series bucketed
      // series/points frames over the same transport
      val rwa = msg { b =>
        b.bytes(1, source)
        b.bytes(3, predicate(measurementIs("cpu")))
        b.varintField(4, 100L) // WindowEvery ns
        b.bytes(5, msg(a => a.varintField(1, 1))) // Aggregate SUM
      }
      val (ws, wmsgs) = call(p, "ReadWindowAggregate", rwa)
      assert(ws == 0, s"grpc-status $ws")
      val wm = frames(wmsgs).map(_._1)
      assert(wm == Seq(1, 2, 1, 2), s"got $wm")

      // TagKeys: sentinel keys plus the series tag
      val (ks, keys) = call(p, "TagKeys", rf)
      assert(ks == 0 && stringValues(keys.head).contains("host"))

      // TagValues for host
      val tv = msg { b =>
        b.bytes(1, source)
        b.bytes(4, "host".getBytes(UTF_8))
      }
      val (vs, vals) = call(p, "TagValues", tv)
      assert(vs == 0 && stringValues(vals.head) == Seq("a", "b"))

      // Arrow Flight DoGet on the same connection semantics: Ticket ->
      // FlightData messages -> reassembled IPC stream round-trips rows
      val ticketJson =
        s"""{"database_name":"$Db",""" +
          """"sql_query":"SELECT host, usage, time FROM cpu ORDER BY time, host"}"""
      val ticket = msg(w => w.bytes(1, ticketJson.getBytes(UTF_8)))
      val (fs, fdata) = GrpcClient.call(p,
        FlightGrpc.ServicePrefix + "DoGet", ticket)
      assert(fs == 0, s"flight grpc-status $fs")
      assert(fdata.size >= 2, "schema message + at least one batch")
      val (cols, rows) = graft.server.ArrowIpc.readStream(
        new java.io.ByteArrayInputStream(FlightGrpc.flightDataToIpc(fdata)))
      assert(cols == Seq("host", "usage", "time"))
      assert(rows == Seq(Seq("a", 1.5, 100L), Seq("b", 5.0, 100L),
        Seq("a", 2.5, 200L)))
      // flight errors ride the same grpc-status trailers
      val (fe, _) = GrpcClient.call(p, FlightGrpc.ServicePrefix + "DoGet",
        msg(w => w.bytes(1, """{"database_name":"nope","sql_query":"SELECT 1"}"""
          .getBytes(UTF_8))))
      assert(fe == 3)

      // metadata route family: names, scoped keys/values/fields,
      // cardinality, offsets — the full service.rs surface over gRPC
      val (ms1, names) = call(p, "MeasurementNames", msg(b => b.bytes(1, source)))
      assert(ms1 == 0 && stringValues(names.head) == Seq("cpu"))
      val scoped = msg { b => b.bytes(1, source); b.string(2, "cpu") }
      val (ms2, mtk) = call(p, "MeasurementTagKeys", scoped)
      assert(ms2 == 0 && stringValues(mtk.head).contains("host"))
      val (ms3, mtv) = call(p, "MeasurementTagValues",
        msg { b => b.bytes(1, source); b.string(2, "cpu")
          b.bytes(3, "host".getBytes(UTF_8)) })
      assert(ms3 == 0 && stringValues(mtv.head) == Seq("a", "b"))
      val (ms4, mf) = call(p, "MeasurementFields", scoped)
      assert(ms4 == 0 && mf.size == 1 && mf.head.nonEmpty)
      val (ms5, card) = call(p, "ReadSeriesCardinality", msg(b => b.bytes(1, source)))
      assert(ms5 == 0)
      // Int64ValuesResponse { repeated int64 values = 1 } (packed):
      // the db's one measurement carries two tag sets
      val cr = new R.Reader(card.head)
      assert(cr.key() == ((1, 2)))
      val packed = new R.Reader(cr.bytesField())
      assert(packed.varint() == 2L, "cpu has two series")
      val (ms6, off) = call(p, "Offsets", Array.emptyByteArray)
      assert(ms6 == 0 && off.size == 1 && off.head.isEmpty)

      // errors surface as grpc-status 3 trailers, not transport failures
      val (es, _) = call(p, "Nope", Array.emptyByteArray)
      assert(es == 3)
      val (ds, _) = call(p, "ReadFilter",
        msg(b => b.bytes(3, predicate(measurementIs("cpu")))))
      assert(ds == 3, "missing read_source is INVALID_ARGUMENT")
    }
  }

  test("an unknown database or measurement is NOT_FOUND; malformed protobuf is INVALID_ARGUMENT") {
    withStorageGrpc(spark, cpuData) { (_, p) =>
      val nope = readSource(0x1, 0x2) // no such database
      def status(rpc: String, req: Array[Byte]): Int = call(p, rpc, req)._1
      // database-level metadata reads: NOT_FOUND, not "exists and is empty"
      assert(status("MeasurementNames", msg(b => b.bytes(1, nope))) == 5)
      assert(status("TagKeys", msg(b => b.bytes(1, nope))) == 5)
      assert(status("ReadSeriesCardinality", msg(b => b.bytes(1, nope))) == 5)
      assert(status("TagValues", msg { b =>
        b.bytes(1, nope); b.bytes(4, "host".getBytes(UTF_8)) }) == 5)
      assert(status("ReadFilter", msg { b =>
        b.bytes(1, nope); b.bytes(3, predicate(measurementIs("cpu"))) }) == 5)
      // a measurement the database does not have: NOT_FOUND on every read
      val mem = predicate(measurementIs("mem"))
      assert(status("ReadFilter", msg { b => b.bytes(1, source); b.bytes(3, mem) }) == 5)
      assert(status("ReadGroup", msg { b => b.bytes(1, source); b.bytes(3, mem)
        b.bytes(6, msg(a => a.varintField(1, 1))) }) == 5)
      assert(status("ReadWindowAggregate", msg { b => b.bytes(1, source)
        b.bytes(3, mem); b.varintField(4, 100L)
        b.bytes(5, msg(a => a.varintField(1, 1))) }) == 5)
      assert(status("TagKeys", msg { b => b.bytes(1, source); b.bytes(3, mem) }) == 5)
      assert(status("TagValues", msg { b => b.bytes(1, source); b.bytes(3, mem)
        b.bytes(4, "host".getBytes(UTF_8)) }) == 5)
      assert(status("ReadSeriesCardinality",
        msg { b => b.bytes(1, source); b.bytes(3, mem) }) == 5)
      val memScoped = msg { b => b.bytes(1, source); b.string(2, "mem") }
      assert(status("MeasurementTagKeys", memScoped) == 5)
      assert(status("MeasurementFields", memScoped) == 5)
      assert(status("MeasurementTagValues", msg { b => b.bytes(1, source)
        b.string(2, "mem"); b.bytes(3, "host".getBytes(UTF_8)) }) == 5)
      // the data is there: the same reads of cpu succeed
      assert(status("ReadSeriesCardinality", msg(b => b.bytes(1, source))) == 0)
      // malformed protobuf (a length-delimited field overrunning the
      // message) is INVALID_ARGUMENT on every RPC
      val bad = Array[Byte](0x0a, 0x7f, 0x01)
      for (rpc <- Seq("ReadFilter", "ReadGroup", "ReadWindowAggregate", "TagKeys",
          "TagValues", "MeasurementNames", "MeasurementTagKeys",
          "MeasurementTagValues", "MeasurementFields", "ReadSeriesCardinality"))
        assert(status(rpc, bad) == 3, rpc)
    }
  }

  // ---- a `_field` restriction: the series frames carry only that field

  /** Runs `body` against a storage gRPC server whose database (the
    * read_source 0xab/0xcd) holds `cpu` with fields usage and temp, where
    * host=c has no usage. */
  private def withTwoFields(body: Int => Unit): Unit =
    withStorageGrpc(spark,
      "cpu,host=a usage=1.5,temp=30.0 100\ncpu,host=a usage=2.5,temp=31.0 200\n" +
        "cpu,host=b usage=5.0,temp=20.0 100\ncpu,host=c temp=10.0 300") { (_, p) =>
      body(p)
    }

  private val cpu = measurementIs("cpu")
  private val usageOnly = predicate(logical(0, // AND
    cpu, cmp(R.Cmp.Equal, tagRef(fieldSentinel), litStr("usage")))) // _field

  private def readGroup(aggregate: Int, pred: Array[Byte] = usageOnly) = msg { b =>
    b.bytes(1, source)
    b.bytes(3, pred)
    b.bytes(4, "host".getBytes(UTF_8))
    b.varintField(5, 2) // Group::GROUP_BY
    b.bytes(6, msg(a => a.varintField(1, aggregate.toLong)))
  }

  /** The `_field` tag of every series frame a read returns, in order. */
  private def seriesFields(port: Int, rpc: String, req: Array[Byte]): Seq[String] = {
    val (status, resp) = call(port, rpc, req)
    assert(status == 0, s"$rpc: grpc-status $status")
    def fields(tags: R.Reader): Seq[String] = {
      val out = Seq.newBuilder[String]
      while (tags.hasMore) tags.key() match {
        case (1, 2) =>
          val tag = tags.sub()
          var kv = Map.empty[Int, String]
          while (tag.hasMore) tag.key() match {
            case (n, 2) => kv += n -> tag.stringField()
            case (_, wt) => tag.skip(wt)
          }
          if (kv.get(1).contains("_field")) out += kv.getOrElse(2, "")
        case (_, wt) => tags.skip(wt)
      }
      out.result()
    }
    resp.flatMap { m =>
      val r = new R.Reader(m)
      val out = Seq.newBuilder[String]
      while (r.hasMore) r.key() match {
        case (1, 2) =>
          val frame = r.sub()
          frame.key() match {
            case (1, 2) => out ++= fields(frame.sub()) // a series frame
            case (_, wt) => frame.skip(wt)
          }
        case (_, wt) => r.skip(wt)
      }
      out.result()
    }
  }

  test("ReadFilter with a _field restriction returns only that field's series") {
    withTwoFields { p =>
      val req = msg { b => b.bytes(1, source); b.bytes(3, usageOnly) }
      assert(seriesFields(p, "ReadFilter", req) == Seq("usage", "usage"))
    }
  }

  test("ReadGroup with a _field restriction returns only that field's series (sum and a selector)") {
    withTwoFields { p =>
      assert(seriesFields(p, "ReadGroup", readGroup(1)) == Seq("usage", "usage")) // SUM
      assert(seriesFields(p, "ReadGroup", readGroup(4)) == Seq("usage", "usage")) // MAX
    }
  }

  test("ReadWindowAggregate with a _field restriction returns only that field's series") {
    withTwoFields { p =>
      val req = msg { b =>
        b.bytes(1, source)
        b.bytes(3, usageOnly)
        b.varintField(4, 100L) // WindowEvery ns
        b.bytes(5, msg(a => a.varintField(1, 1))) // Aggregate SUM
      }
      assert(seriesFields(p, "ReadWindowAggregate", req) == Seq("usage", "usage"))
    }
  }

  test("ReadGroup with a selector: a series whose field is never selected has no series for it") {
    withTwoFields { p =>
      // host=c selects no usage, so it has only its temp series
      assert(seriesFields(p, "ReadGroup", readGroup(4, predicate(cpu))) ==
        Seq("temp", "usage", "temp", "usage", "temp"))
    }
  }

  test("TagValues across measurements reads only the measurements that have the key") {
    val facade = new HttpFacade(spark, port = 0, clockNs = () => 42L)
    val storage = StorageGrpc.dispatcher(facade)
    try {
      // two chunks each, so each measurement's first read builds a snapshot
      Seq("cpu,host=a usage=1.0 100", "cpu,host=b usage=2.0 200",
        "disk,dev=sda free=1.0 100", "disk,dev=sdb free=2.0 200").foreach { lp =>
        assert(HttpFacade.postWrite(facade.boundPort, Org, Bucket, lp) == 204)
      }
      // `key =~ /.*/` keeps the request on the scan path, whose view reads
      // this test counts: with no predicate it reads none (chunk summaries
      // answer it, ChunkSummarySpec)
      def tagValues(key: String): Either[String, Seq[String]] =
        storage(StorageGrpc.ServicePrefix + "TagValues", msg { b =>
          b.bytes(1, source)
          b.bytes(3, predicate(cmp(R.Cmp.Regex, tagRef(key), litRegex(".*"))))
          b.bytes(4, key.getBytes(UTF_8))
        }).map(resp => stringValues(resp.next()))
      def snapshotBuilds(): Long = {
        val conn = new URI(s"http://127.0.0.1:${facade.boundPort}/metrics").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        new String(conn.getInputStream.readAllBytes(), UTF_8).split("\n")
          .collectFirst { case l if l.startsWith("read_snapshot_builds ") =>
            l.split(" ")(1).toLong }.get
      }
      val before = snapshotBuilds()
      assert(tagValues("dev") == Right(Seq("sda", "sdb")))
      assert(snapshotBuilds() == before + 1, "only disk has a dev column")
      assert(tagValues("host") == Right(Seq("a", "b")))
      assert(snapshotBuilds() == before + 2)
      // a key no measurement has: no values, and no view read
      assert(tagValues("rack") == Right(Nil))
      // a key that is a field of some measurement is still an error
      assert(tagValues("free").isLeft)
      assert(snapshotBuilds() == before + 2)
    } finally facade.stop()
  }
}
