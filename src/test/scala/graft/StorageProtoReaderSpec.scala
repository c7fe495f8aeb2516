package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.server.{StorageProto, StorageProtoReader => R}
import graft.StorageRequests._

/** Request-side protobuf decoding: byte-built tonic request messages
  * (storage_common.proto, predicate.proto Node trees) through the
  * hand-rolled reader, and end-to-end drives of the storage gRPC service
  * where the table arrives as the \x00 _measurement sentinel — the way a
  * real storage client addresses it. */
class StorageProtoReaderSpec extends SparkSpec {

  test("decodes the request family: range, source, predicate, extras") {
    val req = R.decodeReadFilter(msg { w =>
      w.bytes(1, msg(a => a.bytes(2,
        msg(rs => rs.varintField(1, 0xab).varintField(2, 0xcd)))))
      w.bytes(2, range(100, 300))
      w.bytes(3, predicate(cmp(R.Cmp.Equal, tagRef("host".getBytes(UTF_8)),
        litStr("a"))))
    })
    assert(req.range.contains((100L, 300L)))
    assert(req.databaseName.contains("00000000000000ab_00000000000000cd"))
    assert(req.predicate.isDefined)

    val group = R.decodeReadGroup(msg { w =>
      w.bytes(4, "host".getBytes(UTF_8)); w.bytes(4, "region".getBytes(UTF_8))
      w.varintField(5, 2) // GROUP_BY
      w.bytes(6, msg(a => a.varintField(1, 1))) // Aggregate{SUM}
    })
    assert(group.groupKeys == Seq("host", "region"))
    assert(group.group.contains(2) && group.aggregates == Seq(1))

    val win = R.decodeReadWindowAggregate(msg { w =>
      w.varintField(4, 60000000000L) // WindowEvery
      w.bytes(5, msg(a => a.varintField(1, 7))) // MEAN
      w.varintField(6, 5000000000L) // Offset
      w.bytes(7, msg(x => x
        .bytes(1, msg(d => d.varintField(2, 3))) // every: 3 months
        .bytes(2, msg(d => d.varintField(2, 1).varintField(3, 1))))) // offset: -1 month
    })
    assert(win.windowEveryNs == 60000000000L && win.offsetNs == 5000000000L)
    assert(win.aggregates == Seq(7))
    val wd = win.window.get
    assert(wd.every.get.months == 3L)
    assert(wd.offset.get.months == 1L && wd.offset.get.negative)

    val tv = R.decodeTagValues(msg(w => w.bytes(4, fieldSentinel)))
    assert(R.renderTagKey(tv.tagKey.get) == "_field")
    assert(R.renderTagKey("host".getBytes(UTF_8)) == "host")
  }

  test("Node trees convert: sentinels lift, tags compare, fields restrict") {
    val root = logical(0, // AND spine
      cmp(R.Cmp.Equal, tagRef(measurementSentinel), litStr("cpu")),
      cmp(R.Cmp.Equal, tagRef(fieldSentinel), litStr("usage")),
      cmp(R.Cmp.Equal, tagRef("host".getBytes(UTF_8)), litStr("a")),
      cmp(R.Cmp.Gt, fieldRef("usage"), litFloat(1.0)))
    val Right(dp) = R.toDecodedPredicate(Some(R.decodeNode(
      new R.Reader(root))))
    assert(dp.measurement.contains("cpu"))
    assert(dp.fields == Seq("usage"))
    assert(dp.exprs.size == 2) // host = 'a', usage > 1.0

    // regex + OR below the AND spine stays one boolean expression
    val orTree = logical(1,
      cmp(R.Cmp.Regex, tagRef("host".getBytes(UTF_8)), litRegex("^a.*")),
      cmp(R.Cmp.NotEqual, tagRef("region".getBytes(UTF_8)), litStr("x")))
    val Right(dp2) = R.toDecodedPredicate(Some(R.decodeNode(new R.Reader(orTree))))
    assert(dp2.exprs.size == 1 && dp2.measurement.isEmpty)

    // sentinel below an OR is the reference's unsupported position
    val bad = logical(1,
      cmp(R.Cmp.Equal, tagRef(measurementSentinel), litStr("cpu")),
      cmp(R.Cmp.Equal, tagRef("host".getBytes(UTF_8)), litStr("a")))
    assert(R.toDecodedPredicate(Some(R.decodeNode(new R.Reader(bad)))).isLeft)
  }

  test("facade serves protobuf read_group and tag_values end to end") {
    withStorageGrpc(spark,
      "cpu,host=a usage=1.5 100\ncpu,host=a usage=2.5 200\ncpu,host=b usage=5.0 100") { (_, p) =>
      def rpc(method: String, body: Array[Byte]): Seq[Array[Byte]] = {
        val (status, resp) = call(p, method, body)
        assert(status == 0, s"$method -> grpc-status $status")
        resp
      }

      // read_group: group by host, SUM, table via sentinel
      val groupReq = msg { b =>
        b.bytes(1, source)
        b.bytes(3, predicate(cmp(R.Cmp.Equal, tagRef(measurementSentinel),
          litStr("cpu"))))
        b.bytes(4, "host".getBytes(UTF_8))
        b.varintField(5, 2) // GROUP_BY
        b.bytes(6, msg(a => a.varintField(1, 1))) // SUM
      }
      // frame member sequence: group(7), series(1), points(2), per host
      val members = frames(rpc("ReadGroup", groupReq)).map(_._1)
      assert(members == Seq(7, 1, 2, 7, 1, 2), s"got $members")

      // tag_values for host via protobuf tag_key bytes
      val tvReq = msg { b => b.bytes(1, source); b.bytes(4, "host".getBytes(UTF_8)) }
      assert(stringValues(rpc("TagValues", tvReq).head) == Seq("a", "b"))

      // tag_values with the \xff sentinel lists field names
      val tf = rpc("TagValues", msg { b => b.bytes(1, source); b.bytes(4, fieldSentinel) })
      assert(stringValues(tf.head) == Seq("usage"))
    }
  }

  test("window aggregate request: singleton rule; flat fields beat the window message") {
    withStorageGrpc(spark, "cpu,host=a usage=1.0 100\ncpu,host=a usage=3.0 2000000100") {
      (_, p) =>
      def post(fields: StorageProto.Writer => Unit): (Int, Seq[Array[Byte]]) =
        call(p, "ReadWindowAggregate", msg { b => b.bytes(1, source); fields(b) })
      val measurementPred =
        predicate(cmp(R.Cmp.Equal, tagRef(measurementSentinel), litStr("cpu")))

      // two aggregates -> the reference's AggregateNotSingleton (expr.rs:553)
      val (two, _) = post { b =>
        b.bytes(3, measurementPred)
        b.varintField(4, 1000000000L)
        b.bytes(5, msg(a => a.varintField(1, 1)))
        b.bytes(5, msg(a => a.varintField(1, 4)))
      }
      assert(two == 3)

      // aggregate enum outside 0-7 -> unconvertible, not degraded to raw
      val (badEnum, _) = post { b =>
        b.bytes(3, measurementPred)
        b.varintField(4, 1000000000L)
        b.bytes(5, msg(a => a.varintField(1, 9)))
      }
      assert(badEnum == 3)

      // a Duration with BOTH months and nsecs nonzero -> the reference's
      // convert_duration rejects mixed units
      val (mixed, _) = post { b =>
        b.bytes(3, measurementPred)
        b.bytes(5, msg(a => a.varintField(1, 1)))
        b.bytes(7, msg(x => x.bytes(1,
          msg(d => d.varintField(1, 1000000000L).varintField(2, 3)))))
      }
      assert(mixed == 3)

      // nonzero flat WindowEvery wins over a conflicting window message
      // (expr.rs:568-570): 1s buckets -> the two points land in two
      // windows; if the (bogus 1000s) window message won there'd be one
      val (status, resp) = post { b =>
        b.bytes(3, measurementPred)
        b.varintField(4, 1000000000L) // flat: 1s
        b.bytes(5, msg(a => a.varintField(1, 1))) // SUM
        b.bytes(7, msg(x => x.bytes(1, msg(d => d.varintField(1, 1000000000000L)))))
      }
      assert(status == 0)
      var bucketStamps = 0
      frames(resp).foreach { case (member, body) =>
        if (member == 2) { // float points frame: count its timestamps
          val pf = new R.Reader(body)
          while (pf.hasMore) pf.key() match {
            case (1, 2) =>
              val packed = new R.Reader(pf.bytesField())
              while (packed.hasMore) { packed.fixed64(); bucketStamps += 1 }
            case (_, wt) => pf.skip(wt)
          }
        }
      }
      assert(bucketStamps == 2,
        s"1s flat windows -> 2 buckets; the bogus window message lost ($bucketStamps)")
    }
  }

  test("facade serves a protobuf-carried read_filter end to end") {
    withStorageGrpc(spark,
      "cpu,host=a usage=1.5 100\ncpu,host=a usage=2.5 200\ncpu,host=b usage=5.0 100") { (_, p) =>
      // the wire request: range [150, 300) AND host = 'a', table via the
      // \x00 sentinel; db via read_source
      val reqBytes = msg { b =>
        b.bytes(1, source)
        b.bytes(2, range(150, 300))
        b.bytes(3, predicate(logical(0,
          cmp(R.Cmp.Equal, tagRef(measurementSentinel), litStr("cpu")),
          cmp(R.Cmp.Equal, tagRef("host".getBytes(UTF_8)), litStr("a")))))
      }
      val (status, resp) = call(p, "ReadFilter", reqBytes)
      assert(status == 0)

      // decode the ReadResponse messages with the same reader: frames =
      // field 1, series oneof member 1 / float points member 2
      val fs = frames(resp)
      assert(fs.map(_._1) == Seq(1, 2), "one series, one points frame")
      val pts = new R.Reader(fs(1)._2)
      var ts: Seq[Long] = Nil
      while (pts.hasMore) pts.key() match {
        case (1, 2) =>
          val packed = new R.Reader(pts.bytesField())
          val b = Seq.newBuilder[Long]
          while (packed.hasMore) b += packed.fixed64()
          ts = b.result()
        case (_, wt) => pts.skip(wt)
      }
      assert(ts == Seq(200L), "range + tag predicate applied")

      // malformed protobuf -> INVALID_ARGUMENT, not a stack trace
      assert(call(p, "ReadFilter", Array[Byte](0x0a, 0x7f, 0x01))._1 == 3)
    }
  }
}
