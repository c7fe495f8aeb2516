package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.StorageRequests._
import graft.core.InfluxQl
import graft.server.{StorageProtoReader => R}

/** The metadata RPCs answered from chunk summaries: a request the
  * summaries cover runs no Spark job, every other request scans as
  * before, and summaries persist with the chunks across a restart. */
class ChunkSummarySpec extends SparkSpec {

  /** 19 batches of `cpu` and `mem` (hosts h0..h3, times 1..19 s), and one
    * batch of `wide`, whose tag `id` has one value more than a summary
    * keeps: 20 chunks. */
  private def load(f: HttpFacade): Unit = {
    (1 to 19).foreach { i =>
      val m = if (i % 4 == 0) "mem" else "cpu"
      assert(f.writeLines(Db,
        s"$m,host=h${i % 4},region=r${i % 2} usage=$i ${i * 1000000000L}", 0).isRight)
    }
    val wide = (0 to graft.sources.StatsCatalog.MaxTagValues)
      .map(i => s"wide,id=i$i v=1 ${i + 1}").mkString("\n")
    assert(f.writeLines(Db, wide, 0).isRight)
  }

  private def withLoaded[A](body: (HttpFacade, Int) => A): A =
    withStorageGrpc(spark) { (f, p) => load(f); body(f, p) }

  /** A request's string values and the Spark jobs it ran. */
  private def values(p: Int, method: String, req: Array[Byte]): (Seq[String], Int) = {
    val ((status, resp), jobs) = countingJobs(call(p, method, req))
    assert(status == 0, s"$method: grpc-status $status")
    (stringValues(resp.head), jobs)
  }

  private def tagValuesReq(key: String, pred: Option[Array[Byte]] = None,
      range: Option[(Long, Long)] = None): Array[Byte] = msg { b =>
    b.bytes(1, source)
    range.foreach { case (s, e) => b.bytes(2, graft.StorageRequests.range(s, e)) }
    pred.foreach(n => b.bytes(3, predicate(n)))
    b.bytes(4, key.getBytes(UTF_8))
  }

  private def scoped(m: String): Array[Byte] = msg { b =>
    b.bytes(1, source); b.bytes(2, m.getBytes(UTF_8))
  }

  private def scopedValues(m: String, key: String): Array[Byte] = msg { b =>
    b.bytes(1, source); b.bytes(2, m.getBytes(UTF_8)); b.bytes(3, key.getBytes(UTF_8))
  }

  private val hosts = Seq("h0", "h1", "h2", "h3")
  /** The sentinel keys that frame a tag key list, as decoded strings. */
  private def framed(keys: String*): Seq[String] = "\u0000" +: keys :+ "\uFFFD"

  test("at 20 chunks, covered metadata requests run no Spark job") {
    withLoaded { (f, p) =>
      val sourceOnly = msg(b => b.bytes(1, source))
      val covered = Seq(
        ("TagValues", tagValuesReq("host"), hosts),
        ("TagValues", tagValuesReq("host", range = Some((0L, Long.MaxValue))), hosts),
        ("TagValues", tagValuesReq("host", Some(measurementIs("mem"))), Seq("h0")),
        ("TagValues", tagValuesReq("_measurement"), Seq("cpu", "mem", "wide")),
        ("TagKeys", sourceOnly, framed("host", "id", "region")),
        ("TagKeys", msg { b => b.bytes(1, source); b.bytes(3, predicate(measurementIs("cpu"))) },
          framed("host", "region")),
        ("MeasurementNames", sourceOnly, Seq("cpu", "mem", "wide")),
        ("MeasurementTagKeys", scoped("wide"), framed("id")),
        ("MeasurementTagValues", scopedValues("cpu", "region"), Seq("r0", "r1")))
      covered.foreach { case (method, req, want) =>
        val (got, jobs) = values(p, method, req)
        assert(got == want, method)
        assert(jobs == 0, s"$method $want ran $jobs jobs")
      }
    }
  }

  test("metadata requests the summaries do not cover scan") {
    withLoaded { (f, p) =>
      val usage = cmp(R.Cmp.Equal, tagRef(fieldSentinel), litStr("usage"))
      val fallbacks = Seq(
        "a partial range" -> (tagValuesReq("host",
          range = Some((2000000000L, 5000000000L))), Seq("h0", "h2", "h3")),
        "a tag expression" -> (tagValuesReq("region",
          Some(cmp(R.Cmp.Equal, tagRef("host"), litStr("h1")))), Seq("r1")),
        "a field list" -> (tagValuesReq("host", Some(usage)), hosts),
        "a capped tag" -> (tagValuesReq("id"),
          (0 to graft.sources.StatsCatalog.MaxTagValues).map(i => s"i$i").sorted))
      fallbacks.foreach { case (why, (req, want)) =>
        val (got, jobs) = values(p, "TagValues", req)
        assert(got == want, why)
        assert(jobs >= 1, s"$why ran no job")
      }
      // a 1.x DELETE tombstone on a selected measurement
      assert(f.planStatement(Db,
        InfluxQl.parseAll("DELETE FROM mem WHERE host = 'h0'").head).isRight)
      Seq(
        ("TagValues", tagValuesReq("host"), Seq("h1", "h2", "h3")),
        ("MeasurementNames", msg(b => b.bytes(1, source)), Seq("cpu", "wide")),
        ("MeasurementTagValues", scopedValues("mem", "host"), Nil)).foreach {
        case (method, req, want) =>
          val (got, jobs) = values(p, method, req)
          assert(got == want, method)
          assert(jobs >= 1, s"$method over a tombstone ran no job")
      }
      // a tombstone on an unselected measurement leaves the others covered
      assert(values(p, "MeasurementTagValues", scopedValues("cpu", "host"))._2 == 0)
    }
  }

  test("a SELECT INTO chunk gets its summary at the INTO") {
    withStorageGrpc(spark) { (f, p) =>
      assert(f.writeLines(Db, "cpu,host=a usage=1 1\ncpu,host=b usage=3 2", 0).isRight)
      assert(f.planStatement(Db, InfluxQl.parseAll(
        "SELECT mean(usage) AS usage INTO cpu_avg FROM cpu GROUP BY host").head).isRight)
      assert(values(p, "MeasurementTagValues", scopedValues("cpu_avg", "host")) ==
        ((Seq("a", "b"), 0)))
    }
  }

  test("a measurement whose chunks type a column two ways scans") {
    withStorageGrpc(spark) { (f, p) =>
      assert(f.writeLines(Db, "cpu,host=a v=1i 1", 0).isRight)
      assert(f.writeLines(Db, "cpu,host=b v=1.5 2", 0).isRight)
      val (got, jobs) = values(p, "TagValues", tagValuesReq("host"))
      assert(got == Seq("a", "b"))
      assert(jobs >= 1)
    }
  }

  test("summaries persist beside the chunks; a data dir without them scans") {
    val dir = Files.createTempDirectory("graft-summaries")
    def withFacade[A](body: (HttpFacade, Int) => A): A = {
      val f = new HttpFacade(spark, port = 0, clockNs = () => 42L,
        dataDir = Some(dir.toString))
      val g = IoxGrpc.start(f)
      try body(f, g.boundPort) finally { g.stop(); f.stop() }
    }
    try {
      withFacade { (f, _) =>
        Seq("cpu,host=a usage=1 1", "cpu,host=b usage=2 2", "mem,host=c free=3 3")
          .foreach(lp => assert(f.writeLines(Db, lp, 0).isRight))
      }
      val want = Seq(
        ("TagValues", tagValuesReq("host"), Seq("a", "b", "c")),
        ("TagKeys", msg(b => b.bytes(1, source)), framed("host")),
        ("MeasurementNames", msg(b => b.bytes(1, source)), Seq("cpu", "mem")))
      withFacade { (_, p) =>
        want.foreach { case (method, req, vs) =>
          assert(values(p, method, req) == ((vs, 0)), method)
        }
      }
      val summaries = Files.walk(dir).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString == graft.sources.StatsCatalog.StatsFile)
      assert(summaries.length == 3)
      summaries.foreach(Files.delete)
      withFacade { (_, p) =>
        want.foreach { case (method, req, vs) =>
          val (got, jobs) = values(p, method, req)
          assert(got == vs, method)
          assert(jobs >= 1, s"$method without summaries ran no job")
        }
      }
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
