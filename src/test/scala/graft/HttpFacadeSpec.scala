package graft

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import graft.server.{HttpFacade, StorageProto, StorageProtoReader => R}
import graft.streaming.DatabaseRules
import graft.ManagementCalls._
import graft.StorageRequests._

/** End-to-end drive of the HTTP wire facade (http.rs:364,462,595): the
  * SURVEY §7.2 minimum slice — ingest the committed transcription of the
  * reference's air_and_water.lp (test resource
  * `lineproto/air_and_water.lp`, FIXTURES.md §1) over POST /api/v2/write,
  * query it back over the SQL endpoint — plus the protocol edges (gzip,
  * size cap, errors, formats, dedup). */
class HttpFacadeSpec extends SparkSpec {

  private def fixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/lineproto/air_and_water.lp")
    try in.readAllBytes() finally in.close()
  }

  private def withFacade[A](f: HttpFacade => A): A = {
    val facade = new HttpFacade(spark, port = 0, clockNs = () => 42L)
    try f(facade) finally facade.stop()
  }

  private def post(port: Int, path: String, body: Array[Byte],
      gzip: Boolean = false): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    if (gzip) conn.setRequestProperty("Content-Encoding", "gzip")
    val payload = if (gzip) {
      val bos = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(bos)
      gz.write(body); gz.close()
      bos.toByteArray
    } else body
    conn.getOutputStream.write(payload)
    conn.getOutputStream.close()
    readResponse(conn)
  }

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    readResponse(conn)
  }

  private def readResponse(conn: HttpURLConnection): (Int, String) = {
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else new String(is.readAllBytes(), UTF_8)
    (status, body)
  }

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  test("minimum slice: LP fixture over HTTP write, SQL back over query endpoint") {
    withFacade { facade =>
      val p = facade.boundPort
      val (ws, _) = post(p, "/api/v2/write?org=myorg&bucket=mybucket", fixture)
      assert(ws == 204)

      val q = "SELECT state, city, location, surface_degrees, bottom_degrees, time " +
        "FROM h2o_temperature ORDER BY time, location"
      val (qs, body) = get(p,
        s"/iox/api/v1/databases/myorg_mybucket/query?q=${enc(q)}&format=csv")
      assert(qs == 400) // h2o has no city column -> analysis error surfaces
      assert(body.contains("query error"))

      val q2 = "SELECT state, location, surface_degrees, bottom_degrees, time " +
        "FROM h2o_temperature ORDER BY time, location"
      val (qs2, csv) = get(p,
        s"/iox/api/v1/databases/myorg_mybucket/query?q=${enc(q2)}&format=csv")
      assert(qs2 == 200)
      val lines = csv.trim.split("\n").toSeq
      assert(lines.head == "state,location,surface_degrees,bottom_degrees,time")
      assert(lines.size == 7) // 6 h2o_temperature lines in the fixture
      assert(lines(1) == "CA,coyote_creek,55.1,51.3,1568756160")
      assert(lines.last == "CA,santa_monica,63.6,49.2,1600756160")
    }
  }

  test("write: missing params, bad LP, oversized and gzip bodies") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write", "m f=1 1".getBytes(UTF_8))._1 == 400)
      val (bs, berr) = post(p, "/api/v2/write?org=o&bucket=b",
        "not a valid line!!!".getBytes(UTF_8))
      assert(bs == 400 && berr.contains("error parsing line protocol"))

      // gzip body parses after inflate
      val (gs, _) = post(p, "/api/v2/write?org=o&bucket=b",
        "m,t=a f=1i 5".getBytes(UTF_8), gzip = true)
      assert(gs == 204)
      val (qs, json) = get(p,
        s"/iox/api/v1/databases/o_b/query?q=${enc("SELECT t, f, time FROM m")}&format=json")
      assert(qs == 200 && json == """[{"t":"a","f":1,"time":5}]""")

      // >10MiB post-inflate -> 413 (decompression-bomb guard)
      val big = ("m f=1 1\n" * 1500000).getBytes(UTF_8) // ~12MiB
      assert(post(p, "/api/v2/write?org=o&bucket=b", big, gzip = true)._1 == 413)

      // the db-addressed v1 route honors Content-Encoding like v2 (r15):
      // an external client may gzip it too, and unknown encodings 400
      assert(post(p, "/iox/api/v1/write?db=o_b",
        "m,t=z f=7i 9".getBytes(UTF_8), gzip = true)._1 == 204)
      val (v1s, v1json) = get(p,
        s"/iox/api/v1/databases/o_b/query?q=${enc("SELECT t, f, time FROM m WHERE t = 'z'")}&format=json")
      assert(v1s == 200 && v1json == """[{"t":"z","f":7,"time":9}]""")
    }
  }

  test("multi-chunk upsert: later write wins per-field on equal (tags,time)") {
    withFacade { facade =>
      val p = facade.boundPort
      post(p, "/api/v2/write?org=o&bucket=b",
        "cpu,host=a usage=1.0,temp=30.0 100\ncpu,host=b usage=5.0 100".getBytes(UTF_8))
      post(p, "/api/v2/write?org=o&bucket=b",
        "cpu,host=a usage=2.0 100".getBytes(UTF_8))
      val q = "SELECT host, usage, temp, time FROM cpu ORDER BY host"
      val (_, csv) = get(p,
        s"/iox/api/v1/databases/o_b/query?q=${enc(q)}&format=csv")
      val lines = csv.trim.split("\n").toSeq
      // host=a: usage from chunk 2, temp carried from chunk 1 (last NON-NULL)
      assert(lines == Seq("host,usage,temp,time", "a,2.0,30.0,100", "b,5.0,,100"))
    }
  }

  test("stale temp views never leak across databases") {
    withFacade { facade =>
      val p = facade.boundPort
      // db A has 'cpu'; db B exists but has only 'mem'
      assert(post(p, "/api/v2/write?org=a&bucket=x",
        "cpu,host=h v=1.0 100".getBytes(UTF_8))._1 == 204)
      assert(post(p, "/api/v2/write?org=b&bucket=x",
        "mem,host=h v=2.0 100".getBytes(UTF_8))._1 == 204)
      // prime the catalog with A's views
      assert(get(p, s"/iox/api/v1/databases/a_x/query?q=${enc(
        "SELECT count(*) FROM cpu")}&format=csv")._1 == 200)
      // B must NOT resolve A's cpu view: table-not-found, not A's rows
      val (sb, bb) = get(p, s"/iox/api/v1/databases/b_x/query?q=${enc(
        "SELECT count(*) FROM cpu")}&format=csv")
      assert(sb == 400 && bb.toLowerCase.contains("cpu"), s"$sb $bb")
      // NaN renders as null, not a bare NaN token (invalid JSON)
      val (sn, bn) = get(p, s"/iox/api/v1/databases/a_x/query?q=${enc(
        "SELECT sqrt(v - 2.0) AS x FROM cpu")}&format=json")
      assert(sn == 200 && bn.contains("null") && !bn.contains("NaN"), bn)
    }
  }

  test("query endpoint: formats, unknown db, unknown format") {
    withFacade { facade =>
      val p = facade.boundPort
      post(p, "/api/v2/write?org=o&bucket=b", "m,t=x f=2.5 7".getBytes(UTF_8))
      assert(get(p, s"/iox/api/v1/databases/nope_db/query?q=${enc("SELECT 1")}")._1 == 404)
      assert(get(p,
        s"/iox/api/v1/databases/o_b/query?q=${enc("SELECT 1")}&format=xml")._1 == 400)

      val (_, pretty) = get(p,
        s"/iox/api/v1/databases/o_b/query?q=${enc("SELECT t, f FROM m")}")
      assert(pretty ==
        """+---+-----+
          || t | f   |
          |+---+-----+
          || x | 2.5 |
          |+---+-----+""".stripMargin)
    }
  }

  test("health, metrics, partitions") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(get(p, "/health") == (200, "OK"))
      post(p, "/api/v2/write?org=o&bucket=b",
        "m,t=x f=1.5,g=2i 1568756160000000000".getBytes(UTF_8))
      val (_, metrics) = get(p, "/metrics")
      assert(metrics.contains("ingest_lines_total 1"))
      assert(metrics.contains("ingest_fields_total 2"))
      val (ps, parts) = get(p, "/api/v1/partitions?org=o&bucket=b")
      assert(ps == 200)
      assert(parts == """[{"table":"m","partition_key":"2019-09-17"}]""")
    }
  }

  test("a fixed-length response does not wait on the client's delayed ACK") {
    withFacade { facade =>
      // headers and body go out as two writes; with Nagle on, the body
      // waits ~40 ms for the client's delayed ACK of the headers
      def roundTripMs(): Double = {
        val t0 = System.nanoTime()
        assert(get(facade.boundPort, "/health") == (200, "OK"))
        (System.nanoTime() - t0) / 1e6
      }
      roundTripMs() // connection set-up and class loading
      val ms = Seq.fill(10)(roundTripMs()).sorted
      assert((ms(4) + ms(5)) / 2 < 20.0, ms)
    }
  }

  test("pretty format caps rendered rows with a banner; csv streams them all") {
    withFacade { facade =>
      val p = facade.boundPort
      post(p, "/api/v2/write?org=o&bucket=b", "m,t=x f=1.0 100".getBytes(UTF_8))
      val over = graft.server.HttpFacade.PrettyMaxRows + 500
      val q = s"SELECT explode(sequence(1, $over)) AS n"
      val (ps, pretty) = get(p,
        s"/iox/api/v1/databases/o_b/query?q=${enc(q)}&format=pretty")
      assert(ps == 200)
      assert(pretty.linesIterator
        .count(l => l.startsWith("|") && !l.contains(" n ")) ==
        graft.server.HttpFacade.PrettyMaxRows)
      assert(pretty.endsWith("use format=csv or format=json for the full result"))
      // under the cap: no banner
      val (_, small) = get(p, s"/iox/api/v1/databases/o_b/query" +
        s"?q=${enc("SELECT 1 AS one")}&format=pretty")
      assert(!small.contains("capped"))
      // csv is the streaming path: every row arrives
      val (_, csv) = get(p,
        s"/iox/api/v1/databases/o_b/query?q=${enc(q)}&format=csv")
      assert(csv.trim.linesIterator.size == over + 1)
    }
  }

  test("management ListChunks: per-partition open chunks with row counts") {
    withFacade { facade =>
      val p = facade.boundPort
      // two write batches; the second spans two partition days
      post(p, "/api/v2/write?org=o&bucket=b",
        "m,t=x f=1.0 1568756160000000000".getBytes(UTF_8))
      post(p, "/api/v2/write?org=o&bucket=b",
        ("m,t=y f=2.0 1568756160000000000\n" +
          "m,t=y f=3.0 1568842560000000000").getBytes(UTF_8))
      val (cs, chunks) = get(p, "/iox/api/v1/chunks?org=o&bucket=b")
      assert(cs == 200)
      assert(chunks ==
        """[{"partition_key":"2019-09-17","table_name":"m","id":0,""" +
          """"storage":"OpenMutableBuffer","row_count":1},""" +
          """{"partition_key":"2019-09-17","table_name":"m","id":1,""" +
          """"storage":"OpenMutableBuffer","row_count":1},""" +
          """{"partition_key":"2019-09-18","table_name":"m","id":1,""" +
          """"storage":"OpenMutableBuffer","row_count":1}]""")
      assert(get(p, "/iox/api/v1/chunks?org=o&bucket=nope")._1 == 404)
    }
  }

  test("management partition/chunk actions walk the chunk state machine; operations track") {
    withFacade { facade =>
      val p = facade.boundPort
      post(p, "/api/v2/write?org=o&bucket=b",
        ("m,t=x f=1.0 1568756160000000000\n" +
          "m,t=y f=2.0 1568842560000000000").getBytes(UTF_8))
      withGrpc(facade) { g =>
        // list_partitions / get_partition (management.rs:243,265); an
        // absent partition is an empty response (management.rs:281-290)
        assert(listPartitions(g, "o_b") == ((0, Seq("2019-09-17", "2019-09-18"))))
        assert(getPartition(g, "o_b", "2019-09-17") == ((0, Some("2019-09-17"))))
        assert(getPartition(g, "o_b", "2030-01-01") == ((0, None)))
        assert(listPartitions(g, "nope")._1 == NotFound)

        // list_partition_chunks: the write batch is open
        assert(listPartitionChunks(g, "o_b", "2019-09-17") == ((0,
          Seq(HttpFacade.ChunkRow("2019-09-17", "m", 0, "OpenMutableBuffer", 1)))))

        // new_partition_chunk: rollover closes the open chunk
        assert(newPartitionChunk(g, "o_b", "2019-09-17", "m") == 0)
        assert(listPartitionChunks(g, "o_b", "2019-09-17")._2.map(_.storage) ==
          Seq("ClosedMutableBuffer"))
        assert(newPartitionChunk(g, "o_b", "2019-09-17", "nope") == NotFound)

        // a second write starts a FRESH open chunk alongside the closed one
        post(p, "/api/v2/write?org=o&bucket=b",
          "m,t=z f=3.0 1568756160000000001".getBytes(UTF_8))
        assert(listPartitionChunks(g, "o_b", "2019-09-17")._2.map(c => (c.id, c.storage)) ==
          Seq((0, "ClosedMutableBuffer"), (1, "OpenMutableBuffer")))

        // close_partition_chunk: chunk 0 moves to ReadBuffer, the tracked
        // operation comes back with the reference's CloseChunk job shape,
        // its description (job.rs:91) in system_operations
        val (cs, op) = closePartitionChunk(g, "o_b", "2019-09-17", "m", 0)
        assert(cs == 0 && op.map(o => (o.job, o.chunkId)) == Some(("CloseChunk", Some(0L))))
        val (ds, described) = get(p, s"/iox/api/v1/databases/o_b/query" +
          s"?q=${enc("SELECT kind, description FROM system_operations")}&format=csv")
        assert(ds == 200 && described.contains("CloseChunk,Loading chunk to ReadBuffer"),
          described)
        assert(listPartitionChunks(g, "o_b", "2019-09-17")._2
          .exists(c => c.id == 0 && c.storage == "ReadBuffer"))
        // ...and the moved chunk STAYS queryable (reference semantics: the
        // read buffer serves queries)
        val (qs, csv) = get(p, s"/iox/api/v1/databases/o_b/query" +
          s"?q=${enc("SELECT count(*) AS n FROM m")}&format=csv")
        assert(qs == 200 && csv.trim.linesIterator.toSeq.last == "3")
        // closing again is the reference's lifecycle error
        assert(closePartitionChunk(g, "o_b", "2019-09-17", "m", 0)._1 == InvalidArgument)
        assert(closePartitionChunk(g, "o_b", "2019-09-17", "m", 7)._1 == NotFound)

        // operations listing + per-id fetch (rpc/operations.rs)
        assert(listOperations(g).headOption.map(o => (o.name, o.done, o.cancelled)) ==
          Some(("0", true, false)))
        assert(getOperation(g, "0")._2.flatMap(_.chunkId) == Some(0L))
        assert(getOperation(g, "99")._1 == NotFound)
      }
    }
  }

  test("a chunk's stage follows it to its new id across DROP MEASUREMENT") {
    withFacade { facade =>
      val p = facade.boundPort
      val day = "1568756160000000000" // 2019-09-17
      for (lp <- Seq(s"a,t=x f=1.0 $day", s"b,t=x f=2.0 $day",
          s"a,t=y f=3.0 $day", s"c,t=x f=4.0 $day"))
        assert(post(p, "/api/v2/write?org=o&bucket=b", lp.getBytes(UTF_8))._1 == 204)
      withGrpc(facade) { g =>
        // chunks: a 0, b 1, a 2, c 3; b's chunk moves to the read buffer
        assert(closePartitionChunk(g, "o_b", "2019-09-17", "b", 1)._1 == 0)
        val (ds, db) = get(p, s"/query?db=o_b&q=${enc("DROP MEASUREMENT a")}")
        assert(ds == 200 && db == """{"results":[{"statement_id":0}]}""", db)
        // b is chunk 0 now and keeps its label; c, now at b's old id, is open
        assert(get(p, "/iox/api/v1/chunks?org=o&bucket=b") == ((200,
          """[{"partition_key":"2019-09-17","table_name":"b","id":0,""" +
            """"storage":"ReadBuffer","row_count":1},""" +
            """{"partition_key":"2019-09-17","table_name":"c","id":1,""" +
            """"storage":"OpenMutableBuffer","row_count":1}]""")))
        // the lifecycle checks follow the chunk too
        assert(closePartitionChunk(g, "o_b", "2019-09-17", "b", 0)._1 == InvalidArgument)
        assert(closePartitionChunk(g, "o_b", "2019-09-17", "c", 1)._1 == 0)
      }
    }
  }

  test("a database created through management but never written serves " +
      "the HTTP read routes; unknown names still 404") {
    withFacade { facade =>
      val p = facade.boundPort
      withGrpc(facade) { g =>
        assert(createDatabase(g, DatabaseRules("o_b")) == 0)

        assert(get(p, s"/iox/api/v1/databases/o_b/query?q=${enc("SELECT 1 AS one")}" +
          "&format=csv") == ((200, "one\n1\n")))
        assert(HttpFacade.doGet(p, "o_b", "SELECT 1 AS one") ==
          ((Seq("one"), Seq(Seq(1)))))
        assert(get(p, "/iox/api/v1/chunks?org=o&bucket=b") == ((200, "[]")))
        assert(listPartitions(g, "o_b") == ((0, Nil)))
        assert(get(p, "/api/v1/partitions?org=o&bucket=b") == ((200, "[]")))
        val (ss, shown) = get(p, s"/query?q=${enc("SHOW DATABASES")}")
        assert(ss == 200 && shown.contains("""["o_b"]"""), shown)

        assert(get(p, s"/iox/api/v1/databases/o_x/query?q=${enc("SELECT 1")}")._1 == 404)
        assert(intercept[RuntimeException](HttpFacade.doGet(p, "o_x", "SELECT 1"))
          .getMessage.contains("(404)"))
        assert(get(p, "/iox/api/v1/chunks?org=o&bucket=x")._1 == 404)
        assert(listPartitions(g, "o_x")._1 == NotFound)
        assert(get(p, "/api/v1/partitions?org=o&bucket=x")._1 == 404)
      }
    }
  }

  test("the management API has no HTTP routes: its old paths answer 404; " +
      "chunks, partitions and do_get still answer") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=o&bucket=b",
        "m,t=x f=1.0 1568756160000000000".getBytes(UTF_8))._1 == 204)
      def send(method: String, path: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:$p$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod(method)
        if (method != "GET") {
          conn.setDoOutput(true)
          conn.getOutputStream.write("""{"name":"o_b"}""".getBytes(UTF_8))
          conn.getOutputStream.close()
        }
        readResponse(conn)
      }
      val db = "/iox/api/v1/databases/o_b"
      val partition = s"$db/partitions/2019-09-17"
      Seq("GET" -> "/iox/api/v1/databases", "GET" -> s"$db/rules", "PUT" -> s"$db/rules",
        "GET" -> s"$db/partitions", "GET" -> partition, "GET" -> s"$partition/chunks",
        "POST" -> s"$partition/tables/m/chunks/new",
        "POST" -> s"$partition/tables/m/chunks/0/close",
        "GET" -> "/iox/api/v1/operations", "GET" -> "/iox/api/v1/operations/0")
        .foreach { case (method, path) =>
          assert(send(method, path) == ((404, s"""{"error":"no route for $path"}""")),
            s"$method $path")
        }
      assert(get(p, "/iox/api/v1/chunks?org=o&bucket=b") == ((200,
        """[{"partition_key":"2019-09-17","table_name":"m","id":0,""" +
          """"storage":"OpenMutableBuffer","row_count":1}]""")))
      assert(get(p, "/api/v1/partitions?org=o&bucket=b") ==
        ((200, """[{"table":"m","partition_key":"2019-09-17"}]""")))
      assert(HttpFacade.doGet(p, "o_b", "SELECT t FROM m") == ((Seq("t"), Seq(Seq("x")))))
    }
  }

  test("a measurement whose batches type a column two ways fails only the " +
      "InfluxQL statements that read it") {
    withFacade { facade =>
      val p = facade.boundPort
      for (lp <- Seq("cpu,host=a v=1 1000", "cpu,host=b v=2 2000",
          "disk,kind=k1 v=1 1000", "disk v=1,kind=1.5 2000"))
        assert(post(p, "/api/v2/write?org=o&bucket=b", lp.getBytes(UTF_8))._1 == 204)
      def influx(q: String): String = {
        val (s, body) = get(p, s"/query?db=o_b&q=${enc(q)}")
        assert(s == 200, body)
        body
      }
      // statements on cpu read cpu's chunks alone
      val selected = influx("SELECT v FROM cpu")
      assert(selected.contains("\"name\":\"cpu\"") && !selected.contains("error"), selected)
      assert(!influx("EXPLAIN SELECT v FROM cpu").contains("error"))
      // a FROM regex reads only the measurements it matches
      assert(influx("SELECT v FROM /^c/").contains("""["cpu",1000,1.0]"""))
      assert(influx("DELETE FROM cpu WHERE host = 'a'") ==
        """{"results":[{"statement_id":0}]}""")
      assert(influx("DROP SERIES FROM cpu WHERE host = 'b'") ==
        """{"results":[{"statement_id":0}]}""")
      assert(influx("SELECT v FROM cpu") ==
        """{"results":[{"statement_id":0,"series":[]}]}""")
      // a tag check still reads disk's chunks: kind is a tag in one of them
      assert(influx("DELETE FROM disk WHERE v = 1").contains("not tags: v"))
      // reading disk still fails, in-band
      assert(influx("SELECT v FROM disk").contains("\"error\""))
    }
  }

  test("flight do_get: ticket -> Arrow IPC stream round-trips all types (flight.rs:158)") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=myorg&bucket=mybucket", fixture)._1 == 204)
      // mixed types in one measurement: double, i64, bool, string + null
      val extra = ("m,tag=a f_d=1.5,f_i=7i,f_b=true,f_s=\"x\" 100\n" +
        "m,tag=b f_d=2.5,f_i=9i 200").getBytes(UTF_8)
      assert(post(p, "/api/v2/write?org=myorg&bucket=mybucket", extra)._1 == 204)

      val (cols, rows) = HttpFacade.doGet(p, "myorg_mybucket",
        "SELECT location, state, surface_degrees, time FROM h2o_temperature ORDER BY location, time")
      assert(cols == Seq("location", "state", "surface_degrees", "time"))
      assert(rows.size == 6)
      assert(rows.head == Seq("coyote_creek", "CA", 55.1, 1568756160L))
      assert(rows.last == Seq("santa_monica", "CA", 63.6, 1600756160L))

      val (mcols, mrows) = HttpFacade.doGet(p, "myorg_mybucket",
        "SELECT tag, f_d, f_i, f_b, f_s, time FROM m ORDER BY time")
      assert(mcols == Seq("tag", "f_d", "f_i", "f_b", "f_s", "time"))
      assert(mrows == Seq(
        Seq("a", 1.5, 7L, true, "x", 100L),
        Seq("b", 2.5, 9L, null, null, 200L))) // absent fields decode as null

      // a result spanning multiple IPC batches arrives whole
      val (_, many) = HttpFacade.doGet(p, "myorg_mybucket",
        "SELECT t1.location || t2.location AS l2 FROM h2o_temperature t1 CROSS JOIN h2o_temperature t2")
      assert(many.size == 36)

      // error surfaces: bad ticket, unknown database, bad SQL
      val bad = intercept[RuntimeException](HttpFacade.doGet(p, "nope_db", "SELECT 1"))
      assert(bad.getMessage.contains("404"))
      val badSql = intercept[RuntimeException](
        HttpFacade.doGet(p, "myorg_mybucket", "SELEKT 1"))
      assert(badSql.getMessage.contains("400"))
    }
  }

  test("ArrowIpc: multi-batch stream round-trips with nulls") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10).select(col("id"),
      (col("id") * 2.5).as("d"),
      when(col("id") % 2 === 0, concat(lit("s"), col("id"))).as("s"))
    val bos = new ByteArrayOutputStream()
    graft.server.ArrowIpc.writeStream(df, bos, batchRows = 3) // 4 batches
    val (cols, rows) = graft.server.ArrowIpc.readStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(cols == Seq("id", "d", "s"))
    assert(rows.size == 10)
    assert(rows(0) == Seq(0L, 0.0, "s0"))
    assert(rows(1) == Seq(1L, 2.5, null))
  }

  test("query endpoint streams csv chunked — no length prefix, no driver collect") {
    withFacade { facade =>
      val p = facade.boundPort
      post(p, "/api/v2/write?org=o&bucket=b",
        "m,t=x f=1.0 1\nm,t=y f=2.0 2".getBytes(UTF_8))
      val q = "SELECT t1.t, t2.f, t1.time FROM m t1 CROSS JOIN m t2 ORDER BY t1.t, t2.f"
      val conn = new URI(s"http://127.0.0.1:$p/iox/api/v1/databases/o_b/query" +
        s"?q=${enc(q)}&format=csv").toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      // chunked transfer = the body is produced incrementally; a
      // Content-Length would require buffering the full result first
      assert(conn.getHeaderField("Transfer-Encoding") == "chunked")
      assert(conn.getHeaderField("Content-Length") == null)
      val body = new String(conn.getInputStream.readAllBytes(), UTF_8)
      assert(body.trim.split("\n").toSeq ==
        Seq("t,f,time", "x,1.0,1", "x,2.0,1", "y,1.0,2", "y,2.0,2"))
    }
  }

  test("InfluxQL 1.x /query endpoint: raw, tag-split series, in-band errors") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=o&bucket=b", fixture)._1 == 204)

      // raw select: one unnamed-tag series, ns-epoch time first
      val (s1, b1) = get(p, s"/query?db=o_b&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature " +
          "WHERE location = 'puget_sound' ORDER BY time")}")
      assert(s1 == 200)
      assert(b1 == """{"results":[{"statement_id":0,"series":[""" +
        """{"name":"h2o_temperature","columns":["time","surface_degrees"],""" +
        """"values":[[1568756160,55.8],[1600756160,54.7]]}]}]}""")

      // grouped aggregate: one series object PER tag set, 1.x shape
      val (s2, b2) = get(p, s"/query?db=o_b&q=${enc(
        "SELECT last(surface_degrees) AS last_sd FROM h2o_temperature GROUP BY state")}")
      assert(s2 == 200)
      assert(b2.contains(""""tags":{"state":"CA"},"columns":["last_sd"],"values":[[63.6]]"""))
      assert(b2.contains(""""tags":{"state":"WA"},"columns":["last_sd"],"values":[[54.7]]"""))

      // now() resolves against the facade's injected clock (42 ns), so
      // `time > now()` keeps every fixture row and `time < now()` none —
      // deterministic proof the server clock, not the wall clock, drives
      // the 1.x time arithmetic
      val (sn, bn) = get(p, s"/query?db=o_b&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature " +
          "WHERE time > now() - 40ns + 1ns ORDER BY time")}")
      assert(sn == 200 && bn.contains("[1568756160,55.8]"))
      val (sn2, bn2) = get(p, s"/query?db=o_b&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature WHERE time < now()")}")
      assert(sn2 == 200 && !bn2.contains("55.8"))

      // errors ride inside the results array with HTTP 200 (1.x contract)
      val (s3, b3) = get(p, s"/query?db=o_b&q=${enc("SELECT nope(")}")
      assert(s3 == 200 && b3.contains(""""error":"influxql:"""))
      val (s4, b4) = get(p, s"/query?db=o_b&q=${enc("SELECT f FROM missing")}")
      assert(s4 == 200 && b4.contains("measurement not found"))

      // SHOW statements: schema exploration over every measurement
      val (s5, b5) = get(p, s"/query?db=o_b&q=${enc("SHOW MEASUREMENTS")}")
      assert(s5 == 200 && b5.contains(
        """"values":[["air_temperature"],["h2o_temperature"]]"""))
      val (s6, b6) = get(p, s"/query?db=o_b&q=${enc("SHOW TAG KEYS FROM h2o_temperature")}")
      assert(s6 == 200 &&
        b6.contains("""["h2o_temperature","location"]""") &&
        b6.contains("""["h2o_temperature","state"]"""))
      val (s7, b7) = get(p, s"/query?db=o_b&q=${enc(
        "SHOW TAG VALUES FROM h2o_temperature WITH KEY = state")}")
      assert(s7 == 200 && b7.contains("""["h2o_temperature","state","CA"]""") &&
        b7.contains("""["h2o_temperature","state","WA"]"""))
      val (s8, b8) = get(p, s"/query?db=o_b&q=${enc("SHOW DATABASES")}")
      assert(s8 == 200 && b8.contains(""""values":[["o_b"]]"""))

      // DELETE tombstones: acked bare, visible to EVERY read path
      val before = get(p, s"/query?db=o_b&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature WHERE location = 'santa_monica' ORDER BY time")}")._2
      assert(before.contains("[1568756160,65.2],[1600756160,63.6]"))
      val (sd, bd) = get(p, s"/query?db=o_b&q=${enc(
        "DELETE FROM h2o_temperature WHERE location = 'santa_monica' AND time < 1600000000")}")
      assert(sd == 200 && bd == """{"results":[{"statement_id":0}]}""")
      val after = get(p, s"/query?db=o_b&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature WHERE location = 'santa_monica' ORDER BY time")}")._2
      assert(after.contains(""""values":[[1600756160,63.6]]"""), after)
      // the SQL endpoint reads the same tombstoned view
      val sql = get(p, s"/iox/api/v1/databases/o_b/query?q=${enc(
        "SELECT count(*) AS n FROM h2o_temperature")}&format=csv")._2
      assert(sql.trim.split("\n").toSeq == Seq("n", "5"), sql)
      // field predicates are rejected like 1.x
      val (se, be) = get(p, s"/query?db=o_b&q=${enc(
        "DELETE FROM h2o_temperature WHERE surface_degrees > 60")}")
      assert(se == 200 && be.contains("tag conditions only"))
      // DELETE ... time < now() - dur resolves against the server clock
      // (42 ns here, so now() - 40ns tombstones nothing — the canonical
      // retention command must not error on now())
      val (sn3, bn3) = get(p, s"/query?db=o_b&q=${enc(
        "DELETE FROM h2o_temperature WHERE time < now() - 40")}")
      assert(sn3 == 200 && bn3 == """{"results":[{"statement_id":0}]}""", bn3)
      assert(get(p, s"/iox/api/v1/databases/o_b/query?q=${enc(
        "SELECT count(*) AS n FROM h2o_temperature")}&format=csv")._2
        .trim.split("\n").toSeq == Seq("n", "5"))

      // a db-less SHOW DATABASES is the 1.x client connect probe and
      // must not 404 (SHOW QUERIES likewise); db-reading statements
      // still require a valid db
      val (sp1, bp1) = get(p, s"/query?q=${enc("SHOW DATABASES")}")
      assert(sp1 == 200 && bp1.contains("o_b"), bp1)
      assert(get(p, s"/query?q=${enc("SHOW QUERIES")}")._1 == 200)
      assert(get(p, s"/query?q=${enc("SHOW MEASUREMENTS")}")._1 == 404)

      // SHOW SERIES and SHOW RETENTION POLICIES
      val series = get(p, s"/query?db=o_b&q=${enc("SHOW SERIES FROM air_temperature")}")._2
      assert(series.contains("air_temperature,location=coyote_creek,state=CA"))
      val rp = get(p, s"/query?db=o_b&q=${enc("SHOW RETENTION POLICIES")}")._2
      assert(rp.contains("""["autogen","0s","168h0m0s",1,true]"""), rp)

      // multi-statement q: one results entry per statement, id per 1.x;
      // a bad statement errors in-band without killing its neighbors
      val (s9, b9) = get(p, s"/query?db=o_b&q=${enc(
        "SHOW MEASUREMENTS; SELECT f FROM missing; " +
          "SELECT first(surface_degrees) FROM h2o_temperature")}")
      assert(s9 == 200)
      assert(b9.contains(""""statement_id":0,"series":"""))
      assert(b9.contains(""""statement_id":1,"error":"measurement not found: missing""""))
      assert(b9.contains(""""statement_id":2,"series":"""))
      assert(b9.contains(""""columns":["first"],"values":[[55.1]]"""))
    }
  }

  test("epoch= parameter scales the 1.x time axis (s/ms/us/ns)") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=o&bucket=b", fixture)._1 == 204)
      def first(epoch: String): String = get(p,
        s"/query?db=o_b&epoch=$epoch&q=${enc(
          "SELECT surface_degrees FROM h2o_temperature " +
            "WHERE location = 'puget_sound' ORDER BY time")}")._2
      // fixture times are small ns values; integer truncation per unit
      assert(first("ns").contains("[[1568756160,55.8]"), first("ns"))
      assert(first("us").contains("[[1568756,55.8]"), first("us"))
      assert(first("ms").contains("[[1568,55.8]"), first("ms"))
      assert(first("s").contains("[[1,55.8]"), first("s"))
      val (sb, bb) = get(p, s"/query?db=o_b&epoch=parsec&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature")}")
      assert(sb == 400 && bb.contains("invalid epoch unit"), bb)
    }
  }

  test("SHOW QUERIES lists in-flight requests; KILL QUERY cancels jobs") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=o&bucket=b", fixture)._1 == 204)

      // SHOW QUERIES lists itself (the 1.x behavior)
      val (s1, b1) = get(p, s"/query?db=o_b&q=${enc("SHOW QUERIES")}")
      assert(s1 == 200 && b1.contains("SHOW QUERIES"), b1)
      assert(b1.contains(
        """"columns":["qid","query","database","duration_us"]"""), b1)

      // KILL QUERY on an unknown id errors in-band
      val (s2, b2) = get(p, s"/query?db=o_b&q=${enc("KILL QUERY 424242")}")
      assert(s2 == 200 && b2.contains("no such query id"), b2)

      // KILL QUERY cancels the registered id's REAL Spark job group: a
      // background thread runs an effectively-unbounded job under
      // influxql-999; the statement must interrupt it
      facade.testRegisterQuery(999L, "o_b", "synthetic long scan")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val job = Future {
        spark.sparkContext.setJobGroup("influxql-999", "synthetic",
          interruptOnCancel = true)
        try spark.range(Long.MaxValue).filter("id % 7 = 3").count()
        finally spark.sparkContext.clearJobGroup()
      }
      // wait until the job is actually running under the group
      val t0 = System.nanoTime()
      while (spark.sparkContext.statusTracker
          .getJobIdsForGroup("influxql-999").isEmpty &&
          System.nanoTime() - t0 < 30e9) Thread.sleep(50)
      assert(spark.sparkContext.statusTracker
        .getJobIdsForGroup("influxql-999").nonEmpty, "job never started")
      val (s3, b3) = get(p, s"/query?db=o_b&q=${enc("KILL QUERY 999")}")
      assert(s3 == 200 && b3 == """{"results":[{"statement_id":0}]}""", b3)
      val outcome = Await.ready(job, 60.seconds).value.get
      assert(outcome.isFailure, "the job group cancellation must abort the job")
    }
  }

  test("EXPLAIN [ANALYZE]: the plan-inspection statement, engine-native") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=o&bucket=b", fixture)._1 == 204)
      val (s1, b1) = get(p, s"/query?db=o_b&q=${enc(
        "EXPLAIN SELECT mean(surface_degrees) FROM h2o_temperature GROUP BY state")}")
      assert(s1 == 200 && b1.contains(""""columns":["QUERY PLAN"]"""), b1)
      assert(b1.contains("Physical Plan"), b1)
      assert(b1.contains("HashAggregate"), b1)
      val (s2, b2) = get(p, s"/query?db=o_b&q=${enc(
        "EXPLAIN ANALYZE SELECT surface_degrees FROM h2o_temperature")}")
      assert(s2 == 200 && b2.contains(""""columns":["QUERY PLAN"]"""), b2)
      val (s3, b3) = get(p, s"/query?db=o_b&q=${enc(
        "EXPLAIN SELECT f FROM missing")}")
      assert(s3 == 200 && b3.contains("measurement not found"), b3)
    }
  }

  test("DROP SERIES and DROP MEASUREMENT: 1.x management statements") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=o&bucket=b", fixture)._1 == 204)

      // DROP SERIES with a tag condition: matching series vanish across
      // ALL time, on every read path
      val (sd, bd) = get(p, s"/query?db=o_b&q=${enc(
        "DROP SERIES FROM h2o_temperature WHERE location = 'santa_monica'")}")
      assert(sd == 200 && bd == """{"results":[{"statement_id":0}]}""")
      val after = get(p, s"/query?db=o_b&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature ORDER BY time")}")._2
      assert(!after.contains("65.2") && !after.contains("63.6"), after)
      assert(after.contains("55.8"), after)

      // time bounds and field predicates are rejected (1.x: DROP SERIES
      // selects by tags only; DELETE is the time-bounded form)
      val (st, bt) = get(p, s"/query?db=o_b&q=${enc(
        "DROP SERIES FROM h2o_temperature WHERE time < 1600000000")}")
      assert(st == 200 && bt.contains("tag conditions only"), bt)
      val (sf, bf) = get(p, s"/query?db=o_b&q=${enc(
        "DROP SERIES FROM h2o_temperature WHERE surface_degrees > 60")}")
      assert(sf == 200 && bf.contains("tag conditions only"), bf)

      // DROP MEASUREMENT removes it from the catalog entirely
      val (sm, bm) = get(p, s"/query?db=o_b&q=${enc(
        "DROP MEASUREMENT air_temperature")}")
      assert(sm == 200 && bm == """{"results":[{"statement_id":0}]}""")
      val shows = get(p, s"/query?db=o_b&q=${enc("SHOW MEASUREMENTS")}")._2
      assert(!shows.contains("air_temperature") &&
        shows.contains("h2o_temperature"), shows)
      val miss = get(p, s"/query?db=o_b&q=${enc(
        "SELECT f FROM air_temperature")}")._2
      assert(miss.contains("measurement not found"), miss)

      // DROP SERIES without WHERE tombstones every series
      val (sa, ba) = get(p, s"/query?db=o_b&q=${enc(
        "DROP SERIES FROM h2o_temperature")}")
      assert(sa == 200 && ba == """{"results":[{"statement_id":0}]}""")
      val empty = get(p, s"/query?db=o_b&q=${enc(
        "SELECT surface_degrees FROM h2o_temperature")}")._2
      assert(empty == """{"results":[{"statement_id":0,"series":[]}]}""",
        empty)

      // unknown measurements error in-band
      val (su, bu) = get(p, s"/query?db=o_b&q=${enc(
        "DROP MEASUREMENT missing")}")
      assert(su == 200 && bu.contains("measurement not found"), bu)
    }
  }

  test("flight do_put: Arrow IPC write lands as a queryable measurement") {
    withFacade { facade =>
      val p = facade.boundPort
      import spark.implicits._
      val df = Seq(("srv1", 1.5, 1000000000L), ("srv2", 2.5, 2000000000L))
        .toDF("host", "load", "time")
      val bos = new java.io.ByteArrayOutputStream()
      graft.server.ArrowIpc.writeStream(df, bos)
      val (st, body) = post(p,
        "/api/v2/flight/do_put?db=o_b&measurement=sys_load", bos.toByteArray)
      assert(st == 200 && body.contains("\"rows\":2"), body)
      // readable over do_get (SQL path) with the LP role convention
      val (cols, rows) = graft.server.HttpFacade.doGet(p, "o_b",
        "SELECT host, load, time FROM sys_load ORDER BY time")
      assert(cols == Seq("host", "load", "time"))
      assert(rows == Seq(Seq("srv1", 1.5, 1000000000L),
        Seq("srv2", 2.5, 2000000000L)))
      // and over the 1.x endpoint, where the string column split a series
      val (sq, bq) = get(p, s"/query?db=o_b&q=${enc(
        "SELECT load FROM sys_load GROUP BY host")}")
      assert(sq == 200 && bq.contains(""""tags":{"host":"srv2"}"""), bq)
      // a stream without the ns time column is a 400, not a silent write
      val noTime = Seq(("x", 1.0)).toDF("host", "load")
      val bos2 = new java.io.ByteArrayOutputStream()
      graft.server.ArrowIpc.writeStream(noTime, bos2)
      val (se, be) = post(p,
        "/api/v2/flight/do_put?db=o_b&measurement=bad", bos2.toByteArray)
      assert(se == 400 && be.contains("time"), be)
    }
  }

  test("flight: dictionary-encoded tag hydrates to dense utf8; server never " +
      "emits dictionaries (flight.rs:285-348 optimize_record_batch)") {
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, FieldVector, IntVector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
    import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
    import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType}
    import org.apache.spark.sql.types.{LongType, StringType}

    // hand-build the stream an Arrow-native client ships for a
    // low-cardinality tag: utf8 dictionary {east, west} + int32 indices
    val alloc = new RootAllocator()
    val dictVec = new VarCharVector("host_dict", alloc)
    dictVec.allocateNew()
    dictVec.setSafe(0, "east".getBytes(UTF_8))
    dictVec.setSafe(1, "west".getBytes(UTF_8))
    dictVec.setValueCount(2)
    val encoding = new DictionaryEncoding(7L, false, new ArrowType.Int(32, true))
    val dict = new Dictionary(dictVec, encoding)
    val hostField = new Field("host",
      new FieldType(true, new ArrowType.Int(32, true), encoding),
      java.util.Collections.emptyList())
    val host = new IntVector(hostField, alloc)
    host.allocateNew(3)
    host.setSafe(0, 0); host.setSafe(1, 1); host.setSafe(2, 0)
    host.setValueCount(3)
    val timeField = new Field("time",
      FieldType.nullable(new ArrowType.Int(64, true)),
      java.util.Collections.emptyList())
    val time = new BigIntVector(timeField, alloc)
    time.allocateNew(3)
    (0 until 3).foreach(i => time.setSafe(i, 1000000000L * (i + 1)))
    time.setValueCount(3)
    val root = new VectorSchemaRoot(Seq(hostField, timeField).asJava,
      Seq[FieldVector](host, time).asJava, 3)
    val bos = new ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root,
      new DictionaryProvider.MapDictionaryProvider(dict), bos)
    writer.start(); writer.writeBatch(); writer.end(); writer.close()
    root.close(); dictVec.close()
    val bytes = bos.toByteArray

    // ingest half: the decoder hydrates against the dictionary batch —
    // StringType schema, dense values, exactly as a dense send would land
    val (schema, rows) = graft.server.ArrowIpc.readStreamTyped(
      new java.io.ByteArrayInputStream(bytes))
    assert(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("host", StringType), ("time", LongType)))
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("east", 1000000000L), ("west", 2000000000L), ("east", 3000000000L)))

    withFacade { facade =>
      val p = facade.boundPort
      // end-to-end: the dictionary bytes land through do_put and query
      // back dense over do_get
      val (st, body) = post(p,
        "/api/v2/flight/do_put?db=o_b&measurement=dict_m", bytes)
      assert(st == 200 && body.contains("\"rows\":3"), body)
      val (cols, got) = graft.server.HttpFacade.doGet(p, "o_b",
        "SELECT host, time FROM dict_m ORDER BY time")
      assert(cols == Seq("host", "time"))
      assert(got == Seq(Seq("east", 1000000000L), Seq("west", 2000000000L),
        Seq("east", 3000000000L)))
    }

    // serve half: the engine's own IPC output carries NO dictionary
    // encodings — tags go dense utf8 (the reference's optimize_schema
    // unwraps dictionaries before send, flight.rs:320-360)
    import spark.implicits._
    val served = Seq(("east", 1L), ("west", 2L)).toDF("host", "time")
    val bos2 = new ByteArrayOutputStream()
    graft.server.ArrowIpc.writeStream(served, bos2)
    val alloc2 = new RootAllocator()
    val reader = new ArrowStreamReader(
      new java.io.ByteArrayInputStream(bos2.toByteArray), alloc2)
    try {
      val fields = reader.getVectorSchemaRoot.getSchema.getFields.asScala
      assert(fields.forall(_.getDictionary == null),
        s"server emitted a dictionary encoding: $fields")
      assert(fields.map(_.getName).toSeq == Seq("host", "time"))
    } finally { reader.close(); alloc2.close() }
    alloc.close()
  }

  test("SELECT INTO materializes a queryable measurement; snapshot is pinned") {
    withFacade { facade =>
      val p = facade.boundPort
      assert(post(p, "/api/v2/write?org=o&bucket=b", fixture)._1 == 204)
      // write the per-state maxima into a new measurement
      val (si, bi) = get(p, s"/query?db=o_b&q=${enc(
        "SELECT max(surface_degrees) AS peak INTO sd_peaks " +
          "FROM h2o_temperature GROUP BY state")}")
      assert(si == 200, bi)
      assert(bi.contains(""""name":"result""""), bi)
      assert(bi.contains(""""columns":["time","written"],"values":[[0,2]]"""), bi)
      // the target reads back like any measurement: GROUP BY dim became a
      // tag (series split), the aggregate a field, time landed at epoch 0
      val (sq, bq) = get(p, s"/query?db=o_b&q=${enc(
        "SELECT peak FROM sd_peaks GROUP BY state")}")
      assert(sq == 200)
      assert(bq.contains(""""tags":{"state":"CA"}"""), bq)
      assert(bq.contains("[0,65.2]"), bq)
      assert(bq.contains("[0,55.8]"), bq)
      assert(get(p, s"/query?db=o_b&q=${enc("SHOW MEASUREMENTS")}")._2
        .contains("sd_peaks"))
      // pinned snapshot: a later source write must NOT rewrite the target
      assert(post(p, "/api/v2/write?org=o&bucket=b",
        "h2o_temperature,location=x,state=CA surface_degrees=99.9 1700000000000000000"
          .getBytes("UTF-8"))._1 == 204)
      val again = get(p, s"/query?db=o_b&q=${enc(
        "SELECT peak FROM sd_peaks GROUP BY state")}")._2
      assert(again.contains("[0,65.2]") && !again.contains("99.9"), again)
    }
  }

  test("writeResult streams a 200k-row result through a bounded sink") {
    // rows flow straight to the sink through ResultRows.stream: memory is
    // one partition + the 64KiB writer buffer, not the result size — the sink
    // here never stores a byte, only counts lines
    import org.apache.spark.sql.functions._
    val df = spark.range(200000).select(col("id"), (col("id") % 7).as("m"))
    var lines = 0L
    val sink = new java.io.OutputStream {
      override def write(b: Int): Unit = if (b == '\n') lines += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        var i = off
        while (i < off + len) { if (b(i) == '\n') lines += 1; i += 1 }
      }
    }
    HttpFacade.writeResult(df, "csv", sink)
    assert(lines == 200001L) // header + 200k rows

    // json through the same writer stays valid and complete
    val small = spark.range(3).select(col("id"))
    assert(HttpFacade.renderResult(small, "json") ==
      """[{"id":0},{"id":1},{"id":2}]""")
  }

  // ---- minimal proto3 reader (wire spec only) for the storage responses

  private def pbVarint(b: Array[Byte], pos: Int): (Long, Int) = {
    var v = 0L; var shift = 0; var i = pos; var more = true
    while (more) {
      val x = b(i); v |= (x & 0x7fL) << shift; shift += 7; i += 1
      more = (x & 0x80) != 0
    }
    (v, i)
  }

  private def pbFields(b: Array[Byte]): Seq[(Int, Either[Long, Array[Byte]])] = {
    var i = 0; val out = Seq.newBuilder[(Int, Either[Long, Array[Byte]])]
    while (i < b.length) {
      val (key, p1) = pbVarint(b, i)
      ((key & 7).toInt: @unchecked) match {
        case 0 => val (v, p2) = pbVarint(b, p1); out += (key >> 3).toInt -> Left(v); i = p2
        case 1 => // sfixed64/fixed64/double: 8 bytes little-endian
          val v = b.slice(p1, p1 + 8).zipWithIndex
            .map { case (x, j) => (x & 0xffL) << (8 * j) }.sum
          out += (key >> 3).toInt -> Left(v); i = p1 + 8
        case 2 =>
          val (len, p2) = pbVarint(b, p1)
          out += (key >> 3).toInt -> Right(b.slice(p2, p2 + len.toInt))
          i = p2 + len.toInt
      }
    }
    out.result()
  }

  private def pbSfixed64s(b: Array[Byte]): Seq[Long] =
    b.grouped(8).map(_.zipWithIndex.map { case (x, i) => (x & 0xffL) << (8 * i) }.sum).toSeq

  test("measurement-scoped storage routes decode their OWN protobuf " +
      "layout (measurement=2, not the read_filter field set)") {
    withStorageGrpc(spark, "cpu,host=a usage=1.5 100\nmem,region=r free=1.0 100") { (_, p) =>
      def rpc(method: String, body: Array[Byte]): Array[Byte] = {
        val (status, resp) = call(p, method, body)
        assert(status == 0, s"$method grpc-status $status")
        resp.flatten.toArray
      }
      def strings(b: Array[Byte]): Seq[String] =
        pbFields(b).collect { case (1, Right(v)) =>
          new String(v.toArray, UTF_8) }
      // MeasurementTagKeysRequest: source=1, measurement=2 — the
      // measurement restriction must hold (misparsed as a range before)
      val keys = strings(rpc("MeasurementTagKeys",
        msg { w => w.bytes(1, source); w.string(2, "cpu") }))
      assert(keys.contains("host") && !keys.contains("region"), keys)
      // MeasurementTagValuesRequest: measurement=2, tag_key=3
      val vals = strings(rpc("MeasurementTagValues",
        msg { w => w.bytes(1, source); w.string(2, "cpu")
          w.bytes(3, "host".getBytes(UTF_8)) }))
      assert(vals == Seq("a"), vals)
    }
  }

  test("storage read_filter + capabilities speak the reference protobuf (service.rs:212,567)") {
    withStorageGrpc(spark,
      "cpu,host=a usage=1.5 100\ncpu,host=a usage=2.5 200\ncpu,host=b usage=5.0 100") { (_, p) =>
      // the ReadResponse messages of a read, concatenated: proto
      // repeated-field concatenation makes them one valid message
      def readFilterBytes(req: Array[Byte]): Array[Byte] = {
        val (status, resp) = call(p, "ReadFilter", req)
        assert(status == 0)
        resp.flatten.toArray
      }
      val cpu = msg { b => b.bytes(1, source); b.bytes(3, predicate(measurementIs("cpu"))) }

      val frames = pbFields(readFilterBytes(cpu)).map {
        case (1, Right(frame)) => pbFields(frame).head
        case other => fail(s"unexpected top-level field $other")
      }
      // series(host=a), points, series(host=b), points — oneof members 1/2
      assert(frames.map(_._1) == Seq(1, 2, 1, 2))
      val Right(seriesA) = frames(0)._2
      val tagsA = pbFields(seriesA).collect { case (1, Right(t)) =>
        val kv = pbFields(t).toMap
        new String(kv(1).toOption.get, UTF_8) -> new String(kv(2).toOption.get, UTF_8)
      }
      // reference tag order: _field, _measurement, then series tags
      assert(tagsA == Seq("_field" -> "usage", "_measurement" -> "cpu", "host" -> "a"))
      val Right(pointsA) = frames(1)._2
      val pa = pbFields(pointsA).toMap
      assert(pbSfixed64s(pa(1).toOption.get) == Seq(100L, 200L))
      assert(pbSfixed64s(pa(2).toOption.get)
        .map(java.lang.Double.longBitsToDouble) == Seq(1.5, 2.5))

      // time-range restriction reaches the predicate: [150, 300) keeps
      // only host=a's t=200 point
      val ranged = pbFields(readFilterBytes(msg { b =>
        b.bytes(1, source); b.bytes(2, range(150, 300))
        b.bytes(3, predicate(measurementIs("cpu")))
      }))
      assert(ranged.size == 2)

      // capabilities: byte-identical to the pinned encoding
      val (cs, caps) = call(p, "Capabilities", Array.emptyByteArray)
      assert(cs == 0)
      assert(caps.flatten.toArray.sameElements(
        graft.server.StorageProto.capabilitiesResponse()))

      // unknown table -> NOT_FOUND
      assert(call(p, "ReadFilter", msg { b =>
        b.bytes(1, source); b.bytes(3, predicate(measurementIs("nope")))
      })._1 == 5)
    }
  }

  test("remaining storage RPC surface: groups, windows, metadata, cardinality (service.rs:218-782)") {
    withStorageGrpc(spark,
      "cpu,host=a usage=1.5 100\ncpu,host=a usage=2.5 200\n" +
        "cpu,host=b usage=5.0 100\n" +
        "mem,host=a,region=r free=10.0,load=3i 150") { (_, p) =>

      def rpcBytes(method: String, body: Array[Byte]): Array[Byte] = {
        val (status, resp) = call(p, method, body)
        assert(status == 0, s"$method failed: grpc-status $status")
        resp.flatten.toArray
      }
      /** A request of [[Db]] with `fields` after its read_source. */
      def req(fields: StorageProto.Writer => Unit): Array[Byte] =
        msg { b => b.bytes(1, source); fields(b) }
      def where(nodes: Array[Byte]*): Array[Byte] =
        predicate(if (nodes.size == 1) nodes.head else logical(0, nodes: _*))
      def tagEq(k: String, v: String) = cmp(R.Cmp.Equal, tagRef(k), litStr(v))
      def stringValues(b: Array[Byte]): Seq[Seq[Byte]] =
        pbFields(b).collect { case (1, Right(v)) => v.toSeq }
      def asStrings(vs: Seq[Seq[Byte]]): Seq[String] =
        vs.map(v => new String(v.toArray, UTF_8))

      // tag_keys with table: sentinel 0x00, host, sentinel 0xff
      val tk = stringValues(rpcBytes("TagKeys",
        req(_.bytes(3, where(measurementIs("cpu"))))))
      assert(tk == Seq(Seq[Byte](0), "host".getBytes(UTF_8).toSeq, Seq[Byte](-1)))
      // db-level (no table): keys merge across measurements
      val tkDb = stringValues(rpcBytes("TagKeys", req(_ => ())))
      assert(asStrings(tkDb.slice(1, tkDb.size - 1)) == Seq("host", "region"))

      // tag_values: plain key, then the reference's meta keys
      assert(asStrings(stringValues(rpcBytes("TagValues", req { b =>
        b.bytes(3, where(measurementIs("cpu"))); b.bytes(4, "host".getBytes(UTF_8))
      }))) == Seq("a", "b"))
      assert(asStrings(stringValues(rpcBytes("TagValues",
        req(_.bytes(4, measurementSentinel))))) == Seq("cpu", "mem"))
      assert(asStrings(stringValues(rpcBytes("MeasurementTagValues", req { b =>
        b.string(2, "cpu"); b.bytes(3, fieldSentinel)
      }))) == Seq("usage"))
      assert(asStrings(stringValues(rpcBytes("TagValues",
        req(_.bytes(4, fieldSentinel))))) == Seq("free", "load", "usage"))

      // measurement_names with and without a time range
      assert(asStrings(stringValues(rpcBytes("MeasurementNames", req(_ => ())))) ==
        Seq("cpu", "mem"))
      assert(asStrings(stringValues(rpcBytes("MeasurementNames",
        req(_.bytes(2, range(200, 300)))))) == Seq("cpu"))

      // measurement_fields: (key, FieldType, last ns timestamp) per field
      val mf = pbFields(rpcBytes("MeasurementFields", req(_.string(2, "mem")))).collect {
        case (1, Right(f)) =>
          val kv = pbFields(f)
          (new String(kv.collectFirst { case (1, Right(v)) => v }.get, UTF_8),
            kv.collectFirst { case (2, Left(v)) => v }.getOrElse(0L),
            kv.collectFirst { case (3, Left(v)) => v }.get)
      }
      assert(mf == Seq(("free", 0L, 150L), ("load", 1L, 150L)))

      // read_series_cardinality: per-table and database-level
      def int64s(b: Array[Byte]): Seq[Long] =
        pbFields(b).collect { case (1, Right(packed)) =>
          var i = 0; val out = Seq.newBuilder[Long]
          while (i < packed.length) {
            val (v, ni) = pbVarint(packed, i); out += v; i = ni
          }
          out.result()
        }.flatten
      assert(int64s(rpcBytes("ReadSeriesCardinality",
        req(_.bytes(3, where(measurementIs("cpu")))))) == Seq(2L))
      assert(int64s(rpcBytes("ReadSeriesCardinality", req(_ => ()))) == Seq(3L))

      // read_group by host: group frame (oneof member 7) then the group's
      // series/points pairs, per group (data.rs:75-121)
      def readGroup(aggregate: Int, groupKeys: String*): Array[Byte] = req { b =>
        b.bytes(3, where(measurementIs("cpu")))
        groupKeys.foreach(k => b.bytes(4, k.getBytes(UTF_8)))
        b.varintField(5, 2) // GROUP_BY
        b.bytes(6, msg(a => a.varintField(1, aggregate.toLong)))
      }
      val rg = pbFields(rpcBytes("ReadGroup", readGroup(1, "host"))) // SUM
        .map { case (1, Right(frame)) => pbFields(frame).head
               case other => fail(s"unexpected field $other") }
      assert(rg.map(_._1) == Seq(7, 1, 2, 7, 1, 2))
      val Right(ptsA) = rg(2)._2
      val pa = pbFields(ptsA).toMap
      assert(pbSfixed64s(pa(1).toOption.get) == Seq(200L)) // time = max(time)
      assert(pbSfixed64s(pa(2).toOption.get)
        .map(java.lang.Double.longBitsToDouble) == Seq(4.0)) // 1.5 + 2.5

      // selector aggregate rides the per-field selected timestamp
      val rgFirst = pbFields(rpcBytes("ReadGroup", readGroup(5, "host"))) // FIRST
        .map { case (1, Right(frame)) => pbFields(frame).head
               case other => fail(s"unexpected field $other") }
      val Right(ptsFirstA) = rgFirst(2)._2
      val pfa = pbFields(ptsFirstA).toMap
      assert(pbSfixed64s(pfa(1).toOption.get) == Seq(100L)) // first's OWN time
      assert(pbSfixed64s(pfa(2).toOption.get)
        .map(java.lang.Double.longBitsToDouble) == Seq(1.5))

      // read_window_aggregate: stop-labeled buckets per series
      def windowed(aggregate: Int)(window: StorageProto.Writer => Unit) = req { b =>
        b.bytes(3, where(measurementIs("cpu")))
        window(b)
        b.bytes(5, msg(a => a.varintField(1, aggregate.toLong)))
      }
      val rw = pbFields(rpcBytes("ReadWindowAggregate",
        windowed(1)(_.varintField(4, 100L)))) // SUM, WindowEvery 100 ns
        .map { case (1, Right(frame)) => pbFields(frame).head
               case other => fail(s"unexpected field $other") }
      assert(rw.map(_._1) == Seq(1, 2, 1, 2))
      val Right(wptsA) = rw(1)._2
      val wa = pbFields(wptsA).toMap
      assert(pbSfixed64s(wa(1).toOption.get) == Seq(200L, 300L))
      assert(pbSfixed64s(wa(2).toOption.get)
        .map(java.lang.Double.longBitsToDouble) == Seq(1.5, 2.5))

      // windowed aggregate without an aggregate kind is a client error
      def status(method: String, body: Array[Byte]): Int = call(p, method, body)._1
      assert(status("ReadWindowAggregate", windowed(0)(_ => ())) == 3) // NONE
      // ...as is a windowed aggregate without any window width
      assert(status("ReadWindowAggregate", windowed(1)(_ => ())) == 3)
      // non-positive or overflowing widths are client errors too
      assert(status("ReadWindowAggregate", windowed(1)(_.varintField(4, 0L))) == 3)
      assert(status("ReadWindowAggregate", windowed(1)(_.bytes(7, msg(w => w.bytes(1,
        msg(d => d.varintField(2, 4294967296L))))))) == 3) // every: 2^32 months
      // a group key that is not a tag is a client error, not a server error
      assert(status("ReadGroup", readGroup(1, "usage")) == 3)
      // an unknown database is NOT_FOUND on metadata RPCs, not "empty"
      val nope = msg(b => b.bytes(1, readSource(0x1, 0x2)))
      assert(status("MeasurementNames", nope) == 5)
      assert(status("TagKeys", nope) == 5)
      // list elements containing ']' survive the JSON parse
      assert(graft.core.Json.strArrayField(
        """{"group_keys": ["rack]1", "host"]}""", "group_keys") ==
        Seq("rack]1", "host"))

      // request predicates: tag equality and regex restrict the series
      // set; a field restriction reaches the projection
      val predFrames = pbFields(rpcBytes("ReadFilter",
        req(_.bytes(3, where(measurementIs("cpu"), tagEq("host", "a"))))))
        .map { case (1, Right(frame)) => pbFields(frame).head
               case other => fail(s"unexpected field $other") }
      assert(predFrames.map(_._1) == Seq(1, 2)) // ONE series (host=a) + points
      val regexFrames = pbFields(rpcBytes("ReadFilter", req(_.bytes(3, where(
        measurementIs("cpu"), cmp(R.Cmp.Regex, tagRef("host"), litRegex("^[ab]$")))))))
      assert(regexFrames.size == 4) // hosts a and b both match
      // tag_values under a tag equality predicate
      assert(asStrings(stringValues(rpcBytes("TagValues", req { b =>
        b.bytes(3, where(measurementIs("cpu"), tagEq("host", "b")))
        b.bytes(4, "host".getBytes(UTF_8))
      }))) == Seq("b"))
    }
  }

  test("db name mapping percent-encodes non-alphanumerics (names.rs:18)") {
    assert(HttpFacade.dbName("my org", "bucket/1") == "my%20org_bucket%2F1")
    assert(HttpFacade.dbName("org", "bucket") == "org_bucket")
  }

  test("shard routing: a write matching a remote-targeted table lands " +
      "queryable on the REMOTE; unmatched lines stay local") {
    // the grpc-router role (server/src/lib.rs:716-773): shard config maps
    // table regex -> shard id, the remotes registry maps shard id -> a
    // downstream server, and the facade forwards matching lines there.
    // Loopback second facade = the remote.
    def rules(json: String): DatabaseRules =
      DatabaseRules.fromJson(json).fold(e => fail(e), identity)
    withFacade { local =>
      withFacade { remote =>
        val pl = local.boundPort
        val pr = remote.boundPort
        withGrpc(local) { g =>
          local.updateRemote(7, s"127.0.0.1:$pr")
          assert(createDatabase(g, rules("""{"name":"o_b","shard_config":""" +
            """{"specific_targets":[{"regex":"^water","shard":7}]}}""")) == 0)
          val lp = "water,city=SF level=1.5 100\nair,city=SF temp=70.25 100"
          val (ws, _) = post(pl, "/api/v2/write?org=o&bucket=b", lp.getBytes(UTF_8))
          assert(ws == 204)
          // water landed on the remote and is queryable THERE
          val (qs, body) = get(pr, "/iox/api/v1/databases/o_b/query?q=" +
            enc("SELECT city, level FROM water") + "&format=csv")
          assert(qs == 200 && body.contains("SF") && body.contains("1.5"),
            s"water not queryable on remote: $qs $body")
          // air stayed local
          val (qa, bodyA) = get(pl, "/iox/api/v1/databases/o_b/query?q=" +
            enc("SELECT city, temp FROM air") + "&format=csv")
          assert(qa == 200 && bodyA.contains("70.25"),
            s"air not queryable locally: $qa $bodyA")

          // ---- remote QUERY routing (r15, the read twin of the above) ----
          // a query whose only table is remote-owned PROXIES to the remote:
          // the ROUTER returns the remote's rows
          val (qw, bodyW) = get(pl, "/iox/api/v1/databases/o_b/query?q=" +
            enc("SELECT city, level FROM water") + "&format=csv")
          assert(qw == 200 && bodyW.contains("SF") && bodyW.contains("1.5"),
            s"router did not return the remote's rows: $qw $bodyW")
          // scatter-gather: a JOIN across the remote table and a local one
          // plans locally over the fetched remote view
          val (qj, bodyJ) = get(pl, "/iox/api/v1/databases/o_b/query?q=" +
            enc("SELECT w.level, a.temp FROM water w JOIN air a ON w.city = a.city") +
            "&format=csv")
          assert(qj == 200 && bodyJ.contains("1.5") && bodyJ.contains("70.25"),
            s"cross-shard join failed: $qj $bodyJ")
          // a remote table named only inside a subquery expression is
          // routed too: scatter-gather, not a local table-not-found
          val (qi, bodyI) = get(pl, "/iox/api/v1/databases/o_b/query?q=" +
            enc("SELECT a.temp FROM air a WHERE a.city IN (SELECT city FROM water)") +
            "&format=csv")
          assert(qi == 200 && bodyI.contains("70.25"),
            s"subquery table was not routed: $qi $bodyI")
          // a shard id with no configured remote fails loudly (ShardNotFound)
          assert(updateDatabase(g, rules("""{"name":"o_b","shard_config":""" +
            """{"specific_targets":[{"regex":"^water","shard":9}]}}""")) == 0)
          val (ws2, body2) = post(pl, "/api/v2/write?org=o&bucket=b",
            "water,city=LA level=9.0 200".getBytes(UTF_8))
          assert(ws2 == 400 && body2.contains("shard not found: 9"),
            s"unresolvable shard did not fail loudly: $ws2 $body2")
          // ... on the query side too
          val (qs2, qbody2) = get(pl, "/iox/api/v1/databases/o_b/query?q=" +
            enc("SELECT * FROM water") + "&format=csv")
          assert(qs2 == 400 && qbody2.contains("shard not found: 9"),
            s"query-side ShardNotFound missing: $qs2 $qbody2")
          // with the shard config dropped, the local store provably never
          // held the routed table (the write really did forward)
          assert(updateDatabase(g, rules("""{"name":"o_b"}""")) == 0)
          val (qw2, bodyW2) = get(pl, "/iox/api/v1/databases/o_b/query?q=" +
            enc("SELECT * FROM water") + "&format=csv")
          assert(qw2 != 200 || !bodyW2.contains("1.5"),
            s"water leaked into the local store: $bodyW2")
        }
      }
    }
  }
}
