package graftbench

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.server.{ArrowIpc, FlightGrpc, GrpcClient, GrpcServer, HttpFacade, StorageGrpc, StorageProto, StorageProtoReader => R}
import ServerLoad.{Model, Op}

/** `server-mixed`: one in-process `HttpFacade` plus a `GrpcServer` routing
  * to `StorageGrpc` and `FlightGrpc`, driven over loopback sockets by a
  * closed loop of four clients, each owning one database (a traced run
  * first adds a one-client phase). Writes go over HTTP (`/api/v2/write`), reads over
  * HTTP (SQL csv, InfluxQL `/query`) and gRPC (ReadFilter, ReadGroup,
  * ReadWindowAggregate, TagValues, Flight DoGet). Every response is decoded
  * in full and checked against [[ServerLoad.Model]]; a mismatch is a failed
  * op. */
object Server {
  val OpKinds: Seq[String] = ServerLoad.ReadKinds :+ "write"
  val LoadRounds = 3
  /** Warm-up: rounds over every op kind from one client, spread over the
    * databases, then this long of the four-client loop, so the timed phase
    * starts with the concurrent paths warm too. */
  val WarmRounds = 1
  val WarmLoopS = 6.0
  val Clients = 4

  private val OrgHex = f"${0xbeL}%016x"
  private def bucketHex(db: Int) = f"${db + 1L}%016x"
  def dbName(db: Int): String = s"${OrgHex}_${bucketHex(db)}"

  final class Stack(spark: org.apache.spark.sql.SparkSession) {
    val facade = new HttpFacade(spark, port = 0)
    private val storage = StorageGrpc.dispatcher(facade)
    private val flight = FlightGrpc.dispatcher(facade)
    val grpc = new GrpcServer((path, req) =>
      if (path.startsWith(FlightGrpc.ServicePrefix)) flight(path, req)
      else storage(path, req))
    def httpPort: Int = facade.boundPort
    def grpcPort: Int = grpc.boundPort
    def stop(): Unit = { grpc.stop(); facade.stop() }
  }

  /** One stretch of phase 2, traced or not, with the monitor-blocked ms of
    * the server threads and the JVM counters around it. */
  final case class Slice(traced: Boolean, recs: Seq[Rec], wallS: Double,
      blockedMs: Long, w0: Long, w1: Long, before: Probe.JvmSnap, after: Probe.JvmSnap)

  /** One completed op: kind, start/end in nanoTime and wall ms, the
    * benchmark's own encode/decode/check ns, response bytes. */
  final case class Rec(kind: String, ok: Boolean, n0: Long, n1: Long,
      w0: Long, w1: Long, clientNs: Long, respBytes: Long) {
    def ms: Double = if (ok) (n1 - n0) / 1e6 else Double.PositiveInfinity
    def isRead: Boolean = kind != "write"
  }

  def run(ctx: Main.Ctx): Main.Outcome = {
    val spark = ctx.spark
    val seed = ctx.opts.seed
    if (ctx.opts.trace) Probe.enableContentionMonitoring()

    // ---- set-up: start the servers and load the databases LoadRounds
    // times (keeping the last), then warm every op kind up
    var stack: Stack = null
    var models: IndexedSeq[Model] = null
    val loadS = (0 until LoadRounds).map { round =>
      if (stack != null) stack.stop()
      val t = System.nanoTime()
      stack = new Stack(spark)
      models = (0 until ServerLoad.Dbs).map(db => new Model(seed, db))
      models.foreach(load(stack, _))
      (System.nanoTime() - t) / 1e9
    }
    val client = new Client(stack, models)
    val warmStart = System.nanoTime()
    val warmRounds = (0 until WarmRounds).map { round =>
      val t = System.nanoTime()
      val recs = OpKinds.zipWithIndex.map { case (k, i) =>
        client.run(Op(k, (round + i) % ServerLoad.Dbs, round * 7919 + i)) }
      (recs, (System.nanoTime() - t) / 1e9)
    }
    val cursor = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val loopT = System.nanoTime()
    val warm = warmRounds.flatMap(_._1) ++ closedLoop(client, seed, Clients, WarmLoopS, cursor)
    val loopS = (System.nanoTime() - loopT) / 1e9
    System.gc()
    val jitS = Probe.awaitJitQuiet(Batch.JitQuietMs, Batch.JitWaitMaxMs)
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val sessionS = (ctx.sessionReadyMs - ctx.jvmStartMs) / 1000.0
    val setupS = sessionS + Stats.median(loadS) + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.2fs loads " +
      s"${loadS.map(s => f"$s%.2f").mkString(",")}s warm-up ${f"$warmS%.2f"}s " +
      s"(rounds ${warmRounds.map(r => f"${r._2}%.2f").mkString(",")}s, loop ${f"$loopS%.2f"}s, " +
      f"JIT wait $jitS%.2fs)")

    val probe = ctx.probe
    val rtt = probe.map(_ => (pings(() => client.health()), pings(() => client.capabilities())))
    val chunksStart = probe.map(_ => client.chunksPerDb())

    // ---- phase 1 (traced runs only): one client over all databases, for
    // the uncontended latency and the Spark work behind each request.
    // Phase 2: four clients, one database each. A traced run splits it into
    // untraced / traced / traced / untraced slices, so the trace overhead is
    // measured in one process with the drift (JIT, chunk growth) cancelled.
    val r = ctx.opts.seconds.toDouble
    probe.foreach(_.install())
    val p1Start = System.currentTimeMillis()
    val p1Recs = if (probe.isDefined) closedLoop(client, seed, 1, r / 3, cursor) else Nil
    val p1End = System.currentTimeMillis()
    probe.foreach { pr => pr.drain(); pr.uninstall() }
    val slices = (if (probe.isDefined) Seq(false, true, true, false) else Seq(false)).map { tr =>
      if (tr) probe.get.install()
      val blocked0 = if (tr) Probe.blockedMs(BlockedThreads) else 0L
      val before = Probe.jvmSnap()
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val recs = closedLoop(client, seed, Clients, if (probe.isDefined) r / 6 else r, cursor)
      val wallS = (System.nanoTime() - n0) / 1e9
      val w1 = System.currentTimeMillis()
      val blocked = if (tr) Probe.blockedMs(BlockedThreads) - blocked0 else 0L
      val after = Probe.jvmSnap()
      if (tr) { probe.get.drain(); probe.get.uninstall() }
      Slice(tr, recs, wallS, blocked, w0, w1, before, after)
    }
    val heapMb = Probe.retainedHeapMb()
    val chunksEnd = probe.map(_ => client.chunksPerDb())
    val lpParse = probe.map(_ => lpParseMbS(models))
    stack.stop()

    val p2Recs = slices.flatMap(_.recs)
    val p2Wall = slices.map(_.wallS).sum
    val all = warm ++ p1Recs ++ p2Recs
    val attempted = all.size.toLong
    val failed = all.count(!_.ok).toLong
    val e2e = endToEnd(setupS, p2Recs, p2Wall)

    val metrics = probe match {
      case None => e2e
      case Some(pr) =>
        // slices are short, so compare read latency rather than throughput,
        // which the ops still in flight at each slice's end would distort
        def readP50(tr: Boolean) =
          Stats.median(slices.filter(_.traced == tr).flatMap(_.recs).filter(_.isRead).map(_.ms))
        val traced = slices.filter(_.traced)
        val tracedRecs = traced.flatMap(_.recs)
        val p1 = new Layers.Window(pr, p1Start, p1End)
        def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
        val reads = p2Recs.filter(_.isRead).map(_.ms)
        val writes = p2Recs.filterNot(_.isRead).map(_.ms)
        val routes = Layers.ServerRoutes.flatMap { k =>
          val xs = p2Recs.filter(_.kind == k).map(_.ms)
          Seq((s"server.${k}_p50_ms", pct(xs, 0.5), "ms"), (s"server.${k}_p90_ms", pct(xs, 0.9), "ms"))
        }
        Layers.complete(Layers.sparkTotals(traced.map(s => new Layers.Window(pr, s.w0, s.w1)),
            traced.map(s => (s.before, s.after))) ++ Seq(
          ("jvm.retained_heap_mb", heapMb, "MB"),
          ("transport.http_rtt_ms", rtt.get._1, "ms"),
          ("transport.grpc_rtt_ms", rtt.get._2, "ms")) ++ routes ++ Seq(
          ("server.read_p50_ms", pct(reads, 0.5), "ms"),
          ("server.read_p99_ms", pct(reads, 0.99), "ms"),
          ("server.read_p50_ms_c1", pct(p1Recs.filter(_.isRead).map(_.ms), 0.5), "ms"),
          ("server.write_p95_ms", pct(writes, 0.95), "ms"),
          ("server.blocked_ms_per_op", traced.map(_.blockedMs).sum.toDouble / math.max(1, tracedRecs.size), "ms"),
          ("server.jobs_per_op", p1.jobs.size.toDouble / math.max(1, p1Recs.size), "count"),
          ("server.task_ms_per_op", p1.taskRunMs.toDouble / math.max(1, p1Recs.size), "ms"),
          ("server.analysis_ms_per_op", p1.plans.map(_.analysisMs).sum.toDouble / math.max(1, p1Recs.size), "ms"),
          ("server.chunks_per_db_start", chunksStart.get, "count"),
          ("server.chunks_per_db_end", chunksEnd.get, "count"),
          ("wire.resp_kb_per_read", p2Recs.filter(_.isRead).map(_.respBytes).sum / 1024.0 /
            math.max(1, p2Recs.count(_.isRead)), "KB"),
          ("client.ms_per_op", p2Recs.map(_.clientNs).sum / 1e6 / math.max(1, p2Recs.size), "ms"),
          ("sources.lp_parse_mb_s", lpParse.get, "MB/s"),
          ("trace.overhead_pct", 100.0 * (readP50(true) / readP50(false) - 1), "%")))
    }
    def tail(xs: Seq[Double], p: Double) = Json.obj(Seq("n" -> xs.size.toString,
      "supported" -> Stats.tailSupported(xs.size, p).toString))
    val sidecar = Seq(
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "load_s" -> Json.arr(loadS.map(Json.num)), "warmup_s" -> Json.num(warmS),
        "warmup_round_s" -> Json.arr(warmRounds.map(r => Json.num(r._2))),
        "warmup_loop_s" -> Json.num(loopS),
        "jit_wait_s" -> Json.num(jitS))),
      "phase1_ops" -> p1Recs.size.toString,
      "retained_heap_mb" -> Json.num(heapMb),
      "phase2" -> Json.obj(Seq("ops" -> p2Recs.size.toString, "wall_s" -> Json.num(p2Wall),
        "gc_ms" -> slices.map(x => x.after.gcMs - x.before.gcMs).sum.toString,
        "jit_ms" -> slices.map(x => x.after.jitMs - x.before.jitMs).sum.toString,
        "thirds" -> Json.arr(thirds(p2Recs).map(t => Json.num(
          Stats.geomean(Stats.medianBy(t.filter(_.isRead))(_.kind, _.ms / 1000.0))))),
        "read_p90_tail" -> tail(p2Recs.filter(_.isRead).map(_.ms), 0.9),
        "read_p99_tail" -> tail(p2Recs.filter(_.isRead).map(_.ms), 0.99),
        "write_p95_tail" -> tail(p2Recs.filterNot(_.isRead).map(_.ms), 0.95),
        "by_kind" -> Json.obj(OpKinds.map { k =>
          val xs = p2Recs.filter(_.kind == k)
          k -> Json.obj(Seq("n" -> xs.size.toString, "failed" -> xs.count(!_.ok).toString,
            "p50_ms" -> Json.num(if (xs.isEmpty) 0 else Stats.median(xs.map(_.ms)))))
        }))),
      "failed_kinds" -> Json.arr(all.filterNot(_.ok).map(_.kind).distinct.map(Json.str))
    ) ++ probe.map(_ => "end_to_end" -> Json.metrics(e2e)) ++
      probe.map(pr => "spans" -> Json.arr(p1Recs.zipWithIndex.flatMap { case (rec, i) =>
        val op = Stats.Span(i * 1000L + 1, 0, rec.kind, rec.w0, rec.w1)
        op +: new Layers.Window(pr, rec.w0, rec.w1).jobs.zipWithIndex.map { case (j, k) =>
          Stats.Span(op.id + 1 + k, op.id, s"job ${j.id}", j.interval._1, j.interval._2) }
      }.map(Layers.spanJson))).toSeq
    Main.Outcome(attempted, failed, metrics, sidecar)
  }

  /** Phase-2 ops split by start time into three equal stretches, to tell
    * drift within a run from differences between runs. */
  private def thirds(recs: Seq[Rec]): Seq[Seq[Rec]] = if (recs.isEmpty) Nil else {
    val t0 = recs.map(_.n0).min
    val span = math.max(1L, recs.map(_.n0).max - t0 + 1)
    (0 until 3).map(i => recs.filter(r => (r.n0 - t0) * 3 / span == i))
  }

  /** The facade's request threads and the gRPC dispatch threads: where the
    * planning lock and the per-database persist locks are taken. */
  private val BlockedThreads = Seq("http-facade", "grpc-dispatch")

  /** `query_gmean_s` weighs every read kind alike: the geometric mean of
    * each kind's median latency, so the seed's op order, which decides how
    * many reads of each kind fit in the run, does not move it. */
  private def endToEnd(setupS: Double, recs: Seq[Rec], wallS: Double): Seq[(String, Double, String)] =
    Seq(("setup_s", setupS, "s"),
      ("query_gmean_s", Stats.geomean(Stats.medianBy(recs.filter(_.isRead))(_.kind, _.ms / 1000.0)), "s"),
      ("ops_per_s", recs.count(_.ok) / wallS, "1/s"))

  private def load(stack: Stack, m: Model): Unit = {
    val bodies = ServerLoad.initialBatches(m.seed, m.db).map { b =>
      m.apply(b); ServerLoad.rfLp(m.series, b)
    } :+ ServerLoad.tvLp(m.tv)
    bodies.foreach { b =>
      val bytes = ServerLoad.body(b)
      m.bodies += bytes
      val status = HttpFacade.postWrite(stack.httpPort, OrgHex, bucketHex(m.db), b)
      require(status == 204, s"initial load of ${dbName(m.db)} answered $status")
    }
  }

  /** Runs `clients` closed-loop clients for `seconds`: each sends its next
    * op when the previous one has completed. Client i works on database i;
    * a single client spreads over all of them. Each client's place in its
    * op sequence is kept in `cursor` across calls. */
  private def closedLoop(client: Client, seed: Long, clients: Int, seconds: Double,
      cursor: java.util.concurrent.ConcurrentHashMap[Int, Int]): Seq[Rec] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Rec]]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val id = if (clients == 1) -1 else c
        val recs = Vector.newBuilder[Rec]
        var n = cursor.getOrDefault(id, 0)
        var ops = ServerLoad.pass(seed, id, n / ServerLoad.PassOps, id)
        while (System.nanoTime() < deadline) {
          if (n % ServerLoad.PassOps == 0) ops = ServerLoad.pass(seed, id, n / ServerLoad.PassOps, id)
          recs += client.run(ops(n % ServerLoad.PassOps))
          n += 1
        }
        cursor.put(id, n)
        results.put(c, recs.result())
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (0 until clients).flatMap(c => results.get(c))
  }

  private def pings(f: () => Unit): Double =
    Stats.median((0 until 30).map { _ =>
      val t = System.nanoTime(); f(); (System.nanoTime() - t) / 1e6 })

  /** MB/s of `LineProtocol.parseLines` over every body this run wrote. */
  private def lpParseMbS(models: Seq[Model]): Double = {
    val bodies = models.flatMap(_.bodies).map(b => new String(b, UTF_8))
    val mb = bodies.map(_.length).sum / 1048576.0
    var n = 0
    val t = System.nanoTime()
    while (n < 3 || System.nanoTime() - t < 300000000L) {
      bodies.foreach(b => graft.sources.LineProtocol.parseLines(b.linesIterator).foreach(_ => ()))
      n += 1
    }
    n * mb / ((System.nanoTime() - t) / 1e9)
  }

  /** The benchmark's client: builds each request, sends it over a real
    * socket, decodes the whole response and checks it. */
  final class Client(stack: Stack, models: IndexedSeq[Model]) {
    private val mapper = new ObjectMapper()
    def run(op: Op): Rec = {
      val m = models(op.db)
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      var clientNs = 0L
      var bytes = 0L
      // each call: (encode) -> transport -> (decode + check)
      def timedClient[A](f: => A): A = {
        val t = System.nanoTime(); try f finally clientNs += System.nanoTime() - t
      }
      val ok = try {
        op.kind match {
          case "write" => m.synchronized {
            val (points, body) = timedClient {
              val pts = ServerLoad.writeBatch(m.seed, m.db, m.writes)
              (pts, ServerLoad.body(ServerLoad.rfLp(m.series, pts)))
            }
            val (status, resp) = http("POST", s"/api/v2/write?org=$OrgHex&bucket=${bucketHex(m.db)}", body)
            bytes = resp.length
            timedClient {
              if (status == 204) { m.apply(points); m.writes += 1; m.bodies += body }
              status == 204
            }
          }
          case "sql" =>
            val x = op.arg % ServerLoad.RfCards(0)
            val q = s"SELECT t1, count(*) AS n, sum(f) AS s FROM rf WHERE t0 = 'v$x' GROUP BY t1 ORDER BY t1"
            val (status, resp) = http("GET", s"/iox/api/v1/databases/${dbName(op.db)}/query?q=${enc(q)}&format=csv", null)
            bytes = resp.length
            timedClient {
              val lines = new String(resp, UTF_8).split("\n").map(_.trim).filter(_.nonEmpty)
              val got = lines.drop(1).map(_.split(",")).map(a => a(0) -> ((a(1).toLong, a(2).toDouble))).toMap
              status == 200 && lines.headOption.contains("t1,n,s") &&
                got == groupCountSum(m, 0, x, 1)
            }
          case "influxql" =>
            val x = op.arg % ServerLoad.RfCards(3)
            val q = s"SELECT count(f), sum(f) FROM rf WHERE t3 = 'v$x'"
            val (status, resp) = http("GET", s"/query?db=${dbName(op.db)}&q=${enc(q)}", null)
            bytes = resp.length
            timedClient {
              val rows = m.rows(3, x)
              val series = mapper.readTree(resp).path("results").path(0).path("series")
              val (n, s) = if (series.size == 0) (0L, 0.0) else {
                val cols = series.path(0).path("columns").elements.asScala.map(_.asText).toSeq
                val v = series.path(0).path("values").path(0)
                (v.path(cols.indexOf("count")).asLong, v.path(cols.indexOf("sum")).asDouble)
              }
              status == 200 && n == rows.size && s == rows.map(_._2).sum
            }
          case "read_filter" =>
            val x = op.arg % ServerLoad.RfCards(1)
            val req = timedClient(msg { b =>
              b.bytes(1, readSource(op.db))
              b.bytes(3, predicate(and(measurementIs("rf"), tagIs("t1", s"v$x"))))
            })
            val (status, frames) = grpc("ReadFilter", req)
            bytes = frames.map(_.length.toLong).sum
            timedClient {
              val series = decodeSeries(frames)
              val rows = m.rows(1, x)
              status == 0 && series.forall(_._1.get("t1").contains(s"v$x")) &&
                series.map(_._1).distinct.size == rows.map(_._1._1).toSet.size &&
                series.map(_._2.size).sum == rows.size &&
                series.flatMap(_._2).sum == rows.map(_._2).sum
            }
          case "read_group" =>
            val req = timedClient(msg { b =>
              b.bytes(1, readSource(op.db))
              b.bytes(3, predicate(measurementIs("rf")))
              b.bytes(4, "t0".getBytes(UTF_8))
              b.varintField(5, 2) // GROUP_BY
              b.bytes(6, msg(a => a.varintField(1, 1))) // SUM
            })
            val (status, frames) = grpc("ReadGroup", req)
            bytes = frames.map(_.length.toLong).sum
            timedClient {
              val groups = decodeGroups(frames)
              val want = m.rf.groupBy { case ((s, _), _) => s"v${m.series(s)(0)}" }
                .map { case (k, rs) => k -> rs.values.sum }
              status == 0 && groups == want
            }
          case "read_window_aggregate" =>
            val x = op.arg % ServerLoad.RfCards(2)
            val req = timedClient(msg { b =>
              b.bytes(1, readSource(op.db))
              b.bytes(3, predicate(and(measurementIs("rf"), tagIs("t2", s"v$x"))))
              b.varintField(4, ServerLoad.WindowNs)
              b.bytes(5, msg(a => a.varintField(1, 1))) // SUM
            })
            val (status, frames) = grpc("ReadWindowAggregate", req)
            bytes = frames.map(_.length.toLong).sum
            timedClient {
              val series = decodeSeries(frames)
              val rows = m.rows(2, x)
              val windows = rows.map { case ((s, st), _) =>
                (s, Math.floorDiv(ServerLoad.timeNs(st), ServerLoad.WindowNs)) }.toSet
              status == 0 && series.forall(_._1.get("t2").contains(s"v$x")) &&
                series.map(_._1).distinct.size == rows.map(_._1._1).toSet.size &&
                series.map(_._2.size).sum == windows.size &&
                series.flatMap(_._2).sum == rows.map(_._2).sum
            }
          case "tag_values" =>
            val key = op.arg % ServerLoad.TvKeys.size
            val req = timedClient(msg { b =>
              b.bytes(1, readSource(op.db))
              b.bytes(4, ServerLoad.TvKeys(key).getBytes(UTF_8))
            })
            val (status, frames) = grpc("TagValues", req)
            bytes = frames.map(_.length.toLong).sum
            timedClient {
              val values = frames.flatMap(stringValues)
              status == 0 && values.size == values.distinct.size && values.toSet == m.tagValues(key)
            }
          case "do_get" =>
            val x = op.arg % ServerLoad.RfCards(2)
            val sql = s"SELECT t4, count(*) AS n FROM rf WHERE t2 = 'v$x' GROUP BY t4"
            val ticket = timedClient(msg(w => w.bytes(1,
              s"""{"database_name":"${dbName(op.db)}","sql_query":"$sql"}""".getBytes(UTF_8))))
            val (status, data) = grpcCall(FlightGrpc.ServicePrefix + "DoGet", ticket)
            bytes = data.map(_.length.toLong).sum
            timedClient {
              val (cols, rows) = ArrowIpc.readStream(
                new ByteArrayInputStream(FlightGrpc.flightDataToIpc(data)))
              val got = rows.map(r => r(0).toString -> r(1).asInstanceOf[Number].longValue).toMap
              val want = m.rows(2, x).groupBy { case ((s, _), _) => s"v${m.series(s)(4)}" }
                .map { case (k, v) => k -> v.size.toLong }
              status == 0 && cols == Seq("t4", "n") && got == want
            }
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.kind} on ${dbName(op.db)} failed: $e")
          false
      }
      val n1 = System.nanoTime(); val w1 = System.currentTimeMillis()
      if (!ok) System.err.println(s"[perfbench] ${op.kind} on ${dbName(op.db)}: wrong or failed response")
      Rec(op.kind, ok, n0, n1, w0, w1, clientNs, bytes)
    }

    def health(): Unit = require(http("GET", "/health", null)._1 == 200)
    def capabilities(): Unit =
      require(grpc("Capabilities", Array.emptyByteArray)._1 == 0)

    /** Mean chunk count over the databases, from the management route. */
    def chunksPerDb(): Double = (0 until ServerLoad.Dbs).map { db =>
      val (status, resp) = http("GET", s"/iox/api/v1/chunks?org=$OrgHex&bucket=${bucketHex(db)}", null)
      require(status == 200, s"list chunks answered $status")
      mapper.readTree(resp).size.toDouble
    }.sum / ServerLoad.Dbs

    private def groupCountSum(m: Model, tag: Int, v: Int, by: Int): Map[String, (Long, Double)] =
      m.rows(tag, v).groupBy { case ((s, _), _) => s"v${m.series(s)(by)}" }
        .map { case (k, rs) => k -> ((rs.size.toLong, rs.map(_._2).sum)) }

    private def http(method: String, path: String, body: Array[Byte]): (Int, Array[Byte]) = {
      val conn = new URI(s"http://127.0.0.1:${stack.httpPort}$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod(method)
      if (body != null) {
        conn.setDoOutput(true)
        val os = conn.getOutputStream; os.write(body); os.close()
      }
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val bytes = if (is == null) Array.emptyByteArray else try is.readAllBytes() finally is.close()
      (status, bytes)
    }

    private def grpc(method: String, req: Array[Byte]): (Int, Seq[Array[Byte]]) =
      grpcCall(StorageGrpc.ServicePrefix + method, req)

    private def grpcCall(path: String, req: Array[Byte]): (Int, Seq[Array[Byte]]) =
      GrpcClient.call(stack.grpcPort, path, req, timeoutMs = 60000)
  }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  // ---- storage gRPC request encoding (storage_common.proto)

  private def msg(f: StorageProto.Writer => Unit): Array[Byte] = {
    val w = new StorageProto.Writer; f(w); w.result()
  }
  private def readSource(db: Int): Array[Byte] =
    msg(s => s.string(1, "type.googleapis.com/ReadSource")
      .bytes(2, msg(rs => rs.varintField(1, 0xbeL).varintField(2, db + 1L))))
  private def tagRef(b: Array[Byte]) = msg(w => w.varintField(1, R.NodeType.TagRef).bytes(9, b))
  private def litStr(s: String) = msg(w => w.varintField(1, R.NodeType.Literal).string(3, s))
  private def eq(l: Array[Byte], r: Array[Byte]) =
    msg(w => w.varintField(1, R.NodeType.Comparison).bytes(2, l).bytes(2, r)
      .varintField(12, R.Cmp.Equal.toLong))
  private def measurementIs(m: String) = eq(tagRef(Array(0x00.toByte)), litStr(m))
  private def tagIs(k: String, v: String) = eq(tagRef(k.getBytes(UTF_8)), litStr(v))
  private def and(a: Array[Byte], b: Array[Byte]) =
    msg(w => w.varintField(1, R.NodeType.Logical).bytes(2, a).bytes(2, b).varintField(11, 0))
  private def predicate(root: Array[Byte]) = msg(w => w.bytes(1, root))

  // ---- response decoding

  private def frames(resp: Seq[Array[Byte]]): Seq[(Int, R.Reader)] = resp.flatMap { m =>
    val r = new R.Reader(m)
    val out = Seq.newBuilder[(Int, R.Reader)]
    while (r.hasMore) r.key() match {
      case (1, 2) => val f = r.sub(); val (member, _) = f.key(); out += ((member, f.sub()))
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  private def seriesTags(r: R.Reader): Map[String, String] = {
    val tags = Map.newBuilder[String, String]
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val t = r.sub(); var k = ""; var v = ""
        while (t.hasMore) t.key() match {
          case (1, 2) => k = t.stringField()
          case (2, 2) => v = t.stringField()
          case (_, wt) => t.skip(wt)
        }
        tags += k -> v
      case (_, wt) => r.skip(wt)
    }
    tags.result()
  }

  private def floatValues(r: R.Reader): Seq[Double] = {
    val out = Seq.newBuilder[Double]
    while (r.hasMore) r.key() match {
      case (2, 2) =>
        val p = r.sub()
        while (p.hasMore) out += java.lang.Double.longBitsToDouble(p.fixed64())
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  /** Series frames with the float values of the points frames that follow. */
  private def decodeSeries(resp: Seq[Array[Byte]]): Seq[(Map[String, String], Seq[Double])] = {
    val out = Seq.newBuilder[(Map[String, String], Seq[Double])]
    var cur: Option[(Map[String, String], Seq[Double])] = None
    frames(resp).foreach {
      case (StorageProto.FrameSeries, r) => cur.foreach(out += _); cur = Some((seriesTags(r), Nil))
      case (StorageProto.FrameFloatPoints, r) =>
        val c = cur.getOrElse(throw new IllegalStateException("points before series"))
        cur = Some((c._1, c._2 ++ floatValues(r)))
      case (other, _) => throw new IllegalStateException(s"unexpected frame $other")
    }
    cur.foreach(out += _)
    out.result()
  }

  /** Group key value -> sum of the points in that group. */
  private def decodeGroups(resp: Seq[Array[Byte]]): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var group = ""
    frames(resp).foreach {
      case (StorageProto.FrameGroup, r) =>
        val vals = Seq.newBuilder[String]
        while (r.hasMore) r.key() match {
          case (2, 2) => vals += r.stringField()
          case (_, wt) => r.skip(wt)
        }
        group = vals.result().mkString(",")
        out(group) = out.getOrElse(group, 0.0)
      case (StorageProto.FrameSeries, _) => ()
      case (StorageProto.FrameFloatPoints, r) => out(group) = out(group) + floatValues(r).sum
      case (other, _) => throw new IllegalStateException(s"unexpected frame $other")
    }
    out.toMap
  }

  private def stringValues(resp: Array[Byte]): Seq[String] = {
    val r = new R.Reader(resp)
    val out = Seq.newBuilder[String]
    while (r.hasMore) r.key() match {
      case (1, 2) => out += r.stringField()
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }
}
