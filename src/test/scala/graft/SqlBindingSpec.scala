package graft

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.server.{ArrowIpc, FlightGrpc, GrpcClient, HttpFacade}
import graft.StorageRequests._

/** How the facade binds a SQL query's table names: per request, to the
  * views of the request's own database, over the HTTP SQL route and the
  * gRPC Flight `DoGet` route alike, with no write to the session catalog
  * and no lock shared between requests. */
class SqlBindingSpec extends SparkSpec {

  private val Lp = Seq(
    "cpu,host=a usage=1.5 100",
    "cpu,host=b usage=5.0 100",
    "cpu,host=a usage=2.5 200",
    "mem,host=a free=10i 100",
    "mem,host=c free=30i 100").mkString("\n")

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(60000)
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    (status, if (is == null) "" else new String(is.readAllBytes(), UTF_8))
  }

  /** The SQL route's csv rows of `sql` on `db`, header dropped. */
  private def sqlRows(port: Int, db: String, sql: String): Seq[String] = {
    val (status, body) = get(port,
      s"/iox/api/v1/databases/$db/query?q=${enc(sql)}&format=csv")
    assert(status == 200, s"$sql: $status $body")
    body.split("\n").toSeq.filter(_.nonEmpty).drop(1)
  }

  /** Flight `DoGet`'s grpc-status and rows of `sql` on `db`, each row's
    * values joined by commas like the csv. */
  private def flight(grpcPort: Int, db: String, sql: String): (Int, Seq[String]) = {
    val ticket = s"""{"database_name":${graft.core.Json.str(db)},""" +
      s""""sql_query":${graft.core.Json.str(sql)}}"""
    val (status, data) = GrpcClient.call(grpcPort, FlightGrpc.ServicePrefix + "DoGet",
      msg(w => w.bytes(1, ticket.getBytes(UTF_8))))
    if (status != 0) (status, Nil)
    else (status, ArrowIpc.readStream(new java.io.ByteArrayInputStream(
      FlightGrpc.flightDataToIpc(data)))._2.map(_.mkString(",")))
  }

  private def flightRows(grpcPort: Int, db: String, sql: String): Seq[String] = {
    val (status, rows) = flight(grpcPort, db, sql)
    assert(status == 0, s"$sql: grpc-status $status")
    rows
  }

  /** The InfluxQL route's JSON answer to `q` on `db`. */
  private def influxQl(port: Int, db: String, q: String): String = {
    val (status, body) = get(port, s"/query?db=$db&q=${enc(q)}")
    assert(status == 200 && !body.contains("\"error\""), s"$q: $status $body")
    body
  }

  test("each query shape binds the same rows over the SQL route and Flight DoGet") {
    val cases = Seq(
      "SELECT host, usage FROM cpu ORDER BY time, host" ->
        Seq("a,1.5", "b,5.0", "a,2.5"),
      "SELECT c.host, c.usage, m.free FROM cpu c JOIN mem m ON c.host = m.host " +
        "ORDER BY c.time" -> Seq("a,1.5,10", "a,2.5,10"),
      "SELECT host, usage FROM cpu WHERE host IN (SELECT host FROM mem) ORDER BY time" ->
        Seq("a,1.5", "a,2.5"),
      "SELECT host FROM mem m WHERE EXISTS (SELECT 1 FROM cpu c WHERE c.host = m.host)" ->
        Seq("a"),
      "SELECT host, (SELECT max(free) FROM mem) AS top FROM cpu WHERE usage > 2 " +
        "ORDER BY time" -> Seq("b,30", "a,30"),
      // a CTE named like a measurement shadows it
      "WITH cpu AS (SELECT 'cte' AS host) SELECT host FROM cpu" -> Seq("cte"),
      // ... and may read the measurement it shadows
      "WITH cpu AS (SELECT host FROM cpu WHERE usage > 2) SELECT count(*) AS n FROM cpu" ->
        Seq("2"),
      // nested CTEs, and a measurement named only in a CTE body's subquery
      "WITH x AS (WITH y AS (SELECT host FROM mem) SELECT host FROM y WHERE host = 'c') " +
        "SELECT host FROM x" -> Seq("c"),
      "WITH x AS (SELECT host FROM cpu WHERE host IN (SELECT host FROM mem)) " +
        "SELECT count(*) AS n FROM x" -> Seq("2"),
      "SELECT count(*) AS n FROM CPU" -> Seq("3"),
      "SELECT table_name, row_count FROM system_chunks ORDER BY table_name" ->
        Seq("cpu,3", "mem,2"))
    withStorageGrpc(spark, Lp) { (facade, grpcPort) =>
      val p = facade.boundPort
      cases.foreach { case (sql, want) =>
        assert(sqlRows(p, Db, sql) == want, sql)
        assert(flightRows(grpcPort, Db, sql) == want, sql)
      }
      // EXPLAIN plans the bound query
      val explain = "EXPLAIN SELECT host FROM cpu WHERE usage > 2"
      for (plan <- Seq(sqlRows(p, Db, explain).mkString("\n"),
          flightRows(grpcPort, Db, explain).mkString("\n")))
        assert(plan.contains("Physical Plan") && !plan.contains("Error occurred"), plan)
      // an unknown name still fails analysis as table-not-found
      val (s, body) = get(p, s"/iox/api/v1/databases/$Db/query?q=" +
        enc("SELECT * FROM nope") + "&format=csv")
      assert(s == 400 && body.contains("TABLE_OR_VIEW_NOT_FOUND"), s"$s $body")
      assert(flight(grpcPort, Db, "SELECT * FROM nope")._1 != 0)
    }
  }

  test("a query that only mentions system_ in a string literal lists no chunks") {
    withStorageGrpc(spark) { (facade, _) =>
      val p = facade.boundPort
      (1 to 5).foreach(i =>
        assert(HttpFacade.postWrite(p, Org, Bucket, s"m,host=h v=${i}i $i") == 204))
      assert(sqlRows(p, Db, "SELECT count(*) AS n FROM system_chunks") == Seq("5"))
      val plain = countingJobs(sqlRows(p, Db, "SELECT 'plain_x' AS s"))
      val literal = countingJobs(sqlRows(p, Db, "SELECT 'system_x' AS s"))
      assert(plain._1 == Seq("plain_x") && literal._1 == Seq("system_x"))
      assert(literal._2 == plain._2, s"jobs: ${literal._2} vs ${plain._2}")
    }
  }

  test("an embedder's session temp view is neither replaced, dropped nor read") {
    import spark.implicits._
    Seq("embedder").toDF("host").createOrReplaceTempView("cpu")
    try withStorageGrpc(spark, Lp) { (facade, _) =>
      val p = facade.boundPort
      assert(HttpFacade.postWrite(p, "other", "db", "disk,host=d used=1i 1") == 204)
      assert(sqlRows(p, Db, "SELECT DISTINCT host FROM cpu ORDER BY host") ==
        Seq("a", "b"))
      assert(sqlRows(p, "other_db", "SELECT host FROM disk") == Seq("d"))
      // nor does a database without `cpu` read the session's view
      val (s, body) = get(p, "/iox/api/v1/databases/other_db/query?q=" +
        enc("SELECT host FROM cpu") + "&format=csv")
      assert(s == 400 && body.contains("TABLE_OR_VIEW_NOT_FOUND"), s"$s $body")
      assert(spark.table("cpu").as[String].collect().toSeq == Seq("embedder"))
    } finally spark.catalog.dropTempView("cpu")
  }

  test("reads of two databases holding the same measurement name never mix, " +
      "and planning takes no global lock") {
    val dbs = Seq("one_x" -> "one", "two_x" -> "two")
    withStorageGrpc(spark) { (facade, grpcPort) =>
      val p = facade.boundPort
      dbs.foreach { case (db, host) =>
        val Array(org, bucket) = db.split("_")
        assert(HttpFacade.postWrite(p, org, bucket,
          s"m,host=$host v=1i 100\nm,host=$host v=2i 200") == 204)
      }
      /** The hosts one read of `db` sees, by route kind. */
      def read(kind: Int, db: String): Seq[String] = kind match {
        case 0 => sqlRows(p, db, "SELECT host FROM m ORDER BY time")
        case 1 => "\"(one|two)\"".r.findAllMatchIn(
          influxQl(p, db, "SELECT v, host FROM m")).map(_.group(1)).toSeq
        case _ => flightRows(grpcPort, db, "SELECT host FROM m ORDER BY time")
      }
      val pool = Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val reads = for (t <- 0 until 4; i <- 0 until 12) yield Future {
          val (db, host) = dbs((t + i) % 2)
          val hosts = read((t + i) % 3, db)
          (db, hosts.nonEmpty && hosts.forall(_ == host), hosts)
        }
        val results = Await.result(Future.sequence(reads), 5.minutes)
        results.foreach { case (db, ok, hosts) => assert(ok, s"$db saw $hosts") }
        // planning finishes while another thread holds the facade
        // object's monitor
        HttpFacade.synchronized {
          val planned = Future.sequence((0 until 3).map(k =>
            Future(read(k, "one_x"))))
          assert(Await.result(planned, 60.seconds).forall(_.contains("one")))
        }
      } finally pool.shutdown()
    }
  }
}
