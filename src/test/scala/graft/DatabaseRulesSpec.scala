package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{PartitionTemplate, TemplatePart}
import graft.streaming.{DatabaseRules, Lifecycle}

/** DatabaseRules model + management surface (reference
  * data_types/src/database_rules.rs:38-59, database_name.rs:55-75,
  * management API CreateDatabase/GetDatabase/ListDatabases). */
class DatabaseRulesSpec extends AnyFunSuite {

  private val full = DatabaseRules(
    name = "o_b",
    partitionTemplate = PartitionTemplate(Seq(
      TemplatePart.Table, TemplatePart.ColumnValue("region"),
      TemplatePart.TimeFormat("%Y-%m"))),
    lifecycle = Lifecycle.Rules(
      lateArriveWindowMs = 60000L, persistRowThreshold = 5000L,
      persistAgeThresholdMs = 120000L, bufferSizeSoft = Some(1000000L),
      bufferSizeHard = Some(2000000L), persist = true,
      dropNonPersisted = true, retentionNs = Some(86400000000000L)),
    writeBufferConnection = Some("file:/buffers/o_b"),
    shardConfig = Some(graft.core.Sharding.ShardConfig(
      specificTargets = Seq((graft.core.Sharding.Matcher("^system\\."), 0)),
      hashRing = Some(graft.core.Sharding.HashRing(
        includeTable = true, columns = Seq("host"),
        shards = IndexedSeq(1, 2, 3))))))

  test("json codec round-trips every field") {
    assert(DatabaseRules.fromJson(DatabaseRules.toJson(full)) == Right(full))
    // defaults: a name-only document yields the reference defaults
    assert(DatabaseRules.fromJson("""{"name":"mydb"}""") ==
      Right(DatabaseRules("mydb")))
  }

  test("name validation matches DatabaseName::new (database_name.rs:55-75)") {
    assert(DatabaseRules.validateName("a").isRight)
    assert(DatabaseRules.validateName("a" * 64).isRight)
    assert(DatabaseRules.validateName("").isLeft)
    assert(DatabaseRules.validateName("a" * 65).isLeft)
    assert(DatabaseRules.validateName("with\u0007bell").isLeft)
    assert(DatabaseRules.validateName("spaces are fine").isRight)
  }

  test("malformed rules documents are errors, not defaults") {
    assert(DatabaseRules.fromJson("""{}""").isLeft) // no name
    assert(DatabaseRules.fromJson(
      """{"name":"x","partition_template":[{"part":"nope"}]}""").isLeft)
    assert(DatabaseRules.fromJson(
      """{"name":"x","partition_template":[{"part":"column"}]}""").isLeft)
    // a malformed unicode escape parses leniently (literal text), not a
    // crash (built by concat: scalac itself pre-processes backslash-u)
    assert(DatabaseRules.fromJson(
      """{"name":"x","write_buffer":"a\""" + """u12"}""").isRight)
  }

  test("shard routing: brace quantifiers survive, malformed elements error") {
    // a regex with a {n,m} quantifier round-trips (quote-aware split)
    val quant = DatabaseRules("x", shardConfig = Some(
      graft.core.Sharding.ShardConfig(Seq(
        (graft.core.Sharding.Matcher("^(cpu){1,3}$"), 5),
        (graft.core.Sharding.Matcher("^mem$"), 7)))))
    assert(DatabaseRules.fromJson(DatabaseRules.toJson(quant)) == Right(quant))
    // a typo'd target key is an error, not a silently dropped route
    assert(DatabaseRules.fromJson(
      """{"name":"x","shard_config":{"specific_targets":[{"regexp":"a","shard":1}]}}""")
      .isLeft)
    // shard ids past u32/Int range error instead of wrapping
    assert(DatabaseRules.fromJson(
      """{"name":"x","shard_config":{"specific_targets":[{"regex":"a","shard":4294967296}]}}""")
      .isLeft)
    // an empty ring is an error
    assert(DatabaseRules.fromJson(
      """{"name":"x","shard_config":{"hash_ring":{"columns":["c"],"shards":[]}}}""")
      .isLeft)
  }

  test("field order is free: a column part's name key cannot shadow the database name") {
    val reordered = DatabaseRules.fromJson(
      """{"partition_template":[{"part":"column","name":"region"}],"name":"mydb"}""")
    assert(reordered.map(_.name) == Right("mydb"))
    assert(reordered.map(_.partitionTemplate) == Right(
      PartitionTemplate(Seq(TemplatePart.ColumnValue("region")))))
  }

  test("management routes: put/get/list rules; configured template drives partitions") {
    val spark = SparkSpec.session
    val facade = new graft.server.HttpFacade(spark, port = 0)
    try ManagementCalls.withGrpc(facade) { g =>
      import ManagementCalls._
      import StorageRequests.msg
      val p = facade.boundPort

      // unknown database: NOT_FOUND on get, list empty
      assert(getDatabase(g, "o_b")._1 == NotFound)
      assert(listDatabases(g) == Nil)

      // create with a month template
      val month = PartitionTemplate(Seq(TemplatePart.TimeFormat("%Y-%m")))
      assert(createDatabase(g, DatabaseRules("o_b", partitionTemplate = month)) == 0)

      // round-trip through get
      assert(getDatabase(g, "o_b") match {
        case (0, Some(r)) => r.partitionTemplate == month
        case _ => false
      })
      assert(listDatabases(g) == Seq("o_b"))

      // the configured template (monthly, not the default daily) shapes
      // the partition listing for data written afterwards
      val w = new URI(s"http://127.0.0.1:$p/api/v2/write?org=o&bucket=b").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      w.setRequestMethod("POST"); w.setDoOutput(true)
      w.getOutputStream.write(
        "cpu,host=a usage=1.5 1609459200000000000".getBytes(UTF_8)) // 2021-01-01
      w.getOutputStream.close()
      assert(w.getResponseCode == 204)
      val r = new URI(s"http://127.0.0.1:$p/api/v1/partitions?org=o&bucket=b").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val parts = new String(r.getInputStream.readAllBytes(), UTF_8)
      assert(parts == """[{"table":"cpu","partition_key":"2021-01"}]""", parts)

      // an invalid rules document is rejected: a template part the
      // engine does not model
      val regexPart = msg { r =>
        r.string(1, "o_b")
        r.bytes(2, msg(_.bytes(1, msg(_.bytes(4, msg { cf =>
          cf.string(1, "c"); cf.string(2, "f") })))))
      }
      assert(updateDatabase(g, regexPart) == InvalidArgument)
    } finally facade.stop()
  }
}
