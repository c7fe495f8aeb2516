package graft

import org.apache.spark.sql.DataFrame
import graft.core.IoxSchema
import graft.sources.{LineProtocol, SqlFrontend}

/** Ports of the reference's SQL query tests (query_tests/src/sql.rs) and
  * the all_chunks_dropped golden case: the reference's own fixtures fed
  * through the SQL frontend, expected ROWS transcribed from the in-file
  * pretty tables. Where the reference relies on its alphabetized schema
  * for `SELECT *` column order, columns are selected explicitly in that
  * order — the values, not the presentation, are the contract.
  */
class GoldenSqlSpec extends SparkSpec {

  private def mergedIngest(batches: Seq[String]*): Map[String, DataFrame] = {
    val chunks = batches.map(LineProtocol.ingest(spark, _))
    chunks.flatMap(_.keySet).distinct.map { m =>
      m -> IoxSchema.mergeUnion(chunks.flatMap(_.get(m)))
    }.toMap
  }

  // u64 fields ride Decimal(20,0) (LineProtocol.scala's widest safe
  // container); fold them back to Long so transcribed expectations read
  // like the reference's printed tables
  private def sql(q: String): Seq[Seq[Any]] =
    spark.sql(q).collect().toSeq.map(_.toSeq.map {
      case d: java.math.BigDecimal => d.longValueExact
      case x => x
    })

  private def sqlSorted(q: String): Seq[Seq[Any]] =
    sql(q).sortBy(_.mkString("|"))

  test("sql.rs: select/projection/pred/group over TwoMeasurements") {
    SqlFrontend.register(spark, mergedIngest(Seq(
      "cpu,region=west user=23.2 100",
      "cpu,region=west user=21.0 150",
      "disk,region=east bytes=99i 200")))
    assert(sqlSorted("SELECT region, time, user FROM cpu") == Seq(
      Seq("west", 100L, 23.2), Seq("west", 150L, 21.0)))
    // projection: subset of columns, caller's order
    assert(sqlSorted("SELECT user, region FROM cpu") == Seq(
      Seq(21.0, "west"), Seq(23.2, "west")))
    assert(sql("SELECT region, time, user FROM cpu WHERE time > 120") ==
      Seq(Seq("west", 150L, 21.0)))
    assert(sql("SELECT user, region FROM cpu WHERE time > 120") ==
      Seq(Seq(21.0, "west")))
    assert(sql("SELECT count(*) FROM cpu GROUP BY region") == Seq(Seq(2L)))
    assert(sql("SELECT bytes, region, time FROM disk") == Seq(Seq(99L, "east", 200L)))
  }

  test("sql.rs: schema merge across chunks with different column sets") {
    // MultiChunkSchemaMerge (scenarios.rs:301)
    SqlFrontend.register(spark, mergedIngest(
      Seq("cpu,region=west user=23.2,system=5.0 100",
        "cpu,region=west user=21.0,system=6.0 150"),
      Seq("cpu,region=east,host=foo user=23.2 100",
        "cpu,region=west,host=bar user=21.0 250")))
    assert(sqlSorted("SELECT host, region, system, time, user FROM cpu") == Seq(
      Seq("bar", "west", null, 250L, 21.0),
      Seq("foo", "east", null, 100L, 23.2),
      Seq(null, "west", 5.0, 100L, 23.2),
      Seq(null, "west", 6.0, 150L, 21.0)))
    assert(sqlSorted("SELECT host, region, system FROM cpu") == Seq(
      Seq("bar", "west", null),
      Seq("foo", "east", null),
      Seq(null, "west", 5.0),
      Seq(null, "west", 6.0)))
  }

  test("sql.rs: UNION ALL name resolution") {
    // TwoMeasurementsManyFields (scenarios.rs:343)
    SqlFrontend.register(spark, mergedIngest(
      Seq("h2o,state=MA,city=Boston temp=70.4 50",
        "h2o,state=MA,city=Boston other_temp=70.4 250",
        "h2o,state=CA,city=Boston other_temp=72.4 350",
        "o2,state=MA,city=Boston temp=53.4,reading=51 50",
        "o2,state=CA temp=79.0 300"),
      Seq("h2o,state=MA,city=Boston temp=70.4,moisture=43.0 100000")))
    val got = sql("SELECT state AS name FROM h2o UNION ALL SELECT city AS name FROM h2o")
      .map(_.head.asInstanceOf[String]).sorted
    assert(got == Seq("Boston", "Boston", "Boston", "Boston", "CA", "MA", "MA", "MA"))
  }

  test("sql.rs: chunks with entirely different tag sets merge and scan") {
    // OneMeasurementTwoChunksDifferentTagSet (scenarios.rs:431)
    SqlFrontend.register(spark, mergedIngest(
      Seq("h2o,state=MA temp=70.4 50",
        "h2o,state=MA other_temp=70.4 250"),
      Seq("h2o,city=Boston other_temp=72.4 350",
        "h2o,city=Boston temp=53.4,reading=51 50")))
    assert(sqlSorted("SELECT temp FROM h2o").map(_.head) ==
      Seq(53.4, 70.4, null, null))
    assert(sqlSorted(
      "SELECT city, other_temp, reading, state, temp, time FROM h2o") == Seq(
      Seq("Boston", 72.4, null, null, null, 350L),
      Seq("Boston", null, 51.0, null, 53.4, 50L),
      Seq(null, 70.4, null, "MA", null, 250L),
      Seq(null, null, null, "MA", 70.4, 50L)))
  }

  test("all_chunks_dropped golden: catalog lists tables (SHOW TABLES)") {
    SqlFrontend.register(spark, mergedIngest(Seq(
      "cpu,region=west user=23.2 100")))
    val names = sql("SHOW TABLES").map(_(1).asInstanceOf[String]).toSet
    assert(names.contains("cpu") && names.contains("system_columns"))
  }

  test("all_chunks_dropped golden: a table whose chunks were ALL dropped " +
      "stays in the catalog with its schema, yielding zero rows") {
    // the point of cases/in/all_chunks_dropped.sql: OneMeasurementAllChunksDropped
    // registers h2o, drops every chunk, and the catalog must STILL list
    // h2o (schema survives chunk lifecycle) — here the empty frame plays
    // the dropped-chunks table
    val h2o = LineProtocol.ingest(spark,
      Seq("h2o,state=MA temp=70.4 50"))("h2o").limit(0)
    SqlFrontend.register(spark, Map("h2o" -> h2o))
    val names = sql("SHOW TABLES").map(_(1).asInstanceOf[String]).toSet
    assert(names.contains("h2o"), "dropped-chunks table vanished from catalog")
    assert(sql("SELECT * FROM h2o").isEmpty)
    // schema is still queryable (the reference's information_schema view)
    val cols = sql("SHOW COLUMNS IN h2o").map(_(0).asInstanceOf[String]).toSet
    assert(cols == Set("state", "temp", "time"), s"schema lost: $cols")
  }

  test("sql.rs: select from restaurant / school (unsigned counts)") {
    // TwoMeasurementsUnsignedType (scenarios.rs:256)
    SqlFrontend.register(spark, mergedIngest(Seq(
      "restaurant,town=andover count=40000u 100",
      "restaurant,town=reading count=632u 120",
      "school,town=reading count=17u 150",
      "school,town=andover count=25u 160")))
    assert(sqlSorted("SELECT town, count FROM restaurant") ==
      Seq(Seq("andover", 40000L), Seq("reading", 632L)))
    assert(sqlSorted("SELECT town, count FROM school") ==
      Seq(Seq("andover", 25L), Seq("reading", 17L)))
  }

  test("sql.rs: predicate pushdown correctness 1-13 over restaurant") {
    // TwoMeasurementsPredicatePushDown (scenarios.rs:274); the reference
    // runs 13 WHERE variants (sql.rs:410-664) checking that pushdown
    // never changes answers. Rows transcribed as (count, system, time,
    // town) — the reference's alphabetized `SELECT *` order.
    SqlFrontend.register(spark, mergedIngest(GoldenSqlSpec.RestaurantLp))
    val bedford = Seq(189L, 7.0, 110L, "bedford")
    val lexington = Seq(372L, 5.0, 100L, "lexington")
    val andover = Seq(40000L, 5.0, 100L, "andover")
    val tewsbury = Seq(471L, 6.0, 110L, "tewsbury")
    val reading120 = Seq(632L, 5.0, 120L, "reading")
    val reading130 = Seq(632L, 6.0, 130L, "reading")
    val lawrence = Seq(872L, 6.0, 110L, "lawrence")
    def q(where: String): Seq[Seq[Any]] =
      sqlSorted("SELECT count, system, time, town FROM restaurant" + where)
    def rows(rs: Seq[Any]*): Seq[Seq[Any]] = rs.toSeq.sortBy(_.mkString("|"))
    // 1: select everything
    assert(q("") == rows(bedford, lexington, andover, tewsbury,
      reading120, reading130, lawrence))
    // 2: count > 200
    assert(q(" WHERE count > 200") == rows(lexington, andover, tewsbury,
      reading120, reading130, lawrence))
    // 3: count > 200 and town != 'tewsbury'
    assert(q(" WHERE count > 200 AND town != 'tewsbury'") ==
      rows(lexington, andover, reading120, reading130, lawrence))
    // 4: ... and (system = 5 or town = 'lawrence')
    assert(q(" WHERE count > 200 AND town != 'tewsbury'" +
      " AND (system = 5 OR town = 'lawrence')") ==
      rows(lexington, andover, reading120, lawrence))
    // 5: ... and count < 40000
    assert(q(" WHERE count > 200 AND town != 'tewsbury'" +
      " AND (system = 5 OR town = 'lawrence') AND count < 40000") ==
      rows(lexington, reading120, lawrence))
    // 6: count > 200 and count < 40000
    assert(q(" WHERE count > 200 AND count < 40000") ==
      rows(lexington, tewsbury, reading120, reading130, lawrence))
    // 7: system > 4.0 and system < 7.0
    assert(q(" WHERE system > 4.0 AND system < 7.0") ==
      rows(lexington, andover, tewsbury, reading120, reading130, lawrence))
    // 8: system > 5.0 and system < 7.0
    assert(q(" WHERE system > 5.0 AND system < 7.0") ==
      rows(tewsbury, reading130, lawrence))
    // 9: system > 5.0 and town != 'tewsbury' and 7.0 > system
    assert(q(" WHERE system > 5.0 AND town != 'tewsbury' AND 7.0 > system") ==
      rows(reading130, lawrence))
    // 10: ... and (count = 632 or town = 'reading')
    assert(q(" WHERE system > 5.0 AND 'tewsbury' != town AND system < 7.0" +
      " AND (count = 632 OR town = 'reading')") == rows(reading130))
    // 11: ... and time > 130 (the reference writes
    // to_timestamp('1970-01-01T00:00:00.000000130+00:00') and notes it is
    // rewritten to `time GT int(130)`; our time axis IS the ns long)
    assert(q(" WHERE 5.0 < system AND town != 'tewsbury' AND system < 7.0" +
      " AND (count = 632 OR town = 'reading') AND time > 130") == Nil)
    // 12: the reference SKIPS this one (DataFusion stack overflow,
    // arrow-datafusion#419); Catalyst plans it fine
    assert(q(" WHERE system > 5.0 AND 'tewsbury' != town AND system < 7.0" +
      " AND town = 'reading'") == rows(reading130))
    // 13: system > 5.0 and system < 7.0 and town = 'reading'
    assert(q(" WHERE system > 5.0 AND system < 7.0 AND town = 'reading'") ==
      rows(reading130))
  }

  test("sql.rs: SHOW COLUMNS and the information_schema column listing") {
    // TwoMeasurementsManyFields; the reference reads
    // information_schema.columns / SHOW COLUMNS (sql.rs:183-259). Spark's
    // SHOW COLUMNS + the engine's system_columns view carry the same
    // facts: names, types (tags are strings here vs the ref's
    // Dictionary(Int32, Utf8); fields Float64; time the ns long), and the
    // IOx column category.
    SqlFrontend.register(spark, mergedIngest(
      Seq("h2o,state=MA,city=Boston temp=70.4 50",
        "h2o,state=MA,city=Boston other_temp=70.4 250",
        "h2o,state=CA,city=Boston other_temp=72.4 350",
        "o2,state=MA,city=Boston temp=53.4,reading=51 50",
        "o2,state=CA temp=79.0 300"),
      Seq("h2o,state=MA,city=Boston temp=70.4,moisture=43.0 100000")))
    assert(sql("SHOW COLUMNS IN h2o").map(_.head.asInstanceOf[String]).sorted ==
      Seq("city", "moisture", "other_temp", "state", "temp", "time"))
    assert(sql("""SELECT column_name, column_type, category FROM system_columns
                  WHERE table_name = 'h2o' ORDER BY column_name""") == Seq(
      Seq("city", "string", "tag"),
      Seq("moisture", "double", "field"),
      Seq("other_temp", "double", "field"),
      Seq("state", "string", "tag"),
      Seq("temp", "double", "field"),
      Seq("time", "bigint", "time")))
    assert(sql("""SELECT column_name, column_type, category FROM system_columns
                  WHERE table_name = 'o2' ORDER BY column_name""") == Seq(
      Seq("city", "string", "tag"),
      Seq("reading", "double", "field"),
      Seq("state", "string", "tag"),
      Seq("temp", "double", "field"),
      Seq("time", "bigint", "time")))
    // information_schema.tables analog: both measurements are listed
    val names = sql("SHOW TABLES").map(_(1).asInstanceOf[String]).toSet
    assert(Set("h2o", "o2", "system_columns").subsetOf(names))
  }
  test("sql.rs case-count parity: every reference inline case maps to a covering spec") {
    // The accounting InfluxRpcMatrixSpec does for the influxrpc matrix,
    // applied to query_tests/src/sql.rs: enumerate the reference's inline
    // cases FROM THE FILE (so a drifted snapshot fails loudly) and assert
    // each maps to the spec+test that ports it. `sbt test` runs every
    // covering spec, so a green suite means every sql.rs case passed.
    val src = new String(java.nio.file.Files.readAllBytes(
      referenceFile("query_tests/src/sql.rs")), "UTF-8")
    val cases = "async fn (\\w+)".r.findAllMatchIn(src).map(_.group(1)).toSeq
    val coverage: Map[String, String] = (Seq(
      "sql_select_from_cpu" -> "GoldenSqlSpec select/projection/pred/group",
      "sql_select_from_cpu_with_projection" -> "GoldenSqlSpec select/projection/pred/group",
      "sql_select_from_cpu_pred" -> "GoldenSqlSpec select/projection/pred/group",
      "sql_select_from_cpu_with_projection_and_pred" -> "GoldenSqlSpec select/projection/pred/group",
      "sql_select_from_cpu_group" -> "GoldenSqlSpec select/projection/pred/group",
      "sql_select_from_disk" -> "GoldenSqlSpec select/projection/pred/group",
      "sql_select_with_schema_merge" -> "GoldenSqlSpec schema merge (full-width select)",
      "sql_select_with_schema_merge_subset" -> "GoldenSqlSpec schema merge (host/region/system subset)",
      "sql_select_from_restaurant" -> "GoldenSqlSpec restaurant/school",
      "sql_select_from_school" -> "GoldenSqlSpec restaurant/school",
      "sql_select_from_information_schema_tables" -> "GoldenSqlSpec SHOW TABLES analog",
      "sql_select_from_information_schema_columns" -> "GoldenSqlSpec SHOW COLUMNS + system_columns",
      "sql_show_columns" -> "GoldenSqlSpec SHOW COLUMNS + system_columns",
      "sql_select_from_system_chunks" -> "SqlFrontendSpec registerChunked system_chunks",
      "sql_select_from_system_columns" -> "GoldenSqlSpec system_columns category listing",
      "sql_select_from_system_chunk_columns" -> "SqlFrontendSpec system_chunk_columns",
      "sql_select_from_system_operations" -> "SqlFrontendSpec system_operations",
      "sql_union_all" -> "GoldenSqlSpec UNION ALL name resolution",
      "sql_deduplicate_1" -> "GoldenDedupSpec golden rows (3 scenarios)",
      "sql_select_non_keys" -> "GoldenSqlSpec different tag sets (SELECT temp)",
      "sql_select_all_different_tags_chunks" -> "GoldenSqlSpec different tag sets (full select)") ++
      (1 to 13).map(i => s"sql_predicate_pushdown_correctness_$i" ->
        "GoldenSqlSpec pushdown correctness 1-13")).toMap
    val missing = cases.filterNot(coverage.contains)
    assert(missing.isEmpty,
      s"sql.rs cases with no mapped covering spec: $missing")
    assert(cases.size == 34 && coverage.size == 34,
      s"case-count drift: file has ${cases.size}, map has ${coverage.size}")
  }
}

object GoldenSqlSpec {
  /** TwoMeasurementsPredicatePushDown fixture (scenarios.rs:274-294) —
    * shared with the pushdown.sql plan golden in [[PlanShapeSpec]]. */
  val RestaurantLp: Seq[String] = Seq(
    "restaurant,town=andover count=40000u,system=5.0 100",
    "restaurant,town=reading count=632u,system=5.0 120",
    "restaurant,town=bedford count=189u,system=7.0 110",
    "restaurant,town=tewsbury count=471u,system=6.0 110",
    "restaurant,town=lexington count=372u,system=5.0 100",
    "restaurant,town=lawrence count=872u,system=6.0 110",
    "restaurant,town=reading count=632u,system=6.0 130",
    "school,town=reading count=17u,system=6.0 150",
    "school,town=andover count=25u,system=6.0 160")
}
