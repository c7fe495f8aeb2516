package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the ten tables the query builders read
  * (`SparkEntry.queries(name)(spark, dir)`): the TPC-H-like star schema,
  * the `events` stream, and the `documents` / `embeddings` corpora. Column
  * names, types and value domains follow the engine's test data, so every
  * builder runs unchanged against the generated directory.
  *
  * Every value is a hash of (generator seed, column salt, row id), computed
  * by Spark itself, and each table is written as one parquet file in row-id
  * order: the same seed and scale give the same rows in the same order on
  * any machine and core count, which is what lets the expected row counts
  * and checksums be committed. */
object DataGen {

  /** Row counts per table at scale factor `sf` (sf 1 = TPC-H sf 1). */
  final case class Sizes(sf: Double) {
    private def n(perSf: Double): Long = math.max(1L, math.round(perSf * sf))
    val customer: Long = n(150000)
    val supplier: Long = n(10000)
    val part: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitem: Long = n(6000000)
    val events: Long = n(1000000)
    val users: Long = n(15000)
    val documents: Long = n(50000)
    val embeddings: Long = n(20000)
  }

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Writes each of `tables` as `<dir>/<name>.parquet`, `threads` at a
    * time. A table's rows do not depend on which other tables are written. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
      threads: Int, tables: Seq[String]): Unit = {
    val g = new Gen(spark, seed, Sizes(sf))
    Parallel.foreach(Seq[(String, () => DataFrame)]("region" -> (() => g.region),
      "nation" -> (() => g.nation), "customer" -> (() => g.customer),
      "supplier" -> (() => g.supplier), "part" -> (() => g.part),
      "orders" -> (() => g.orders), "lineitem" -> (() => g.lineitem),
      "events" -> (() => g.events), "documents" -> (() => g.documents),
      "embeddings" -> (() => g.embeddings)).filter(t => tables.contains(t._1)),
      threads) { case (name, df) =>
      df().coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  private final class Gen(spark: SparkSession, seed: Long, sz: Sizes) {
    private def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    private def h(salt: Int, id: Column = col("id")): Column =
      xxhash64(lit(seed), lit(salt), id)
    /** Uniform integer in [0, n). */
    private def uni(salt: Int, n: Long, id: Column = col("id")): Column =
      pmod(h(salt, id), lit(n))
    /** Uniform double in [0, 1) with six decimals. */
    private def frac(salt: Int): Column = uni(salt, 1000000L) / lit(1e6)
    private def pick(salt: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (uni(salt, values.size) + 1).cast("int"))
    private def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + frac(salt) * lit(hi - lo), 2)
    private def day(from: String, salt: Int, days: Int): Column =
      date_add(lit(from).cast("date"), uni(salt, days).cast("int"))
        .cast("timestamp_ntz")

    def region: DataFrame = rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

    def nation: DataFrame = rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

    def customer: DataFrame = rows(sz.customer).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
        "FURNITURE")).as("c_mktsegment"))

    def supplier: DataFrame = rows(sz.supplier).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni(11, 25).cast("int").as("s_nationkey"),
      money(12, -999.99, 9999.99).as("s_acctbal"))

    def part: DataFrame = rows(sz.part).select(col("id").as("p_partkey"),
      concat(pick(21, Seq("small", "large", "red", "blue", "hot", "cold",
        "old", "new")), lit(" "), pick(22, Seq("ring", "bolt", "plate", "gear",
        "widget", "rod", "anvil", "nut"))).as("p_name"),
      concat(lit("Brand#"), uni(23, 25) + 1).as("p_brand"),
      pick(24, Seq("SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY",
        "STANDARD")).as("p_type"),
      (uni(25, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) / lit(10.0), 1)
        .as("p_retailprice"))

    def orders: DataFrame = rows(sz.orders).select(col("id").as("o_orderkey"),
      uni(31, sz.customer).as("o_custkey"),
      pick(32, Seq("F", "O", "P")).as("o_orderstatus"),
      money(33, 1000.0, 500000.0).as("o_totalprice"),
      day("1995-01-01", 34, 2404).as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))

    def lineitem: DataFrame = rows(sz.lineitem).select(
      uni(41, sz.orders).as("l_orderkey"),
      uni(42, sz.part).as("l_partkey"),
      uni(43, sz.supplier).as("l_suppkey"),
      (uni(44, 7) + 1).cast("int").as("l_linenumber"),
      (uni(45, 50) + 1).cast("double").as("l_quantity"),
      money(46, 900.0, 105000.0).as("l_extendedprice"),
      (uni(47, 11) / lit(100.0)).as("l_discount"),
      (uni(48, 9) / lit(100.0)).as("l_tax"),
      pick(49, Seq("A", "N", "R")).as("l_returnflag"),
      pick(50, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", 51, 2498).as("l_shipdate"))

    def events: DataFrame = {
      val start = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val startUs = start.getEpochSecond * 1000000L
      rows(sz.events).select(col("id").as("event_id"),
        timestamp_micros(lit(startUs) + uni(61, 30L * 86400L * 1000000L))
          .cast("timestamp_ntz").as("ts"),
        uni(62, sz.users).as("user_id"),
        pick(63, Seq("signup", "click", "error", "view", "purchase"))
          .as("event_type"),
        round(frac(64) * frac(65) * lit(560.0), 2).as("value"),
        concat(lit("{\"k\": "), uni(66, 100), lit("}")).as("props"))
    }

    /** 5 % of documents repeat an earlier document's text plus a " dup"
      * marker, so the near-duplicate families have pairs to find. */
    def documents: DataFrame = {
      val vocab = array(Vocab.map(lit): _*)
      def text(id: Column): Column = concat_ws(" ",
        transform(sequence(lit(1), (uni(71, 93, id) + 8).cast("int")),
          i => element_at(vocab,
            (pmod(xxhash64(lit(seed), lit(72), id, i), lit(Vocab.size)) + 1)
              .cast("int"))))
      val isDup = col("id") > 0 && uni(73, 100) < 5
      rows(sz.documents)
        .withColumn("src", when(isDup, uni(74, Long.MaxValue) % col("id"))
          .otherwise(col("id")))
        .withColumn("text", when(isDup, concat(text(col("src")), lit(" dup")))
          .otherwise(text(col("src"))))
        .select(col("id").as("doc_id"), col("text"),
          when(uni(75, 100) < 41, "en").when(uni(75, 100) < 56, "zh")
            .when(uni(75, 100) < 70, "de").when(uni(75, 100) < 85, "fr")
            .otherwise("es").as("lang"),
          concat(lit("src"), pmod(col("id"), lit(20))).as("source"),
          length(col("text")).cast("long").as("n_chars"))
    }

    /** Unit vectors: uniform noise plus a small per-label centroid. */
    def embeddings: DataFrame = {
      val label = uni(81, 10)
      val raw = transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(lit(seed), lit(82), col("id"), j), lit(1000000L)) /
          lit(1e6) - lit(0.5)) + lit(0.15) *
          (pmod(xxhash64(lit(seed), lit(83), col("label"), j), lit(1000L)) /
            lit(1000.0) - lit(0.5)))
      rows(sz.embeddings)
        .withColumn("label", label.cast("int"))
        .withColumn("raw", raw)
        .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
          (acc, x) => acc + x * x)))
        .select(col("id").as("vec_id"),
          transform(col("raw"), x => (x / col("norm")).cast("float"))
            .as("embedding"),
          col("label"))
    }
  }
}
