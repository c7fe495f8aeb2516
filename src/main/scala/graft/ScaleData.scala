package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic ×F scale-up of a testdata SF directory into a repo-local
  * scratch dir, for the scaling measurements in `SCALE_r13.md`
  * ([[ScaleBench]] runs the heavy query families at 1× and F× and compares
  * time + shuffle bytes).
  *
  * Design goal: the scaled corpus must have the SAME statistical profile
  * as the original — duplicate RATE, shingle document-frequency profile,
  * per-series point counts, cosine-neighborhood structure — just F× more
  * of it, so a family whose cost curve is super-linear shows up as a
  * plan/algorithm property, not as an artifact of pasting F identical
  * copies (which would explode the true-duplicate pair count ×F² by
  * construction and prove nothing about the engine).
  *
  * Per-table treatment (replica k = 0 keeps the original rows bit-exact):
  *  - `documents`: ids stride by (max_id+1)·k; replica text (k>0) gets a
  *    replica-salt token appended to every 2ND word, so every n-gram
  *    window with n ≥ 2 crosses ≥1 salted word and NO shingle survives
  *    across replicas: each replica is its own shingle universe,
  *    per-shingle df stays flat, and true near-dup pairs scale ×F
  *    (constant dup rate). Docs that are near-dups of each other WITHIN
  *    a replica stay near-dups (the salt is position-based, applied
  *    identically). The first r13 run salted every 4TH word, which let
  *    1-in-4 TRIgram windows (the dedup family's n=3) land between
  *    markers and stay replica-shared — per-trigram df then grew ×F and
  *    the ×100 run measured the resulting quadratic pair blowup
  *    (31 GB of shuffle on corpus_health_report; see SCALE_r13.md —
  *    a useful adversarial datapoint, but not the flat-df experiment
  *    this generator promises).
  *  - `embeddings`: ids stride; replica k's vectors are circularly
  *    rotated by k·7 positions — an orthogonal transform, so norms and
  *    all WITHIN-replica cosines are preserved exactly while
  *    cross-replica pairs decorrelate (fresh neighborhoods, same local
  *    geometry).
  *  - `events`: event ids and user ids stride — F× more series over the
  *    same time range (the realistic growth axis for a TSDB), per-series
  *    cadence unchanged.
  *  - remaining TPC-H tables: byte-copied as-is (the heavy families
  *    under scale test do not read them; copying keeps every
  *    `SparkEntry.queries` entry runnable against the scratch dir).
  *
  * Everything is a pure function of the input bytes and F — rerunning
  * overwrites with identical content (modulo parquet encoder metadata),
  * which is what lets scaling ratios be re-measured round over round.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/root/repo/scale_scratch/x10"
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 2, s"factor must be >= 2, got $factor")
    // 32 shuffle partitions whatever the core count: the scaled tables'
    // file layout does not depend on the host that generated them
    val spark = GraftSession.builder()
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // replica axis: one scan -> F× rows, no driver loop
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scale] wrote $name x$factor")
    }

    // ---- documents ---------------------------------------------------
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val docStride = docs.agg(max("doc_id")).head().getLong(0) + 1
    // k>0: salt every 2nd word with a replica marker so no n>=2 shingle
    // survives across replicas (see scaladoc); k=0 rows stay bit-exact
    val saltedText = when(col("__k") === 0, col("text")).otherwise(
      array_join(
        zip_with(
          split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (w, i) => when(i % 2 === 1,
            concat(w, lit("⟦r"), col("__k"), lit("⟧"))).otherwise(w)),
        " "))
    write(replicate(docs).select(
      (col("doc_id") + col("__k") * lit(docStride)).as("doc_id"),
      saltedText.as("text"),
      col("lang"), col("source"),
      length(saltedText).cast("long").as("n_chars")), "documents")

    // ---- embeddings --------------------------------------------------
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val embStride = emb.agg(max("vec_id")).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // rotate by k·7 mod dim: orthogonal, norm-preserving, decorrelates
    // replicas; shift 0 for k=0 keeps originals bit-exact
    val shift = pmod(col("__k") * lit(7), lit(dim))
    val rotated = when(shift === 0, col("embedding")).otherwise(
      concat(slice(col("embedding"), shift + 1, lit(dim) - shift),
        slice(col("embedding"), lit(1), shift)))
    write(replicate(emb).select(
      (col("vec_id") + col("__k") * lit(embStride)).as("vec_id"),
      rotated.as("embedding"), col("label")), "embeddings")

    // ---- events ------------------------------------------------------
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    val evStride = ev.agg(max("event_id")).head().getLong(0) + 1
    val userStride = ev.agg(max("user_id")).head().getLong(0) + 1
    write(replicate(ev).select(
      (col("event_id") + col("__k") * lit(evStride)).as("event_id"),
      col("ts"),
      (col("user_id") + col("__k") * lit(userStride)).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")

    // ---- pass-through copies ----------------------------------------
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$baseDir/$t.parquet"),
        java.nio.file.Paths.get(s"$outDir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[scale] done: $outDir (factor $factor over $baseDir)")
    spark.stop()
  }
}
