package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale training-data pipelines.
  * Everything here composes Spark built-ins (codegen'd, no UDFs) so the
  * hot path stays inside whole-stage codegen at any scale.
  */
object TextFunctions {

  /** Normalized text: lowercase, trimmed, whitespace collapsed. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Whitespace tokens of normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** BPE-ish subword pre-tokenization: alphanumeric runs are one token
    * each, every other non-space character is its own token (a cheap
    * standalone approximation of byte-pair pre-tokenization). Expressed
    * with regexp_extract_all on the RE2-compatible subset so any engine
    * (and the DuckDB oracle) reproduces it exactly. */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(lower(trim(text)), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles (distinct), the unit for Jaccard similarity.
    * Computed by the native [[ShinglesExpr]] (r15): the prior
    * higher-order-function form was CodegenFallback and walked an
    * interpreted expression tree per shingle position; the native kernel
    * is one codegen'd linear pass per document with identical output
    * (equivalence pinned by ShinglesExprSpec). Short docs (< n tokens)
    * and null text yield an empty array. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.fromExpr(
      ShinglesExpr(org.apache.spark.sql.graft.ColumnBridge.toExpr(text),
        n, distinct = true))

  /** Word n-grams WITH multiplicity (unlike [[shingles]], which is
    * distinct) — the unit for repetition scoring, where duplicates are
    * exactly the signal. Same native kernel as [[shingles]]
    * ([[ShinglesExpr]] with distinct = false); short/null docs yield an
    * empty array. */
  def ngrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.fromExpr(
      ShinglesExpr(org.apache.spark.sql.graft.ColumnBridge.toExpr(text),
        n, distinct = false))

  /** Fraction of word bigrams that are repeats of an earlier bigram in
    * the same document — the Gopher-style repetition signal for machine-
    * generated / boilerplate text. 0 for docs with no bigrams. */
  def dupNgramRatio(text: Column, n: Int): Column = {
    val gs = ngrams(text, n)
    when(size(gs) > 0,
      lit(1.0) - size(array_distinct(gs)).cast("double") / size(gs).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Most-frequent-token frequency as a fraction of all tokens — the
    * other Gopher-style repetition signal. No explode, no shuffle, no
    * join back — at corpus scale this beats the
    * explode->groupBy(doc,token)->max->join formulation by two full
    * shuffles of every token occurrence. Computed by the native
    * [[TopTokenRatioExpr]] (r16): the prior sorted-array run fold was a
    * CodegenFallback higher-order aggregate walking an interpreted tree
    * per TOKEN; the kernel is one codegen'd counting pass with identical
    * output (equivalence pinned by TextKernelsSpec). */
  def topTokenRatio(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.fromExpr(
      TopTokenRatioExpr(org.apache.spark.sql.graft.ColumnBridge.toExpr(text)))

  /** Shared builder for the word-list counting kernel (one tokenize pass
    * for ALL lists — see [[WordListCountsExpr]]). */
  private def wordListCounts(text: Column, lists: Seq[Seq[String]],
      withTotal: Boolean): Column =
    org.apache.spark.sql.graft.ColumnBridge.fromExpr(
      WordListCountsExpr(org.apache.spark.sql.graft.ColumnBridge.toExpr(text),
        lists, withTotal))

  /** Stable 60-bit token hash shared with the DuckDB oracle: first 15 hex
    * chars of md5, parsed base-16. (Spark's murmur `hash()` has no DuckDB
    * twin; md5 is identical everywhere.) Computed by the native
    * [[Hash60Expr]] — bit-identical to the composed
    * conv(substring(md5(..),1,15),16,10) form, minus its three string
    * allocations per call. */
  def hash60(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.fromExpr(
      Hash60Expr(org.apache.spark.sql.graft.ColumnBridge.toExpr(c.cast("string"))))

  /** Deterministic document fingerprint: 60-bit hash of normalized text.
    * Plays the role of content-defined fingerprinting for exact dedup. */
  def fingerprint(text: Column): Column = hash60(normalize(text))

  // ------------------------------------------------------- quality scores

  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[\\p{Punct}]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def digitRatio(text: Column): Column =
    regexp_count(text, lit("[0-9]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def alphaRatio(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def meanWordLen(text: Column): Column =
    length(regexp_replace(normalize(text), " ", "")).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Fraction of tokens that are English stopwords — a classic quality /
    * fluency signal. */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  def stopwordRatio(text: Column): Column = {
    // r16: one native counting pass (see WordListCountsExpr) — the
    // composed size(filter(tokens, isInCollection)) walked an interpreted
    // predicate per token; the arithmetic below is the identical int-cast
    // division
    val c = wordListCounts(text, Seq(enStopwords), withTotal = true)
    element_at(c, 1).cast("double") /
      greatest(element_at(c, 2), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: rewards alpha text, mild length,
    * penalizes punctuation/digit noise. Deterministic arithmetic only. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val q = lenScore * 0.3 + alphaRatio(text) * 0.4 +
      (lit(1.0) - punctRatio(text)) * 0.2 + (lit(1.0) - digitRatio(text)) * 0.1
    round(q, 6)
  }

  // ----------------------------------------------- encoding/OCR garbage

  /** Control-character ratio (C0 minus tab/newline/CR): mojibake and
    * binary-in-text leakage rarely survive a clean decode — any hit is a
    * strong garbage signal. One codegen'd regexp pass. */
  def controlCharRatio(text: Column): Column =
    regexp_count(text, lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"))
      .cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Ratio of non-ASCII characters — meaningful only per expected
    * script (Chinese text is all non-ASCII by design); callers compare
    * against the language's baseline. */
  def nonAsciiRatio(text: Column): Column =
    regexp_count(text, lit("[^\\x00-\\x7f]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Longest run of latin consonants — the classic OCR-garble detector
    * ("mnbvcxz" runs don't occur in natural latin-script text; runs past
    * ~8 flag scanner noise). Per-row array math, zero shuffles. */
  def maxConsonantRun(text: Column): Column =
    coalesce(array_max(transform(
      regexp_extract_all(lower(text), lit("[bcdfghjklmnpqrstvwxz]+"),
        lit(0)),
      x => length(x))), lit(0))

  // -------------------------------------------------- Gopher quality rules

  /** '#' and '...' occurrences per token (the Gopher symbol-to-word
    * ratio; Rae et al. 2021 §A.1.1). Counted on the RAW text — the
    * symbols are the signal, normalization would keep them anyway. */
  def symbolWordRatio(text: Column): Column =
    (regexp_count(text, lit("#")) + regexp_count(text, lit("\\.\\.\\.")))
      .cast("double") / greatest(tokenCount(text), lit(1)).cast("double")

  /** Fraction of tokens containing at least one alphabetic character
    * (Gopher requires >= 0.8). */
  def alphaTokenFraction(text: Column): Column =
    // r16: native kernel — rlike("[a-z]") on the already-lowercased
    // tokens reduces to a char-range scan (see AlphaTokenFractionExpr)
    org.apache.spark.sql.graft.ColumnBridge.fromExpr(
      AlphaTokenFractionExpr(
        org.apache.spark.sql.graft.ColumnBridge.toExpr(text)))

  /** Gopher's required-stopword rule: the document must contain at least
    * two occurrences from this exact 8-word list (Rae et al. 2021). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherStopCount(text: Column): Column =
    // r16: native counting pass (see WordListCountsExpr)
    element_at(wordListCounts(text, Seq(gopherStops), withTotal = false), 1)

  /** Shannon entropy (bits) of the document's character distribution — a
    * cheap "is this natural text or noise/padding" quality signal (low
    * entropy = repeated filler, high = random bytes). Per-row array math
    * on the same sorted-array run-detection shape as [[topTokenRatio]]:
    * sort the chars, one linear pass sums `run * log2(run)` per equal-char
    * run, then H = log2(n) - S/n. No explode, no shuffle — corpus-scale
    * entropy is one codegen'd projection. (DuckDB's `entropy()` aggregate
    * over exploded chars is the oracle twin; the two accumulate in
    * different float orders, so compare rounded.) */
  def charEntropy(text: Column): Column = {
    // r16: the sorted-run detection (split per char + sort_array + an
    // interpreted fold per CHARACTER) moves into the native CharRunsExpr
    // kernel; the float arithmetic below is the SAME Spark expressions in
    // the SAME accumulation order (runs arrive sorted, each adds its
    // runTerm once; the old fold's extra leading `0.0 + runTerm(0)` is an
    // exact `0.0 + 0.0`), so the IEEE result is bit-identical.
    def runTerm(r: Column): Column =
      when(r > 0L, r.cast("double") * log2(r.cast("double"))).otherwise(lit(0.0))
    val h = element_at(
      transform(array(charRuns(text)), rs => {
        val s = aggregate(rs, lit(0.0), (acc, r) => acc + runTerm(r))
        val n = aggregate(rs, lit(0L), (acc, r) => acc + r)
        log2(n.cast("double")) - s / n.cast("double")
      }),
      1)
    when(length(text) > 0, h).otherwise(lit(0.0))
  }

  /** [[charEntropy]] restated for the cross-engine gate: every per-run
    * term quantizes to integer micro-bits BEFORE summation
    * (`c·round(log2(c)·1e6)`, the text_nb_lang discipline), so the
    * accumulated numerator `n·L(n) − Σ c_i·L(c_i)` is an exact integer
    * in any engine; the exposed value coarsens to MILLI-bits
    * (`floor(num / (n·1000))`) so a quantization-boundary flip of one
    * term cannot move the output. Raw-float entropy compared at
    * `round(…, 6)` is not engine-version-proof: the sum order and the
    * libm log2 both differ across engines. */
  def charEntropyMb(text: Column): Column = {
    // r16: run detection via the native CharRunsExpr kernel (see
    // charEntropy above); every round/log2/floor stays the same Spark
    // expression, and the accumulated numerator is an exact integer, so
    // the value is unchanged by construction.
    def qTerm(r: Column): Column =
      when(r > 0L, r * round(log2(r.cast("double")) * 1e6).cast("long"))
        .otherwise(lit(0L))
    val mb = element_at(
      transform(array(charRuns(text)), rs => {
        val s = aggregate(rs, lit(0L), (acc, r) => acc + qTerm(r))
        val n = aggregate(rs, lit(0L), (acc, r) => acc + r)
        floor((n * round(log2(n.cast("double")) * 1e6).cast("long") - s)
          .cast("double") / (n.cast("double") * lit(1000.0))).cast("long")
      }),
      1)
    when(length(text) > 0, mb).otherwise(lit(0L))
  }

  /** Run lengths of the sorted character array (ascending codepoint
    * order) — the shared native front of both entropy variants. */
  private def charRuns(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.fromExpr(
      CharRunsExpr(org.apache.spark.sql.graft.ColumnBridge.toExpr(text)))

  // ------------------------------------------------- PII detection/redaction

  /** RE2-compatible PII patterns (shared verbatim with the DuckDB oracle —
    * no lookarounds, no backreferences). The four classes redact in a
    * fixed order; the patterns are mutually non-overlapping (an SSN's
    * 3-2-4 digit shape can't match the phone 3-3-4 and vice versa). */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val piiSsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val piiPhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"

  def emailCount(text: Column): Column = regexp_count(text, lit(piiEmailRe))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(piiIpv4Re))
  def ssnCount(text: Column): Column = regexp_count(text, lit(piiSsnRe))
  def phoneCount(text: Column): Column = regexp_count(text, lit(piiPhoneRe))

  /** Replace every PII occurrence with a typed placeholder. Email first
    * (its local part may contain digits and dots that the later numeric
    * patterns would mangle), then IP / SSN / phone. Four codegen'd
    * regexp_replace passes — still a per-row projection, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, piiEmailRe, "<EMAIL>"),
          piiIpv4Re, "<IP>"),
        piiSsnRe, "<SSN>"),
      piiPhoneRe, "<PHONE>")

  // ------------------------------------------------------------- lang id

  /** Tiny per-language stopword lists for n-gram-free heuristic language
    * ID: the language whose marker words occur most wins; ties break
    * alphabetically (deterministic). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es" -> Seq("el", "la", "los", "las", "es", "en", "que", "por", "con", "una"),
    "fr" -> Seq("le", "la", "les", "est", "et", "en", "que", "pour", "avec", "une"))

  /** Non-overlapping blocklist phrase hits (case-insensitive): ONE
    * codegen'd RE2 alternation pass over the text, no UDF, no per-phrase
    * rescans. Callers supply regex-literal-safe phrases (plain words /
    * spaces), the policy-filter convention. */
  def blocklistCount(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "empty blocklist")
    regexp_count(lower(text), lit(phrases.map(_.toLowerCase).mkString("|")))
  }

  /** Intra-document sentence dedup (the repeated-passage cleanup at
    * sentence grain): split on sentence boundaries, keep each sentence's
    * FIRST occurrence in order, reassemble. Pure per-row array ops —
    * array_distinct preserves first-occurrence order. */
  def dedupSentences(text: Column): Column =
    array_join(array_distinct(split(text, "\\.\\s+")), ". ")

  // ---------------------------------------------------------- readability

  /** Lexical richness: distinct tokens / tokens (type-token ratio). */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") /
      greatest(size(tokens(text)), lit(1))

  /** Sentence count as terminator runs ([.!?]+), floored at 1 so
    * terminator-free fragments count as one sentence (the Flesch
    * convention for untagged text). */
  def sentenceCount(text: Column): Column =
    greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))

  /** Syllable estimate: vowel-group runs, the standard cheap proxy
    * (each maximal [aeiouy]+ run ≈ one syllable nucleus). */
  def syllableCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))

  /** Flesch reading ease, 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), on the proxies above. Integer counts into
    * one float expression — the same IEEE doubles in any engine. */
  def fleschReadingEase(text: Column): Column = {
    val words = greatest(size(tokens(text)), lit(1)).cast("double")
    lit(206.835) - lit(1.015) * (words / sentenceCount(text)) -
      lit(84.6) * (syllableCount(text) / words)
  }

  /** Predicted language code, or "und" when no marker matches.
    * Single pass over the tokens: the native [[WordListCountsExpr]]
    * kernel counts all languages' markers at once (r16 — the prior
    * array-accumulator aggregate walked an interpreted zip_with per
    * token). Then array_min of (negScore, lang) structs = best score
    * with alphabetical tie-break — all column ops, no UDF. */
  def langId(text: Column): Column = {
    val langs = langMarkers.toSeq.sortBy(_._1)
    val names = lit(langs.map(_._1).toArray)
    val scores = wordListCounts(text, langs.map(_._2), withTotal = false)
    val best = array_min(zip_with(scores, names,
      (s, l) => struct((-s).as("neg"), l.as("lang"))))
    when(best.getField("neg") < 0, best.getField("lang")).otherwise(lit("und"))
  }
}
