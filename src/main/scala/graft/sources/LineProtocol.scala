package graft.sources

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{IoxSchema, NsTime}

/** InfluxDB line-protocol ingest, re-expressed for Spark.
  *
  * Format (public InfluxDB docs; reference parser at
  * influxdb_line_protocol/src/lib.rs:474 `parse_lines`):
  *
  * {{{ measurement[,tag_key=tag_val...] field_key=field_val[,...] [timestamp_ns] }}}
  *
  * Escaping rules (lib.rs:529-727):
  *  - measurement: `\,` and `\ ` (comma, space)
  *  - tag keys/values and field keys: `\,` `\=` `\ `
  *  - string field values: double-quoted; `\"` and `\\`
  *  - field value suffixes: `123i` (i64), `123u` (u64), bare float,
  *    `t/T/true/True/TRUE`, `f/F/false/False/FALSE`
  *  - optional trailing ns timestamp; `#` comment lines; blank lines skipped.
  *
  * The parser is a plain Scala function so it runs inside executors via
  * `mapPartitions` — ingest parallelizes with the number of input splits,
  * which is what lets it scale to arbitrary volume (each 128 MB text split
  * parses independently; no driver-side work).
  */
object LineProtocol {

  sealed trait FieldValue { def sqlType: DataType }
  case class F64(v: Double) extends FieldValue { def sqlType = DoubleType }
  case class I64(v: Long) extends FieldValue { def sqlType = LongType }
  /** u64: Spark has no unsigned; widest safe container is Decimal(20,0)
    * (reference treats u64 as first-class, schema.rs:575). */
  case class U64(v: BigInt) extends FieldValue { def sqlType = DecimalType(20, 0) }
  case class Str(v: String) extends FieldValue { def sqlType = StringType }
  case class Bool(v: Boolean) extends FieldValue { def sqlType = BooleanType }

  case class ParsedLine(
      measurement: String,
      tags: Seq[(String, String)],
      fields: Seq[(String, FieldValue)],
      timestampNs: Option[Long])

  case class LpException(msg: String) extends Exception(msg)

  /** Reference numeral shapes (lib.rs:656-711: `opt('-')` then digits for
    * i64/timestamps, bare digits for u64, and the float grammar in
    * fieldValue) — notably NO leading `+` anywhere, which Java's numeric
    * parsers would otherwise accept. */
  private val FloatShape =
    java.util.regex.Pattern.compile("-?\\d+(\\.\\d+)?([eE][+-]\\d+)?")
  private val IntShape = java.util.regex.Pattern.compile("-?\\d+")
  private val UIntShape = java.util.regex.Pattern.compile("\\d+")

  // ---------------------------------------------------------------- parser

  /** Parse one line; throws LpException on malformed input. */
  def parseLine(line: String): ParsedLine = {
    val s = line
    var i = 0
    val n = s.length

    def err(m: String) = throw LpException(s"$m at pos $i in: $line")

    // Scan an escaped identifier terminated by any char in `stops`.
    // `escapable` chars (which always include `\` itself, lib.rs
    // measurement/tag_key/tag_value/field_key escape tests) lose their
    // backslash; any other `\x` stays as-is (unknown escapes are kept
    // intact, lib.rs:1775). An identifier may not end in a bare
    // backslash (lib.rs EndsWithBackslash, :1802,1858,1914,1970); a raw
    // newline terminates it like a delimiter (lib.rs:1791).
    def ident(stops: String, escapable: String): String = {
      val sb = new java.lang.StringBuilder
      var done = false
      while (!done && i < n) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < n) {
          val nx = s.charAt(i + 1)
          if (escapable.indexOf(nx) >= 0) { sb.append(nx); i += 2 }
          else { sb.append(c); sb.append(nx); i += 2 }
        } else if (c == '\\') err("identifier ends with backslash")
        else if (stops.indexOf(c) >= 0) done = true
        else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    val measurement = ident(", \n\r", ", \\")
    if (measurement.isEmpty) err("empty measurement")

    val tags = mutable.ArrayBuffer.empty[(String, String)]
    while (i < n && s.charAt(i) == ',') {
      i += 1
      val k = ident("=, \n\r", "=, \\")
      if (i >= n || s.charAt(i) != '=') err(s"tag '$k' missing '='")
      i += 1
      val v = ident("=, \n\r", "=, \\")
      if (k.isEmpty || v.isEmpty) err("empty tag key or value")
      tags += (k -> v)
    }
    if (i >= n || s.charAt(i) != ' ') err("expected space before fields")
    while (i < n && s.charAt(i) == ' ') i += 1

    def fieldValue(): FieldValue = {
      if (i < n && s.charAt(i) == '"') {
        i += 1
        val sb = new java.lang.StringBuilder
        var closed = false
        while (!closed) {
          if (i >= n) err("unterminated string field")
          val c = s.charAt(i)
          if (c == '\\' && i + 1 < n && (s.charAt(i + 1) == '"' || s.charAt(i + 1) == '\\')) {
            sb.append(s.charAt(i + 1)); i += 2
          } else if (c == '"') { i += 1; closed = true }
          else { sb.append(c); i += 1 }
        }
        Str(sb.toString)
      } else {
        val start = i
        while (i < n && s.charAt(i) != ',' && s.charAt(i) != ' ') i += 1
        val raw = s.substring(start, i)
        if (raw.isEmpty) err("empty field value")
        val last = raw.charAt(raw.length - 1)
        // numeric failures (malformed AND out-of-range) are parse errors,
        // matching the reference's IntegerValueInvalid /
        // UIntegerValueInvalid / FloatValueInvalid (lib.rs:1572-1606);
        // a float that overflows f64 range errors rather than reading
        // as infinity (Rust's f64 parse rejects it; Java's returns Inf)
        raw match {
          case "t" | "T" | "true" | "True" | "TRUE" => Bool(true)
          case "f" | "F" | "false" | "False" | "FALSE" => Bool(false)
          case _ if last == 'i' =>
            val lit = raw.dropRight(1)
            if (!IntShape.matcher(lit).matches()) err(s"invalid i64: $raw")
            try I64(java.lang.Long.parseLong(lit))
            catch { case _: NumberFormatException => err(s"invalid i64: $raw") }
          case _ if last == 'u' =>
            val lit = raw.dropRight(1)
            if (!UIntShape.matcher(lit).matches()) err(s"invalid u64: $raw")
            val b = BigInt(lit)
            if (b > BigInt("18446744073709551615")) err(s"u64 out of range: $raw")
            U64(b)
          case _ =>
            // the reference float grammar (lib.rs:1451-1556): optional
            // minus, digits, optional fraction, optional exponent that
            // MUST carry an explicit sign and digits (`1e+06` parses,
            // `1e06` / `1e` / `1e+` are errors) — stricter than
            // Double.parseDouble, so validate the shape first
            if (!FloatShape.matcher(raw).matches()) err(s"invalid f64: $raw")
            // the reference era's f64 parse rejects absurdly long numerals
            // (lib.rs parse_out_of_range_float: 200-digit literal errors);
            // cap the literal length rather than round silently
            if (raw.length > 64) err(s"f64 literal too long: ${raw.take(16)}…")
            val d = java.lang.Double.parseDouble(raw)
            if (d.isInfinite) err(s"f64 out of range: $raw")
            F64(d)
        }
      }
    }

    val fields = mutable.ArrayBuffer.empty[(String, FieldValue)]
    var more = true
    while (more) {
      val k = ident("=, \n\r", "=, \\")
      if (i >= n || s.charAt(i) != '=') err(s"field '$k' missing '='")
      i += 1
      fields += (k -> fieldValue())
      if (i < n && s.charAt(i) == ',') i += 1 else more = false
    }
    if (fields.isEmpty) err("no fields")

    var ts: Option[Long] = None
    while (i < n && s.charAt(i) == ' ') i += 1
    if (i < n) {
      val start = i
      while (i < n && s.charAt(i) != ' ') i += 1
      val raw = s.substring(start, i)
      if (!IntShape.matcher(raw).matches()) err(s"invalid timestamp: $raw")
      ts = Some(try java.lang.Long.parseLong(raw) catch {
        // out-of-i64-range timestamps are parse errors
        // (lib.rs TimestampValueInvalid, :1708)
        case _: NumberFormatException => err(s"invalid timestamp: $raw")
      })
      while (i < n && s.charAt(i) == ' ') i += 1
      if (i < n) err("trailing garbage after timestamp")
    }
    ParsedLine(measurement, tags.toSeq, fields.toSeq, ts)
  }

  /** Parse many lines, skipping blanks and `#` comments. Strict: the
    * first malformed line throws. */
  def parseLines(text: IterableOnce[String]): Iterator[ParsedLine] =
    text.iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(parseLine)

  /** Lenient variant: one Result per content line, like the reference's
    * `parse_lines` iterator of `Result<ParsedLine>` (lib.rs:474,
    * parse_advance_after_error:2000) — a malformed line yields its error
    * and parsing ADVANCES to the next line instead of aborting the
    * batch. The right shape for bulk ingest at scale, where one bad line
    * in a terabyte must not poison its whole input split. */
  def parseLinesLenient(text: IterableOnce[String])
      : Iterator[Either[(String, String), ParsedLine]] =
    text.iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        try Right(parseLine(l))
        catch { case e: LpException => Left((l, e.msg)) }
      }

  // ------------------------------------------------------------- formatter

  /** Identifier escaping writes exactly what InfluxDB's encoders write: only
    * the delimiters `, = ` (and for measurements just `, `) gain a
    * backslash — a literal backslash is left as-is, because `\\` is NOT an
    * escape sequence in identifiers (the parser keeps unknown escapes
    * intact, lib.rs:529-727). Consequence, inherent to the format: an
    * identifier whose backslash immediately precedes a delimiter (or ends
    * the identifier) is not round-trippable — the written `\` merges with
    * the delimiter's escape. Same wart as upstream; see
    * LineProtocolPropSpec for the precise property. */
  private def escIdent(v: String): String =
    v.replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")
  private def escMeasurement(v: String): String =
    v.replace(",", "\\,").replace(" ", "\\ ")

  /** Row -> line-protocol text (used for round-trip tests and the LP sink). */
  def format(l: ParsedLine): String = {
    val sb = new StringBuilder(escMeasurement(l.measurement))
    l.tags.foreach { case (k, v) => sb ++= s",${escIdent(k)}=${escIdent(v)}" }
    sb += ' '
    sb ++= l.fields.map { case (k, v) =>
      val vs = v match {
        case F64(d) =>
          // exponents must carry an explicit sign to re-parse (the
          // reference grammar rejects `1.5E300`; write `1.5E+300`)
          val s0 = d.toString
          val ei = s0.indexOf('E')
          if (ei >= 0 && s0.charAt(ei + 1) != '-')
            s0.substring(0, ei + 1) + "+" + s0.substring(ei + 1)
          else s0
        case I64(x) => s"${x}i"
        case U64(x) => s"${x}u"
        case Bool(b) => if (b) "true" else "false" // reference Display (lib.rs:355)
        case Str(x) => "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      }
      s"${escIdent(k)}=$vs"
    }.mkString(",")
    l.timestampNs.foreach(t => sb ++= s" $t")
    sb.toString
  }

  // ------------------------------------------------- schema inference + DF

  /** Infer one measurement's schema from its parsed lines: tags are
    * StringType, field types must agree (first-writer-wins with conflict
    * error, matching ingest-time validation entry/src/entry.rs:948),
    * `time` is ns LongType. Tag and field namespaces must not collide
    * (docs/data_management.md:31).
    */
  def inferSchema(lines: Seq[ParsedLine]): StructType = {
    val tagNames = mutable.LinkedHashSet.empty[String]
    val fieldTypes = mutable.LinkedHashMap.empty[String, DataType]
    lines.foreach { l =>
      l.tags.foreach { case (k, _) => tagNames += k }
      l.fields.foreach { case (k, v) =>
        fieldTypes.get(k) match {
          case None => fieldTypes(k) = v.sqlType
          case Some(t) if t == v.sqlType => ()
          case Some(t) =>
            throw LpException(s"field '$k' type conflict: ${t.simpleString} vs ${v.sqlType.simpleString}")
        }
      }
    }
    val overlap = tagNames.toSet.intersect(fieldTypes.keySet.toSet)
    if (overlap.nonEmpty)
      throw LpException(s"tag/field name collision: ${overlap.mkString(",")}")
    StructType(
      tagNames.toSeq.map(t => IoxSchema.tagged(t, StringType, IoxSchema.Tag)) ++
      fieldTypes.toSeq.map { case (f, t) => IoxSchema.tagged(f, t, IoxSchema.Field) } :+
      IoxSchema.tagged(NsTime.TimeColumn, LongType, IoxSchema.Time))
  }

  private def toRow(l: ParsedLine, schema: StructType, defaultTimeNs: Long): Row = {
    val tagMap = l.tags.toMap
    val fieldMap = l.fields.toMap
    Row.fromSeq(schema.fields.toSeq.map { f =>
      IoxSchema.categoryOf(f) match {
        case Some(IoxSchema.Tag) => tagMap.get(f.name).orNull
        case Some(IoxSchema.Time) => l.timestampNs.getOrElse(defaultTimeNs)
        case _ => fieldMap.get(f.name).map {
          case F64(v) => v
          case I64(v) => v
          case U64(v) => new java.math.BigDecimal(v.bigInteger)
          case Str(v) => v
          case Bool(v) => v
        }.orNull
      }
    })
  }

  /** Batch ingest of parsed lines: one DataFrame per measurement, each
    * one partition (driver-side schema inference over the batch; fine for
    * tests and micro-batches). `defaultTimeNs` stands in for the
    * server-assigned wall clock the reference applies to timestamp-less
    * lines. Callers that need the parsed lines themselves (the server's
    * write counters) parse once and call this; callers that need the rows
    * on the driver as well (the server's chunk summaries) call
    * [[batchesOf]]. */
  def framesOf(spark: SparkSession, parsed: Seq[ParsedLine],
      defaultTimeNs: Long = 0L): Map[String, DataFrame] =
    batchesOf(parsed, defaultTimeNs).map { case (m, (schema, rows)) =>
      m -> spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }

  /** Parsed lines as one (schema, rows) batch per measurement, on the
    * driver: the rows [[framesOf]] builds its frames from, each with its
    * line's resolved timestamp. */
  def batchesOf(parsed: Seq[ParsedLine],
      defaultTimeNs: Long = 0L): Map[String, (StructType, Seq[Row])] =
    parsed.groupBy(_.measurement).map { case (m, ls) =>
      val schema = inferSchema(ls)
      m -> (schema, ls.map(toRow(_, schema, defaultTimeNs)))
    }

  /** [[framesOf]] over raw line-protocol lines. */
  def ingest(spark: SparkSession, lines: Seq[String], defaultTimeNs: Long = 0L)
      : Map[String, DataFrame] =
    framesOf(spark, parseLines(lines).toSeq, defaultTimeNs)

  /** Distributed ingest of ONE known measurement with a fixed schema: the
    * scalable path (schema from a prior inference pass or a catalog), used
    * by streaming ingest. Runs entirely in executors.
    *
    * `lenient = false` (default) keeps the reference's API-edge contract:
    * a malformed line fails the batch (http.rs write returns 400). Bulk
    * backfill over existing files wants `lenient = true`: malformed lines
    * are skipped and tallied in `badLines`, so one bad line in a
    * terabyte split cannot poison the job — the reference's per-line
    * `Result` iterator gives its callers the same choice (lib.rs:474).
    * `badLines` is a MONITORING counter with transformation-accumulator
    * semantics: task retries or a recompute of the un-cached result (a
    * second action on the returned frame) can overcount it. Read it
    * after exactly one action, or treat it as an at-least-once signal —
    * never as an exact ledger.
    */
  def ingestAs(ds: Dataset[String], measurement: String, schema: StructType,
      defaultTimeNs: Long = 0L, lenient: Boolean = false,
      badLines: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val rows = ds.rdd.mapPartitions { it =>
      val parsed =
        if (!lenient) parseLines(it)
        else parseLinesLenient(it).flatMap {
          case Right(l) => Some(l)
          case Left(_) => badLines.foreach(_.add(1L)); None
        }
      parsed.filter(_.measurement == measurement)
        .map(toRow(_, schema, defaultTimeNs))
    }
    ds.sparkSession.createDataFrame(rows, schema)
  }
}
