package graft.core

/** Minimal hand-rolled JSON field extraction — this build links no JSON
  * library, and the facade/rules documents are small, flat, and
  * engine-authored. One shared implementation (the facade and the rules
  * codec previously each carried a divergent copy): quote-aware where it
  * matters, with escape handling that errors gracefully on malformed
  * input instead of throwing out of the parse. */
object Json {

  def strField(json: String, key: String): Option[String] = {
    val re = ("\"" + java.util.regex.Pattern.quote(key) +
      "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
    re.findFirstMatchIn(json).map(m => unescape(m.group(1)))
  }

  def longField(json: String, key: String): Option[Long] = {
    val re = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(-?\\d+)").r
    re.findFirstMatchIn(json).map(_.group(1).toLong)
  }

  def boolField(json: String, key: String): Option[Boolean] = {
    val re = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(true|false)").r
    re.findFirstMatchIn(json).map(_.group(1) == "true")
  }

  /** The text span of `"key": <open>...<close>` (array or object), scanned
    * to the MATCHING close delimiter respecting string quoting — nested
    * delimiters and delimiter characters inside quoted values survive.
    * Returns (innerText, startOffsetOfKey, endOffsetAfterClose). */
  def blockField(json: String, key: String, open: Char,
      close: Char): Option[(String, Int, Int)] = {
    val re = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\\" + open).r
    re.findFirstMatchIn(json).map { m =>
      var i = m.end
      var depth = 1
      var inStr = false
      var escaped = false
      val sb = new StringBuilder
      while (depth > 0 && i < json.length) {
        val c = json.charAt(i)
        if (escaped) { sb.append(c); escaped = false }
        else if (inStr && c == '\\') { sb.append(c); escaped = true }
        else if (c == '"') { sb.append(c); inStr = !inStr }
        else if (!inStr && c == open) { depth += 1; sb.append(c) }
        else if (!inStr && c == close) {
          depth -= 1; if (depth > 0) sb.append(c)
        }
        else sb.append(c)
        i += 1
      }
      (sb.toString, m.start, i)
    }
  }

  /** `"key": ["a", "b"]` -> Seq(a, b); absent -> Nil. */
  def strArrayField(json: String, key: String): Seq[String] =
    blockField(json, key, '[', ']') match {
      case None => Nil
      case Some((inner, _, _)) =>
        val strRe = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
        strRe.findAllMatchIn(inner).map(m => unescape(m.group(1))).toSeq
    }

  /** `"key": [{...}, {...}]` -> the objects' texts; absent -> Nil.
    * Quote-aware at both levels, so '}' inside quoted values (regex
    * quantifiers, formats) cannot truncate an element. */
  def objArrayField(json: String, key: String): Seq[String] =
    blockField(json, key, '[', ']') match {
      case None => Nil
      case Some((inner, _, _)) =>
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < inner.length) {
          if (inner.charAt(i) == '{') {
            var depth = 1
            var inStr = false
            var escaped = false
            val sb = new StringBuilder("{")
            i += 1
            while (depth > 0 && i < inner.length) {
              val c = inner.charAt(i)
              if (escaped) { sb.append(c); escaped = false }
              else if (inStr && c == '\\') { sb.append(c); escaped = true }
              else if (c == '"') { sb.append(c); inStr = !inStr }
              else if (!inStr && c == '{') { depth += 1; sb.append(c) }
              else if (!inStr && c == '}') { depth -= 1; sb.append(c) }
              else sb.append(c)
              i += 1
            }
            out += sb.toString
          } else i += 1
        }
        out.result()
    }

  /** `"key": [1, 2]` -> Seq(1, 2); absent -> Nil. */
  def longArrayField(json: String, key: String): Seq[Long] =
    blockField(json, key, '[', ']') match {
      case None => Nil
      case Some((inner, _, _)) =>
        "-?\\d+".r.findAllIn(inner).map(_.toLong).toSeq
    }

  def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' if i + 6 <= s.length =>
            // malformed hex keeps the literal text rather than throwing
            try { sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6 }
            catch { case _: NumberFormatException => sb += '\\'; i += 1 }
          case other => sb += other; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Escape + quote a string for embedding in a JSON document. */
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c.isControl => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
