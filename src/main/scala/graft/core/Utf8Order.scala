package graft.core

/** UTF-8 byte order for strings: Spark's binary collation, and the order
  * of the reference's `BTreeSet<String>` metadata answers. Java's
  * `String.compareTo` compares UTF-16 code units instead, which puts a
  * character above U+FFFF (a surrogate pair) before U+E000..U+FFFF; so a
  * driver-side `.sorted` and a Spark `ORDER BY` can order one set of
  * values two ways. Every metadata answer (tag keys, tag values,
  * measurement and field names) is sorted with [[sorted]], whether it
  * comes from chunk summaries or from a scan. */
object Utf8Order {

  /** Strings compared as their UTF-8 bytes are, without encoding them:
    * UTF-8 byte order is code point order, and at the first differing
    * UTF-16 unit the two orders disagree only between a surrogate
    * (U+D800..U+DFFF, a code point above U+FFFF) and U+E000..U+FFFF, so
    * those units are moved past each other before comparing. A string
    * before any string it is a prefix of, as in UTF-8. */
  val ordering: Ordering[String] = (a, b) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) Integer.compare(a.length, b.length)
    else Integer.compare(codePointRank(a.charAt(i)), codePointRank(b.charAt(i)))
  }

  private def codePointRank(c: Char): Int =
    if (c < 0xD800) c
    else if (c < 0xE000) c + 0x2000 // surrogates above U+FFFF's units
    else c - 0x800

  /** `values` without duplicates, in UTF-8 byte order. */
  def sorted(values: IterableOnce[String]): Seq[String] =
    values.iterator.distinct.toVector.sorted(ordering)
}
