package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.Tsm

/** A minimal TSM file writer for test fixtures: the layout
  * [[graft.sources.Tsm]] reads, each block in the plainest container its
  * decoder accepts — raw timestamp deltas, raw zigzag integer deltas,
  * Gorilla floats with every value as a full 64-bit XOR, bitpacked
  * booleans, snappy strings. No compression worth the name; the point is
  * small, exact files. */
object TsmWriter {

  /** One series of one field: its values all of one type (Double, Long,
    * Boolean or String; `unsigned` marks Longs as the unsigned type). */
  final case class Series(measurement: String, tags: Seq[(String, String)],
      field: String, points: Seq[(Long, Any)], unsigned: Boolean = false)

  /** Org and bucket ids of every key. */
  val Org: Array[Byte] = Array.fill(8)(0x0a.toByte)
  val Bucket: Array[Byte] = Array.fill(8)(0x0b.toByte)

  /** The file image: one block per series, index sorted by key. */
  def write(series: Seq[Series]): Array[Byte] = {
    val out = new ByteArrayOutputStream
    out.write(be(Tsm.Magic.toLong, 4))
    out.write(1)
    val index = series.map(s => (key(s), s)).sortBy(_._1)(bytesOrdering).map {
      case (k, s) =>
        val typ = typeOf(s)
        val body = block(typ, s.points)
        val offset = out.size.toLong
        val crc = new java.util.zip.CRC32
        crc.update(body)
        out.write(be(crc.getValue, 4))
        out.write(body)
        (k, typ, Tsm.Block(s.points.map(_._1).min, s.points.map(_._1).max,
          offset, 4 + body.length, typ))
    }
    val indexOffset = out.size.toLong
    index.foreach { case (k, typ, b) =>
      out.write(be(k.length.toLong, 2))
      out.write(k)
      out.write(typ)
      out.write(be(1L, 2))
      Seq(b.minTime, b.maxTime, b.offset).foreach(v => out.write(be(v, 8)))
      out.write(be(b.size.toLong, 4))
    }
    out.write(be(indexOffset, 8))
    out.toByteArray
  }

  /** `[org][bucket],\x00=<measurement>,<tags>,\xff=<field>#!~#<field>`
    * with sorted tags; none of the fixture names needs escaping. */
  private def key(s: Series): Array[Byte] = {
    val tags = s.tags.sorted.map { case (k, v) => s",$k=$v" }.mkString
    Org ++ Bucket ++ s",\u0000=${s.measurement}$tags,\u00ff=${s.field}#!~#${s.field}"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private val bytesOrdering: Ordering[Array[Byte]] = (a, b) =>
    java.util.Arrays.compareUnsigned(a, b)

  private def typeOf(s: Series): Int = s.points.head._2 match {
    case _: Double => 0
    case _: Long => if (s.unsigned) 4 else 1
    case _: Boolean => 2
    case _: String => 3
  }

  /** `[type][varint ts length][timestamps][values]`. */
  private def block(typ: Int, points: Seq[(Long, Any)]): Array[Byte] = {
    val ts = deltas(points.map(_._1), zig = false)
    val values = typ match {
      case 0 => floats(points.map(_._2.asInstanceOf[Double]))
      case 1 | 4 => deltas(points.map(_._2.asInstanceOf[Long]), zig = true)
      case 2 => booleans(points.map(_._2.asInstanceOf[Boolean]))
      case 3 => strings(points.map(_._2.asInstanceOf[String]))
    }
    Array(typ.toByte) ++ varint(ts.length.toLong) ++ ts ++ values
  }

  /** The raw container: header 0, then each delta as 8 big-endian bytes
    * (zigzagged for integers). */
  private def deltas(vs: Seq[Long], zig: Boolean): Array[Byte] =
    Array(0.toByte) ++ vs.zip(0L +: vs).flatMap { case (v, prev) =>
      val d = v - prev
      be(if (zig) (d << 1) ^ (d >> 63) else d, 8)
    }

  /** Gorilla: the first value raw, then per value either `0` (same as
    * the previous) or `11`, leading zeros 0, width 0 (64) and the 64-bit
    * XOR; the quiet-NaN sentinel ends the block. */
  private def floats(vs: Seq[Double]): Array[Byte] = {
    val bits = new java.util.BitSet
    var n = 0
    def put(v: Long, width: Int): Unit =
      (width - 1 to 0 by -1).foreach { k =>
        if (((v >>> k) & 1L) == 1L) bits.set(n)
        n += 1
      }
    val raw = vs.map(java.lang.Double.doubleToRawLongBits) :+ 0x7ff8000000000001L
    raw.zip(raw.tail).foreach { case (prev, v) =>
      if (v == prev) put(0, 1) else { put(3, 2); put(0, 11); put(v ^ prev, 64) }
    }
    val packed = new Array[Byte]((n + 7) / 8)
    (0 until n).foreach(i => if (bits.get(i)) packed(i / 8) = (packed(i / 8) | (0x80 >>> (i % 8))).toByte)
    Array((1 << 4).toByte) ++ be(raw.head, 8) ++ packed
  }

  private def booleans(vs: Seq[Boolean]): Array[Byte] = {
    val packed = new Array[Byte]((vs.size + 7) / 8)
    vs.zipWithIndex.foreach { case (v, i) =>
      if (v) packed(i / 8) = (packed(i / 8) | (0x80 >>> (i % 8))).toByte
    }
    Array((1 << 4).toByte) ++ varint(vs.size.toLong) ++ packed
  }

  private def strings(vs: Seq[String]): Array[Byte] = {
    val raw = vs.flatMap { s =>
      val b = s.getBytes(UTF_8)
      varint(b.length.toLong) ++ b
    }.toArray
    Array((1 << 4).toByte) ++ org.xerial.snappy.Snappy.compress(raw)
  }

  private def be(v: Long, width: Int): Array[Byte] =
    Array.tabulate(width)(i => (v >>> (8 * (width - 1 - i))).toByte)

  private def varint(v: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var u = v
    while (u >= 0x80) { out += ((u & 0x7f) | 0x80).toByte; u >>>= 7 }
    out += u.toByte
    out.result()
  }

  // ------------------------------------------------------------ fixtures

  /** The committed fixtures under `src/test/resources/tsm/`, by file
    * name. Generation 1 holds `cpu` (float, integer and boolean fields
    * over two hosts) and `disk` (string and unsigned fields); generation 2
    * rewrites three `cpu` points, one of them with a new value. */
  val fixtures: Seq[(String, Seq[Series])] = {
    val hosts = Seq("a", "b")
    val times = (0 until 6).map(i => 1000000000L * (i + 1))
    def cpu(field: String, value: (String, Int) => Any) = hosts.map(h =>
      Series("cpu", Seq("host" -> h, "cpu" -> "cpu0"), field,
        times.zipWithIndex.map { case (t, i) => t -> value(h, i) }))
    val gen1 =
      cpu("usage_user", (h, i) => if (h == "a") 1.5 * i else -0.25 * i) ++
      cpu("usage_idle", (h, i) => if (i == 3) Double.NaN else 100.0 - i) ++
      cpu("procs", (h, i) => (i * 7 - 10).toLong) ++
      cpu("up", (h, i) => i % 2 == 0) ++
      Seq(Series("disk", Seq("path" -> "/data"), "state",
          times.take(3).map(t => t -> s"ok-${t / 1000000000L}")),
        Series("disk", Seq("path" -> "/data"), "free",
          times.take(3).map(t => t -> (t / 1000000L)), unsigned = true))
    val gen2 = Seq(Series("cpu", Seq("host" -> "a", "cpu" -> "cpu0"), "usage_user",
      Seq(times(1) -> 1.5, times(2) -> 99.0, times(5) -> 7.5)))
    Seq("000000001-000000001.tsm" -> gen1, "000000002-000000001.tsm" -> gen2)
  }
}
