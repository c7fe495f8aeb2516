package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.core.RpcPredicate
import graft.server.{StorageProtoReader => R}
import graft.sources.StatsCatalog
import graft.StorageRequests._

/** Every metadata answer is in UTF-8 byte order: Spark's binary collation
  * and the order of the reference's `BTreeSet<String>`, whichever path
  * answers. UTF-16 order (`String.compareTo`) differs from it between a
  * character above U+FFFF, such as U+1F600, and U+E000..U+FFFF, such as
  * U+FFFD or U+E000: UTF-8 puts U+FFFD first, UTF-16 puts U+1F600 first. */
class MetadataOrderSpec extends SparkSpec {

  private val (replacement, grin, privateUse) = ("\uFFFD", "\uD83D\uDE00", "\uE000")

  private def strings(p: Int, method: String, req: Array[Byte]): Seq[String] = {
    val (status, resp) = call(p, method, req)
    assert(status == 0, s"$method: grpc-status $status")
    stringValues(resp.head)
  }

  test("tag values are in UTF-8 byte order across and within measurements") {
    val lp = Seq(s"m,k=$replacement v=1 1", s"m,k=$grin v=1 2", "m,k=a v=1 3",
      s"n,k=$grin v=1 4").mkString("\n")
    withStorageGrpc(spark, lp) { (_, p) =>
      val want = Seq("a", replacement, grin)
      def tagValues(pred: Option[Array[Byte]]) = msg { b =>
        b.bytes(1, source)
        pred.foreach(n => b.bytes(3, predicate(n)))
        b.bytes(4, "k".getBytes(UTF_8))
      }
      assert(strings(p, "TagValues", tagValues(None)) == want)
      assert(strings(p, "TagValues",
        tagValues(Some(cmp(R.Cmp.Regex, tagRef("k"), litRegex(".*"))))) == want)
      assert(strings(p, "MeasurementTagValues", msg { b =>
        b.bytes(1, source); b.bytes(2, "m".getBytes(UTF_8)); b.bytes(3, "k".getBytes(UTF_8))
      }) == want)
    }
  }

  test("tag keys and measurement names are in UTF-8 byte order") {
    val lp = Seq(s"$privateUse,$grin=x,$privateUse=y,a=z v=1 1",
      s"$grin,a=1 v=1 1", "a,b=1 v=1 1").mkString("\n")
    withStorageGrpc(spark, lp) { (_, p) =>
      val all = msg(b => b.bytes(1, source))
      // the sentinel keys frame the list
      assert(strings(p, "TagKeys", all) ==
        Seq("\u0000", "a", "b", privateUse, grin, replacement))
      assert(strings(p, "MeasurementNames", all) == Seq("a", privateUse, grin))
      assert(strings(p, "TagValues", msg { b =>
        b.bytes(1, source); b.bytes(4, Array(0.toByte))
      }) == Seq("a", privateUse, grin))
    }
  }

  test("sidecar metadata answers are in UTF-8 byte order") {
    val dir = Files.createTempDirectory("graft-order").toString
    StatsCatalog.save(spark, dir, StatsCatalog.TableStats(rowCount = 2,
      timeMin = 1L, timeMax = 2L,
      tagValues = Map("host" -> Seq(grin, replacement), grin -> Seq("x"),
        privateUse -> Seq("y")),
      cappedTags = Nil))
    val values = StatsCatalog.tagValuesFast(spark, dir, "host", RpcPredicate())(
      fail("a covered request scans"))
    import spark.implicits._
    assert(values.as[String].collect().toSeq == Seq(replacement, grin))
    assert(StatsCatalog.tagKeysFast(spark, dir, RpcPredicate())(
      fail("a covered request scans")) == Seq("host", privateUse, grin))
    assert(StatsCatalog.tableNamesFast(spark, Map(grin -> dir, privateUse -> dir),
      RpcPredicate())(_ => fail("a covered request scans")) == Seq(privateUse, grin))
  }
}
