package graft.core

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** [[Utf8Order]] against Spark's own string order, the comparison of the
  * UTF-8 bytes, over strings of code points from every UTF-8 length class,
  * U+E000..U+FFFF and the supplementary planes included. */
class Utf8OrderSpec extends AnyFunSuite {

  private val codePoint: Gen[Int] = Gen.frequency(
    3 -> Gen.oneOf(0x61, 0x62),
    1 -> Gen.choose(0x0, 0x7F),
    1 -> Gen.choose(0x80, 0x7FF),
    1 -> Gen.choose(0x800, 0xD7FF),
    2 -> Gen.oneOf(0xE000, 0xFFFD, 0xFFFF),
    2 -> Gen.oneOf(0x10000, 0x1F600, 0x10FFFF))

  private val string: Gen[String] = Gen.choose(0, 4).flatMap(n =>
    Gen.listOfN(n, codePoint).map(cps => new String(cps.toArray, 0, cps.size)))

  test("orders strings as Spark compares their UTF-8 bytes") {
    val prop = Prop.forAll(string, string) { (a, b) =>
      Integer.signum(Utf8Order.ordering.compare(a, b)) ==
        Integer.signum(UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status)
  }

  test("sorted drops duplicates and puts U+FFFD before U+1F600") {
    assert(Utf8Order.sorted(Seq("\uD83D\uDE00", "\uFFFD", "a", "\uFFFD")) ==
      Seq("a", "\uFFFD", "\uD83D\uDE00"))
  }
}
