package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HexHamming

class HexHammingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def utf(s: String) = UTF8String.fromString(s)

  test("kernel: bit distances, mismatches, garbage") {
    assert(HexHamming.compute(utf("0"), utf("0")) === 0)
    assert(HexHamming.compute(utf("0"), utf("f")) === 4)
    assert(HexHamming.compute(utf("ab12"), utf("ab12")) === 0)
    assert(HexHamming.compute(utf("0000"), utf("ffff")) === 16)
    assert(HexHamming.compute(utf("8"), utf("0")) === 1)
    assert(HexHamming.compute(utf("abc"), utf("ab")) === -1)  // length
    assert(HexHamming.compute(utf("xy"), utf("ab")) === -1)   // non-hex
    assert(HexHamming.compute(utf(""), utf("")) === 0)
  }

  test("expression agrees with the composed conv/xor/bit_count columns") {
    import spark.implicits._
    val hexes = Seq("0123456789abcdef", "fedcba9876543210",
      "0000000000000000", "ffffffffffffffff", "0123456789abcdee")
    val pairs = for (a <- hexes; b <- hexes) yield (a, b)
    val df = pairs.toDF("a", "b")
    def chunk(c: org.apache.spark.sql.Column, p: Int) =
      conv(c.substr(lit(1 + 4 * p), lit(4)), 16, 10).cast("int")
    val composed = (0 until 4).map(p =>
      bit_count(chunk(col("a"), p).bitwiseXOR(chunk(col("b"), p))))
      .reduce(_ + _).cast("int")
    val rows = df.select(
      call_function("hex_hamming", col("a"), col("b")).as("native"),
      composed.as("composed")).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
  }

  test("null and garbage inputs yield SQL null") {
    import spark.implicits._
    val df = Seq(("ab", "ab"), ("ab", "abc"), ("zz", "ab"), (null, "ab"))
      .toDF("a", "b")
      .select(call_function("hex_hamming", col("a"), col("b")).as("h"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSeq === Seq(Some(0), None, None, None))
  }
}
