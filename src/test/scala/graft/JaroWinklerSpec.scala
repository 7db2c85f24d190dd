package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JaroWinkler

class JaroWinklerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("kernel: textbook values, conventions, boost threshold") {
    def jw(a: String, b: String) = JaroWinkler.compute(a, b)
    // the classic textbook pairs
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    // conventions pinned to DuckDB's jaro_winkler_similarity
    assert(jw("", "") === 0.0, "both-empty is 0 (the DuckDB convention)")
    assert(jw("a", "") === 0.0 && jw("", "a") === 0.0)
    assert(jw("same", "same") === 1.0)
    assert(jw("ab", "xy") === 0.0, "no matches at all")
    // boost threshold: below jaro 0.7 the prefix bonus must NOT apply —
    // 'aXYZW'/'aQRST' share prefix 'a' but jaro = (1/5+1/5+1)/3 = 0.4666…
    val j = jw("aXYZW", "aQRST")
    assert(math.abs(j - (1.0 / 5 + 1.0 / 5 + 1.0) / 3) < 1e-12,
      "prefix bonus leaked below the 0.7 boost threshold")
    // symmetry
    assert(jw("abcdef", "abcfed") === jw("abcfed", "abcdef"))
  }

  test("expression: codegen path equals the kernel; null contract") {
    import spark.implicits._
    val pairs = Seq(("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"),
      ("", ""), ("x", "x"), ("Customer#001", "Customer#011"))
    val got = pairs.toDF("a", "b")
      .select(expr("jaro_winkler(a, b)").as("jw"))
      .collect().map(_.getDouble(0))
    assert(got.toSeq === pairs.map { case (a, b) => JaroWinkler.compute(a, b) })
    // null in, null out
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(expr("jaro_winkler(a, b)")).collect().head
    assert(n.isNullAt(0))
    // type misuse fails at analysis, not at runtime
    val ex = intercept[Exception](
      Seq((1, 2)).toDF("a", "b").select(expr("jaro_winkler(a, b)")).collect())
    assert(ex.getMessage.toLowerCase.contains("string"))
  }
}
