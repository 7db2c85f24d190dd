package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class MinHashBandsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("kernel bands equal the relational formulation's band hashes") {
    import spark.implicits._
    val df = Seq((1L, Seq("a b c", "b c d", "a b c")), (2L, Seq("x y z")))
      .toDF("sid", "shs")
    val kernel = df.select(col("sid"),
        posexplode(call_function("minhash_bands", col("shs"), lit(4), lit(2))))
      .toDF("sid", "band", "bh")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // relational reference: min(md5("i|"+s)) over the DISTINCT set, then
    // md5(m0|m1) per band — duplicates in the input must not matter
    val aggs = (0 until 4).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"m$i"))
    val rel = df.select(col("sid"), explode(col("shs")).as("sh")).distinct()
      .groupBy(col("sid"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("sid"),
        md5(concat_ws("|", col("m0"), col("m1"))).as("b0"),
        md5(concat_ws("|", col("m2"), col("m3"))).as("b1"))
      .collect().flatMap(r => Seq(
        (r.getLong(0), 0) -> r.getString(1), (r.getLong(0), 1) -> r.getString(2)))
      .toMap
    assert(kernel === rel)
  }

  test("empty shingle arrays generate no bands; null stays null") {
    import spark.implicits._
    val df = Seq((1L, Some(Seq.empty[String])), (2L, None),
      (3L, Some(Seq("s")))).toDF("sid", "shs")
    val out = df.select(col("sid"),
        call_function("minhash_bands", col("shs"), lit(8), lit(2)).as("b"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(out(1L) === Seq.empty)
    assert(out(2L) === null)
    assert(out(3L).length === 4)
  }

  test("map-only candidates equal the relational candidates exactly") {
    val relational = Dedup.minhashCandidates(
      Dedup.docShingles(docs, "text", "doc_id", distinct = false), 8, 2)
    val mapOnly = Dedup.minhashCandidatesMapOnly(docs, "text", "doc_id", 3, 8, 2)
    assert(relational.count() === mapOnly.count())
    assert(relational.exceptAll(mapOnly).isEmpty &&
      mapOnly.exceptAll(relational).isEmpty)
  }

  test("simhash64 kernel equals the relational 64-sum signature exactly") {
    val rel = Dedup.simhashSignature(docs, "text", "doc_id")
    val ker = Dedup.simhashSignatureMapOnly(docs, "text", "doc_id")
    assert(rel.count() === ker.count())
    assert(rel.exceptAll(ker).isEmpty && ker.exceptAll(rel).isEmpty)
  }

  test("simhash64 counts duplicate tokens like the multiset formulation") {
    import spark.implicits._
    // "a a b": a's bits vote twice — dropping duplicates would flip any
    // bit where a and b disagree
    val out = Seq((1L, Seq("a", "a", "b")), (2L, Seq("a", "b")))
      .toDF("sid", "toks")
      .select(col("sid"), call_function("simhash64", col("toks")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) !== out(2L))
    assert(out(1L).length === 16 && out(1L).matches("[0-9a-f]{16}"))
  }

  test("property: kernels match independent JVM references on random inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // strings incl. unicode, empties, duplicates
    val strGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("", "héllo wörld", "日本語 テスト", "a b", "…—»"),
      Gen.const("dup"))
    val arrGen = Gen.listOfN(12, strGen)
    (0 until 20).foreach { i =>
      val arr = arrGen(Gen.Parameters.default, Seed(i.toLong)).get
      val row = Seq((1L, arr)).toDF("sid", "xs")
        .select(
          call_function("minhash_bands", col("xs"), lit(4), lit(2)).as("bands"),
          call_function("simhash64", col("xs")).as("sig"))
        .head
      // reference minhash bands
      val mins = (0 until 4).map(h => arr.map(s => md5hex(s"$h|$s")).min)
      val expBands = Seq(md5hex(mins(0) + "|" + mins(1)), md5hex(mins(2) + "|" + mins(3)))
      assert(row.getSeq[String](0) === expBands, s"minhash mismatch on $arr")
      // reference simhash
      val counts = Array.fill(64)(0)
      arr.foreach { s =>
        val hx = md5hex(s)
        for (p <- 0 until 16; b <- 0 until 4) {
          val dig = Integer.parseInt(hx.substring(p, p + 1), 16)
          counts(p * 4 + b) += (if (((dig >> b) & 1) == 1) 1 else -1)
        }
      }
      val expSig = (0 until 16).map { p =>
        "0123456789abcdef".charAt(
          (0 until 4).map(b => if (counts(p * 4 + b) > 0) 1 << b else 0).sum)
      }.mkString
      assert(row.getString(1) === expSig, s"simhash mismatch on $arr")
    }
  }

  test("invalid band geometry is rejected at analysis time") {
    import spark.implicits._
    val df = Seq((1L, Seq("s"))).toDF("sid", "shs")
    val e = intercept[Exception] {
      df.select(call_function("minhash_bands", col("shs"), lit(8), lit(3))).collect()
    }
    assert(e.getMessage.contains("divide"))
  }
}
