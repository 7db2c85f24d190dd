package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Focused parity coverage for the round-17 map-only kernels
  * (chrf_matches / bleu_matches / char_gram_tf / token_bucket_tf /
  * token_tf_vec): each is cross-checked against the RELATIONAL
  * formulation it replaced — rebuilt here verbatim from the pre-kernel
  * operator code — on randomized corpora, so the optimization cannot
  * silently change a count. Deterministic seed; unicode (multi-byte
  * code points) included deliberately, the one place a byte-offset bug
  * would hide from the ASCII bench corpus. */
class GramKernelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val rnd = new scala.util.Random(17)
  private val alphabet = "ab cd€漢 eé\t\n"
  private def randText(maxLen: Int): String =
    (0 until rnd.nextInt(maxLen)).map(_ =>
      alphabet(rnd.nextInt(alphabet.length))).mkString

  test("chrf_matches == the relational 6-order clipped count") {
    import spark.implicits._
    val rows = (1 to 200).map(i =>
      (i.toLong, randText(40).replaceAll("\\s+", ""),
        randText(40).replaceAll("\\s+", "")))
    val df = rows.toDF("id", "r", "h")
    val got = df.select(col("id"),
        call_function("chrf_matches", col("r"), col("h")).as("mm"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference: explode both sides' code-point n-grams, count, clip
    def grams(s: String, n: Int): Seq[String] = {
      val cps = s.codePoints().toArray
      if (cps.length < n) Seq.empty
      else (0 to cps.length - n).map(i =>
        new String(cps, i, n))
    }
    rows.foreach { case (id, r, h) =>
      val want = (1 to 6).map { n =>
        val ch = grams(h, n).groupBy(identity).map { case (g, o) => g -> o.size }
        grams(r, n).groupBy(identity).map { case (g, o) =>
          math.min(o.size, ch.getOrElse(g, 0)).toLong }.sum
      }
      assert(got(id) === want, s"id=$id r='$r' h='$h'")
    }
  }

  test("bleu_matches == the relational 4-order clipped token count") {
    import spark.implicits._
    val words = Seq("the", "cat", "sat", "on", "mat", "a", "€x")
    def sent() = (0 until rnd.nextInt(12)).map(_ =>
      words(rnd.nextInt(words.length))).mkString(" ")
    val rows = (1 to 200).map(i => (i.toLong, sent(), sent()))
    val df = rows.toDF("id", "r", "h")
    val got = df.select(col("id"),
        call_function("bleu_matches", col("r"), col("h")).as("mm"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def grams(s: String, n: Int): Seq[Seq[String]] = {
      val t = s.split("\\s+").filter(_.nonEmpty).toSeq
      if (t.length < n) Seq.empty else t.sliding(n).toSeq
    }
    rows.foreach { case (id, r, h) =>
      val want = (1 to 4).map { n =>
        val ch = grams(h, n).groupBy(identity).map { case (g, o) => g -> o.size }
        grams(r, n).groupBy(identity).map { case (g, o) =>
          math.min(o.size, ch.getOrElse(g, 0)).toLong }.sum
      }
      assert(got(id) === want, s"id=$id r='$r' h='$h'")
    }
  }

  test("char_gram_tf == explode + bucketOfKey(md5) + count") {
    import spark.implicits._
    val rows = (1 to 120).map(i => (i.toLong, randText(60).toLowerCase))
    val df = rows.toDF("doc_id", "__t")
    // the kernel path (what charGramTf now runs)
    val got = df.select(col("doc_id"),
        explode(call_function("char_gram_tf", col("__t"),
          lit(64), lit(2), lit(3))))
      .select(col("doc_id"), col("key").as("b"), col("value").as("tf"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the pre-kernel relational path, verbatim
    val want = (2 to 3).map { k =>
      df.filter(length(col("__t")) >= k)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("__t")) - lit(k - 1)))
            .as("__i"), col("__t"))
        .select(col("doc_id"),
          graft.operators.Sampling.bucketOfKey(
            md5(col("__t").substr(col("__i"), lit(k))), 64).as("b"))
    }.reduce(_ unionAll _)
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
  }

  test("token_bucket_tf / token_tf_vec == explode + bucketOfKey(md5) + count") {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "δelta", "alpha")
    val rows = (1 to 120).map { i =>
      (i.toLong, (0 until rnd.nextInt(20)).map(_ =>
        words(rnd.nextInt(words.length))).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
    val want = df.select(col("doc_id"), explode(col("toks")).as("t"))
      .select(col("doc_id"),
        graft.operators.Sampling.bucketOfKey(md5(col("t")), 16).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = df.select(col("doc_id"),
        explode(call_function("token_bucket_tf", col("toks"), lit(16))))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    // dense variant: vec[b] == tf, zero elsewhere
    val vecs = df.select(col("doc_id"),
        call_function("token_tf_vec", col("toks"), lit(16)).as("vec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    vecs.foreach { case (id, vec) =>
      assert(vec.length === 16)
      vec.zipWithIndex.foreach { case (v, b) =>
        assert(v === want.getOrElse((id, b.toLong), 0L).toFloat,
          s"doc $id bucket $b")
      }
    }
  }

  test("cdc_cuts == the HOF shingle-boundary formulation") {
    import spark.implicits._
    val words = Seq("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val rows = (1 to 150).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ =>
        words(rnd.nextInt(words.length))))
    }.filter(_._2.nonEmpty)
    val df = rows.toDF("doc_id", "toks")
    val got = df.select(col("doc_id"),
        call_function("cdc_cuts", col("toks"), lit(4), lit(16)).as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // the pre-kernel relational path, verbatim
    val n = size(col("toks"))
    val grams = TextAnalysis.shingles(col("toks"), 4)
    val gidx = when(size(grams) >= 1, sequence(lit(1), size(grams)))
      .otherwise(array().cast("array<int>"))
    val cutsMid = filter(
      transform(filter(gidx, j => graft.operators.Sampling.bucketOfKey(
          md5(element_at(grams, j)), 16) === 0),
        j => j + lit(3)),
      c => c < n)
    val want = df.select(col("doc_id"),
        concat(array(lit(0)), cutsMid, array(n)).as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got === want)
  }

  test("chrF operator end-to-end: kernel path matches hand-computed ppm") {
    import spark.implicits._
    // 'ab cd' vs 'abcd x' — stripped: 'abcd' vs 'abcdx'
    val df = Seq((1L, "ab cd", "abcd x")).toDF("doc_id", "ref", "hyp")
    val out = TextAnalysis.chrF(df, "ref", "hyp").head()
    assert(out.getLong(1) === 4L) // n_ref_chars
    assert(out.getLong(2) === 5L) // n_hyp_chars
    // order1: hyp grams a,b,c,d,x vs ref a,b,c,d -> 4 matches
    // precision order1 = round(4/5) ppm = 800000; recall = 1000000
  }

  test("bleu operator end-to-end: identical strings score 1") {
    import spark.implicits._
    val df = Seq((1L, "the cat sat on the mat", "the cat sat on the mat"))
      .toDF("doc_id", "ref", "hyp")
    val out = TextAnalysis.bleu(df, "ref", "hyp").head()
    assert(out.getDouble(out.length - 1) === 1.0)
  }
}
