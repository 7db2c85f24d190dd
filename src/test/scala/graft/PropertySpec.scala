package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NestedOps, Skew}

/** Property-based invariants (SURVEY.md §5.2-4): upsert idempotence and
  * totality, set-insert idempotence, default-fill totality, and the
  * migration-pipeline row-count invariants. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic sample-driven property check (no scalatest-scalacheck
    * bridge in the offline cache). */
  private def forAll[T](g: Gen[T], n: Int = 15)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private val nameGen = Gen.oneOf("A", "B", "MEK_DefaultDeliveryday", "X")
  private val attrsGen = Gen.listOfN(4,
    Gen.zip(nameGen, Gen.alphaNumStr.map(_.take(5)))).map(_.distinctBy(_._1))

  test("N2 upsert: target attr present exactly once afterwards, other attrs untouched") {
    forAll(attrsGen) { attrs =>
      val df = Seq(("r", attrs.map { case (n, v) => (n, v, "t") }))
        .toDF("id", "raw")
        .select(col("id"), transform(col("raw"), t => struct(
          t.getField("_1").as("name"), t.getField("_2").as("value"),
          t.getField("_3").as("dt"))).as("attrs"))
      val out = df.select(explode(
          NestedOps.upsertAttr(col("attrs"), "MEK_DefaultDeliveryday", lit("-3D"), "string")).as("a"))
        .select(col("a.name"), col("a.value")).as[(String, String)].collect()
      assert(out.count(_._1 == "MEK_DefaultDeliveryday") === 1)
      assert(out.find(_._1 == "MEK_DefaultDeliveryday").get._2 === "-3D")
      val others = attrs.filterNot(_._1 == "MEK_DefaultDeliveryday")
      others.foreach { case (n, v) => assert(out.contains((n, v))) }
    }
  }

  test("N4 set-insert: applying twice == applying once, for any group list") {
    forAll(Gen.listOf(Gen.oneOf("CG_A", "CG_B", "CG_Mekonomen"))) { groups =>
      val df = Seq(Tuple1(groups)).toDF("g")
      val once = df.select(NestedOps.insertIfAbsent(col("g"), lit("CG_Mekonomen")).as("g"))
      val twice = once.select(NestedOps.insertIfAbsent(col("g"), lit("CG_Mekonomen")).as("g"))
      assert(once.as[Seq[String]].head() === twice.as[Seq[String]].head())
      // insert-if-absent never dedups pre-existing copies (reference
      // semantics, migrate.py:230-234): present → untouched, absent → +1
      val expected = math.max(1, groups.count(_ == "CG_Mekonomen"))
      assert(once.as[Seq[String]].head().count(_ == "CG_Mekonomen") === expected)
    }
  }

  test("V2 default-fill totality: every delivery_day becomes a non-null string") {
    forAll(Gen.option(Gen.oneOf("", "-3D", "-12D", "junk", " "))) { dd =>
      val df = Seq(("1", "N", "s", "st", "nm", dd.orNull))
        .toDF("current_customer_id", "new_customer_id", "new_source_id",
          "new_store_id", "new_store_name", "delivery_day")
        .withColumn("mandatory_reference", lit(true))
      val out = graft.etl.MigrationPipeline.prepareCsv(df)
        .select(col("delivery_day_filled")).as[String].head()
      assert(out != null && out.nonEmpty)
      if (dd.isEmpty || dd.contains("")) assert(out === "-3D")
    }
  }

  test("N5 recursive replace: no-op when old id absent from tree") {
    forAll(Gen.alphaNumStr.map("v_" + _.take(6))) { v =>
      val df = Seq(("absent_key", "NEW", (v, Seq(v)))).toDF("old_id", "new_id", "tree")
      val out = NestedOps.replaceNestedText(df, "tree", "old_id", "new_id")
        .select(col("tree._1"), col("tree._2")).as[(String, Seq[String])].head()
      assert(out === ((v, Seq(v))))
    }
  }

  test("binned range join == naive inequality join on random points/intervals") {
    import graft.operators.RangeJoin
    val caseGen = Gen.zip(
      Gen.listOfN(30, Gen.choose(0.0, 1000.0)),
      Gen.listOfN(10, Gen.zip(Gen.choose(0.0, 1000.0), Gen.choose(1.0, 120.0))))
    forAll(caseGen, n = 8) { case (pts, ivs) =>
      val p = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "v")
      val iv = ivs.zipWithIndex.map { case ((lo, w), i) => (i.toLong, lo, lo + w) }
        .toDF("iid", "lo", "hi")
      val binned = RangeJoin.binnedPointInterval(p, "v", iv, "lo", "hi", 50.0)
        .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
      val naive = p.join(iv, col("v") >= col("lo") && col("v") < col("hi"))
        .select(col("pid"), col("iid")).as[(Long, Long)].collect().toSet
      assert(binned === naive)
    }
  }

  test("binned interval-overlap join == naive, exactly once per pair") {
    import graft.operators.RangeJoin
    val ivGen = Gen.zip(Gen.choose(0.0, 1000.0), Gen.choose(0.0, 200.0))
    val caseGen = Gen.zip(Gen.listOfN(25, ivGen), Gen.listOfN(12, ivGen))
    forAll(caseGen, n = 8) { case (as, bs) =>
      val a = as.zipWithIndex.map { case ((lo, w), i) => (i.toLong, lo, lo + w) }
        .toDF("aid", "alo", "ahi")
      val b = bs.zipWithIndex.map { case ((lo, w), i) => (i.toLong, lo, lo + w) }
        .toDF("bid", "blo", "bhi")
      // seq of (aid,bid) — NOT a set — so first-common-bin dedup failures
      // (a pair emitted once per shared bin) are caught, not masked
      val binned = RangeJoin
        .binnedIntervalOverlap(a, "alo", "ahi", b, "blo", "bhi", 50.0)
        .select(col("aid"), col("bid")).as[(Long, Long)].collect().sorted.toSeq
      val naive = a.join(b, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
        .select(col("aid"), col("bid")).as[(Long, Long)].collect().sorted.toSeq
      assert(binned === naive)
    }
  }

  test("approx quantile lands within 5% of the exact percentile") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val rows = orders.groupBy(col("o_orderstatus")).agg(
      expr("percentile(o_totalprice, 0.5)").as("exact"),
      percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("approx"))
      .select(col("exact"), col("approx")).as[(Double, Double)].collect()
    rows.foreach { case (e, a) =>
      assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
    }
  }

  test("hash split: total, deterministic, and salt-sensitive") {
    import graft.operators.Sampling
    val ids = (1L to 200L).toDF("id")
    val s1 = ids.select(col("id"), Sampling.splitLabel(col("id"), "s1", 80, 10).as("sp"))
    val counts = s1.groupBy(col("sp")).count().as[(String, Long)].collect().toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts.values.sum === 200L) // total: every row labeled
    // deterministic: same salt twice -> identical assignment
    val s2 = ids.select(col("id"), Sampling.splitLabel(col("id"), "s1", 80, 10).as("sp"))
    assert(s1.exceptAll(s2).isEmpty)
    // salt-sensitive: a different salt moves at least one row
    val s3 = ids.select(col("id"), Sampling.splitLabel(col("id"), "s2", 80, 10).as("sp"))
    assert(s1.exceptAll(s3).count() > 0)
  }

  test("repetition metrics match a driver-side reference incl. top-gram tie-breaks") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // few distinct tokens => heavy ties, exercising (count desc, gram asc)
    val tokGen = Gen.choose(2, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "ab")))
    forAll(tokGen, n = 20) { toks =>
      val text = toks.mkString(" ")
      val got = graft.operators.TextAnalysis
        .repetitionMetrics(Seq((7L, text)).toDF("doc_id", "text"), "text", "doc_id")
        .head
      val nChars = text.length
      val g2 = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val expTop = g2.groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (g, c) => (-c, g) }.headOption
      val g3 = toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      val expDup3 = g3.groupBy(identity).values
        .collect { case o if o.size > 1 => (o.size - 1) * o.head.length }.sum
      assert(got.getInt(1) === toks.length, s"n_tokens on $text")
      assert(got.getDouble(2) ===
        r6((toks.length - toks.distinct.length).toDouble / toks.length))
      expTop match {
        case Some((g, c)) =>
          assert(got.getString(3) === g, s"top gram on $text")
          assert(got.getDouble(4) === r6(c.toDouble * g.length / nChars))
        case None => assert(got.isNullAt(3))
      }
      assert(got.getDouble(5) === r6(expDup3.toDouble / nChars), s"dup3 on $text")
    }
  }

  test("pq encode matches a driver-side argmax reference") {
    import graft.operators.{Kmeans, Pq}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val cb = Pq.trainCodebooks(emb, 4, 64, 4, 2)
    val cents = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val expected = (for {
      (vid, v) <- vecs; s <- 0 until 4
    } yield {
      val sv = v.slice(s * 16, s * 16 + 16)
      val best = cents.filter(_._1 == s).map { case (_, cid, cv) =>
        (r6(dot(sv, cv) / (math.sqrt(dot(sv, sv)) * math.sqrt(dot(cv, cv)))), cid)
      }.maxBy { case (score, cid) => (score, -cid) }
      ((vid, s), best._2)
    }).toMap
    val got = Pq.encode(emb, cb, 4, 64).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("distinct_count kernel equals the reference distinct size on random arrays") {
    val arrGen = Gen.listOf(Gen.oneOf("a", "b", "ab", "ba", "", "xyz", "a"))
    forAll(arrGen, n = 25) { xs =>
      val got = Seq(Tuple1(xs)).toDF("arr")
        .selectExpr("distinct_count(arr) AS n").head.getInt(0)
      assert(got === xs.distinct.size, s"on $xs")
    }
    // nulls skipped, empty array = 0, null array = null
    val edge = spark.sql(
      "SELECT distinct_count(array('a', CAST(NULL AS STRING), 'a')) AS a, " +
        "distinct_count(CAST(array() AS ARRAY<STRING>)) AS b, " +
        "distinct_count(CAST(NULL AS ARRAY<STRING>)) AS c").head
    assert(edge.getInt(0) === 1 && edge.getInt(1) === 0 && edge.isNullAt(2))
  }

  test("salted aggregate: map columns are skipped by the content salt, not fatal") {
    // hash() rejects MapType at analysis; the salt must derive from the
    // remaining columns and the aggregate must still equal the direct one
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L))
      .toDF("k", "v").withColumn("m", map(col("k"), col("v")))
    val agg = (c: org.apache.spark.sql.Column) => sum(c)
    val got = Skew.saltedAggregate(df, Seq("k"), 4, Seq(("v", agg, agg)))
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(got === Seq(("a", 3L), ("b", 3L)))
    // a frame with ONLY map columns fails fast with a real message
    val onlyMap = Seq(("a", 1L)).toDF("k", "v")
      .select(map(col("k"), col("v")).as("m"), col("k"), col("v"))
      .select(col("m"))
    val fst = (c: org.apache.spark.sql.Column) => first(c)
    val ex = intercept[IllegalArgumentException](
      Skew.saltedAggregate(onlyMap, Seq("m"), 4, Seq(("m", fst, fst))))
    assert(ex.getMessage.contains("no hash()-eligible column"))
  }

  // tiny vocab forces heavy span collisions across random docs
  private val docsGen: Gen[List[(Long, String)]] = {
    val word = Gen.oneOf("a", "b", "c")
    val doc = Gen.chooseNum(1, 11).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  test("span dedup properties: kept spans globally unique and equal the input span SET") {
    forAll(docsGen, n = 10) { docs =>
      val df = docs.toDF("doc_id", "text")
      val out = graft.operators.Dedup.spanDedup(df, "text", "doc_id", window = 2)
        .as[(Long, String, Long)].collect().toSeq
      // reference: spans of every doc, driver-side
      def spansOf(t: String): Seq[String] =
        t.split("\\s+").filter(_.nonEmpty).grouped(2).map(_.mkString(" ")).toSeq
      val inputSpans = docs.flatMap { case (_, t) => spansOf(t) }
      // (1) each distinct input span survives exactly once, none invented
      val keptSpans = out.flatMap { case (_, t, _) => spansOf(t) }
      assert(keptSpans.sorted === inputSpans.distinct.sorted)
      // n.b. re-chunking the reassembled text is only valid because every
      // span but a doc's last has exactly `window` tokens and the ragged
      // tail (if any) stays the final span — boundaries cannot shift
      // (2) n_kept agrees with the reassembled text
      out.foreach { case (_, t, k) => assert(spansOf(t).size === k) }
      // (3) exactly one output row per surviving doc
      assert(out.map(_._1).distinct.size === out.size)
    }
  }

  test("fuzzy self-join completeness: equals brute-force levenshtein<=1 on random strings") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val strGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('x', 'y')).map(_.mkString))
    val rowsGen = Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, strGen))
      .map(_.zipWithIndex.map { case (s, i) => (i.toLong, s) })
    forAll(rowsGen, n = 10) { rows =>
      val got = graft.operators.FuzzyJoin.selfJoin(rows.toDF("id", "s"), "id", "s")
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib && lev(sa, sb) <= 1
      } yield (ia, ib, lev(sa, sb))).toSet
      assert(got === want)
    }
  }

  test("unigram Viterbi invertibility: random texts + random piece " +
      "tables always reconstruct, incl. surrogate-pair code points") {
    import spark.implicits._
    import graft.functions.UnigramEncode.{Marker, Sep}
    val wordGen = Gen.listOfN(6,
      Gen.oneOf("ab", "abc", "xyzzy", "q", "😀ok", "a😀b", "zz9"))
      .map(_.mkString(" "))
    val tableGen = Gen.someOf(Seq("ab" -> -1000000L, "abc" -> -2000000L,
      "xy" -> -1000000L, "zz" -> -1500000L, "a" -> -3000000L,
      "😀o" -> -1000000L, "q" -> -500000L)).map(_.toSeq)
    forAll(Gen.zip(wordGen, tableGen), n = 12) { case (text, tab0) =>
      // the table must be non-empty by contract; pad with a never-
      // matching piece so the fallback path carries uncovered spans
      val tab = if (tab0.nonEmpty) tab0 else Seq("##" -> -1000000L)
      val out = graft.operators.TextAnalysis.unigramTokenize(
        Seq((1L, text)).toDF("doc_id", "text"), tab).head
      val stream = out.getString(1)
      // invertibility: separators out, marker -> space, == normalized
      assert(stream.replace(Sep, "").replace(Marker, " ")
        .stripPrefix(" ") === text.split("\\s+").filter(_.nonEmpty)
        .mkString(" "),
        s"stream must reconstruct '$text' under table $tab")
      // piece count bookkeeping matches the stream
      val expectedN = if (stream.isEmpty) 0L
        else stream.split(Sep, -1).length.toLong
      assert(out.getLong(2) === expectedN)
      // every piece is either a table piece or a single code point
      // (the UNK fallback) — never an unexplained multi-char span
      val pieces = if (stream.isEmpty) Array.empty[String]
        else stream.split(Sep, -1).map(_.stripPrefix(Marker))
      val vocab = tab.map(_._1).toSet
      pieces.foreach(p => assert(vocab.contains(p) ||
        p.codePointCount(0, p.length) == 1,
        s"piece '$p' is neither in the table nor a single code point"))
    }
  }

  test("wordpiece reconstruction: random texts + random vocabs — every " +
      "non-UNK word reassembles from its ##-stripped pieces, every " +
      "piece is a vocab item with the right position class") {
    import spark.implicits._
    import graft.functions.WordPieceEncode.{Sep, Unk}
    val wordGen = Gen.listOfN(6,
      Gen.oneOf("ab", "abc", "xyzzy", "q", "ba", "zz9", "a😀b"))
      .map(_.mkString(" "))
    val vocabGen = Gen.someOf(Seq("ab", "##c", "a", "##b", "xy",
      "##zzy", "q", "b", "##a", "z", "##z9", "😀")).map(_.toSeq)
    forAll(Gen.zip(wordGen, vocabGen), n = 12) { case (text, v0) =>
      val vocab = if (v0.nonEmpty) v0 else Seq("q")
      val out = graft.operators.TextAnalysis.wordPieceTokenize(
        Seq((1L, text)).toDF("doc_id", "text"), vocab).head
      val stream = out.getString(1)
      val words = text.split("\\s+").filter(_.nonEmpty)
      val pieces = if (stream.isEmpty) Array.empty[String]
        else stream.split(Sep, -1)
      assert(out.getLong(2) === pieces.length.toLong)
      assert(out.getLong(3) === pieces.count(_ == Unk).toLong)
      // regroup the stream into words: a new word starts at every
      // non-## piece ([UNK] included — it is always a whole word)
      val grouped = pieces.foldLeft(Vector.empty[Vector[String]]) {
        (acc, p) =>
          if (p.startsWith("##") && acc.nonEmpty)
            acc.init :+ (acc.last :+ p)
          else acc :+ Vector(p)
      }
      assert(grouped.length === words.length,
        s"'$text' under $vocab: word count must survive segmentation")
      grouped.zip(words).foreach { case (ps, w) =>
        if (ps == Vector(Unk)) ()
        else {
          assert(ps.map(_.stripPrefix("##")).mkString === w,
            s"non-UNK word '$w' must reassemble from $ps")
          assert(vocab.contains(ps.head) && !ps.head.startsWith("##"),
            "the first piece is a word-initial vocab item")
          ps.tail.foreach(p => assert(vocab.contains(p) &&
            p.startsWith("##"), "continuations are ##-class vocab items"))
        }
      }
    }
  }

  test("edit-distance kernel metric bounds: d(x,x)=0, symmetry, " +
      "|m-n| <= d <= max(m,n) on random token sequences") {
    import spark.implicits._
    val seqGen = Gen.listOfN(5, Gen.oneOf("a", "b", "c", "dd", "e"))
      .map(_.mkString(" "))
    def d(x: String, y: String): Int =
      Seq((x, y)).toDF("a", "b")
        .selectExpr("edit_dist_tokens(a, b) AS d").head.getInt(0)
    forAll(Gen.zip(seqGen, seqGen), n = 10) { case (x, y) =>
      assert(d(x, x) === 0)
      val dist = d(x, y)
      assert(dist === d(y, x), "symmetry")
      val (m, n) = (x.split(" ").length, y.split(" ").length)
      assert(dist >= math.abs(m - n) && dist <= math.max(m, n),
        s"bounds for '$x' vs '$y'")
    }
  }

  test("gpt2 pre-tokenizer: the RE2-safe protected-split rendering " +
      "equals the TRUE lookahead regex on random and adversarial " +
      "texts, and pieces always concatenate back to the input") {
    import spark.implicits._
    // the reference pattern, lookahead and all — Java regex runs it
    val ref = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+" +
        "|\\s+(?!\\S)|\\s+")
    def refSplit(t: String): Seq[String] = {
      val m = ref.matcher(t)
      val b = Seq.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }
    def engineSplit(t: String): Seq[String] =
      Seq(Tuple1(t)).toDF("text")
        .select(graft.operators.TextAnalysis.gpt2PreTokens(col("text"))
          .as("p")).head.getSeq[String](0)
    val adversarial = Seq(
      "hello world", "hello  world", "hello   world", "   leading",
      "trailing   ", "a\n\nb", "tabs\t\there", "don't you'll we're",
      "I'm he's they'd we've", "mixed 123 numbers42b",
      "punct!!! ...and, (more)", " ", "", "x", "  ", "a",
      "new\nline word", "2+2=4", "über café 日本語", "a-b--c",
      "\n \t mixed \n", "word'sx", "''", "'s's")
    adversarial.foreach { t =>
      assert(engineSplit(t) === refSplit(t), s"mismatch on '$t'")
      assert(engineSplit(t).mkString === t,
        s"pieces must concatenate back to '$t' (the split is a partition)")
    }
    val charGen = Gen.oneOf('a', 'b', 'Z', '9', ' ', ' ', '\n', '\t',
      '\'', 's', 't', '!', '.', 'é', '中')
    val textGen = Gen.chooseNum(0, 24)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    forAll(textGen, n = 40) { t =>
      assert(engineSplit(t) === refSplit(t), s"mismatch on '${t}'")
      assert(engineSplit(t).mkString === t)
    }
    // the mapped form carries no raw whitespace and BPE-composes:
    // n_bpe >= n_pieces (merges only ever shrink within a piece)
    val chain = graft.operators.TextAnalysis.bpeTokenizeGpt2(
      Seq((1L, "don't  stop me\nnow 42!")).toDF("doc_id", "text"),
      Seq(("Ġ", "s"), ("Ġs", "t"), ("o", "p"), ("n", "o"), ("no", "w")))
      .head
    assert(chain.getString(1).split(" ", -1)
      .forall(p => p.nonEmpty && !p.exists(_.isWhitespace)),
      "mapped pieces carry no raw whitespace of their own, so the " +
        "space-joined stream is unambiguous")
    assert(chain.getLong(4) >= chain.getLong(2),
      "each piece yields >= 1 token")
    // spot-pin the chain: pretok pieces of "don't  stop me\nnow 42!"
    // "\nnow" splits as "\n" + "now": ' ?' in the letter-run alternative
    // is literally a space, so a newline never prefixes a word piece
    assert(chain.getString(1) ===
      "don 't Ġ Ġstop Ġme Ċ now Ġ42 !",
      "pretok = mapped GPT-2 pieces, space-joined")
  }

  test("riskCoverage == naive per-threshold reference on random " +
      "score/label mixes, at both bucket widths") {
    import graft.operators.Profile
    val caseGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 15L), Gen.oneOf(true, false)))
    forAll(caseGen, n = 8) { rows =>
      val df = rows.map { case (s, y) => ("g", s, y) }
        .toDF("grp", "score", "correct")
      def run(w: Long) = Profile.riskCoverage(df, "grp", "score",
          "correct", bucketWidth = w)
        .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toSet
      val naive = rows.map(_._1).distinct.map { t =>
        val acc = rows.filter(_._1 >= t)
        val e = acc.count(!_._2).toLong
        val (na, nn) = (acc.size.toLong, rows.size.toLong)
        (t, na, e, (2 * na * 1000000L + nn) / (2 * nn),
          (2 * e * 1000000L + na) / (2 * na))
      }.toSet
      assert(run(1L << 20) === naive, "single-bucket plan == reference")
      assert(run(4L) === naive, "cross-bucket plan == reference")
    }
  }

  test("dialogPaths == a driver-side root-to-leaf walk on random " +
      "forests") {
    import graft.operators.Behavior
    // acyclic by construction: node i >= nRoots points at some j < i
    val caseGen = for {
      nRoots <- Gen.choose(1, 3)
      parents <- Gen.sequence[List[Int], Int](
        (3 until 25).map(i => Gen.choose(0, i - 1)))
    } yield (nRoots, parents)
    forAll(caseGen, n = 8) { case (nRoots, parents) =>
      val par: Map[Long, Option[Long]] =
        (0 until 3).map(i => i.toLong ->
          (if (i < nRoots) None else Some(0L))).toMap ++
        parents.zipWithIndex.map { case (p, k) =>
          (k + 3).toLong -> Some(p.toLong) }.toMap
      val msgs = par.toSeq.map { case (id, p) =>
        (id, p, if (id % 2 == 0) "user" else "assistant", s"m$id") }
        .toDF("msg_id", "parent_id", "role", "text")
      val got = Behavior.dialogPaths(msgs, "msg_id", "parent_id",
          "role", "text")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .toSet
      // reference: walk each leaf up to its root
      val hasChild = par.values.flatten.toSet
      val want = par.keys.filterNot(hasChild).flatMap { leaf =>
        val up = Iterator.iterate(Option(leaf))(o =>
          o.flatMap(par(_))).takeWhile(_.isDefined).map(_.get).toList
        val path = up.reverse
        path.zipWithIndex.map { case (m, i) =>
          (leaf, (i + 1).toLong, m) }
      }.toSet
      assert(got === want)
    }
  }

  test("crossSourceOverlap == an exact-text-group reference when the " +
      "text pool is mutually shingle-disjoint") {
    import graft.operators.Dedup
    val pool = Vector(
      "alpha beta gamma delta epsilon zeta",
      "hotel india juliet kilo lima mike",
      "red orange yellow green blue violet",
      "one two three four five six",
      "north south east west up down")
    val caseGen = Gen.listOfN(20,
      Gen.zip(Gen.choose(0, pool.size - 1), Gen.oneOf("s0", "s1")))
    forAll(caseGen, n = 6) { rows =>
      val docs = rows.zipWithIndex.map { case ((t, src), i) =>
        (i.toLong, pool(t), src) }
      val got = Dedup.crossSourceOverlap(
          docs.toDF("doc_id", "text", "src"), "text", "doc_id", "src")
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // reference: clusters == exact text groups (pool sentences share
      // no shingles, identical texts always cluster)
      val groups = docs.groupBy(_._2).values.map(g =>
        g.groupBy(_._3).map { case (s, xs) => s -> xs.size.toLong })
      val pairs = scala.collection.mutable.Map
        .empty[(String, String), (Long, Long, Long)]
      groups.foreach { bySrc =>
        val srcs = bySrc.keys.toSeq.sorted
        for (a <- srcs; b <- srcs if a < b) {
          val (c, da, db) = pairs.getOrElse((a, b), (0L, 0L, 0L))
          pairs((a, b)) = (c + 1, da + bySrc(a), db + bySrc(b))
        }
        srcs.filter(bySrc(_) >= 2).foreach { a =>
          val (c, da, db) = pairs.getOrElse((a, a), (0L, 0L, 0L))
          pairs((a, a)) = (c + 1, da + bySrc(a), db + bySrc(a))
        }
      }
      assert(got === pairs.toMap)
    }
  }
  test("selfInstructLoop == a driver-side sequential greedy (banding, " +
      "exact ROUGE-L F, pool growth) on random candidate corpora") {
    import graft.operators.TextAnalysis
    val alpha = (0 until 10).map(i => s"t$i")
    val textGen = for {
      n <- Gen.choose(3, 8)
      ts <- Gen.listOfN(n, Gen.choose(0, 9))
    } yield ts.map(alpha).mkString(" ")
    val caseGen = for {
      cands <- Gen.listOfN(10, textGen)
      seeds <- Gen.listOfN(3, textGen)
    } yield (cands, seeds)
    val tau = 600000L
    val maxDf = 6
    def toks(t: String): Seq[String] =
      t.split("\\s+").filter(_.nonEmpty).toSeq
    def lcs(a: Seq[String], b: Seq[String]): Long = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length).toLong
    }
    def f(a: String, b: String): Long = {
      val (ta, tb) = (toks(a), toks(b))
      val mn = ta.length + tb.length
      if (mn == 0) 0L else (4L * lcs(ta, tb) * 1000000L + mn) / (2L * mn)
    }
    forAll(caseGen, n = 6) { case (candTexts, seedTexts) =>
      val cands = candTexts.zipWithIndex.map { case (t, i) =>
        ((i + 1).toLong, t) }
      val seeds = seedTexts.zipWithIndex.map { case (t, i) =>
        ((i + 101).toLong, t) }
      // reference banding: df over distinct (doc, token) occurrences
      def banded(df: Map[String, Int], a: String, b: String): Boolean =
        toks(a).toSet.intersect(toks(b).toSet)
          .exists(t => df(t) <= maxDf)
      val seedDf = (cands.map(_._2) ++ seeds.map(_._2))
        .flatMap(t => toks(t).distinct)
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val candDf = cands.map(_._2).flatMap(t => toks(t).distinct)
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val seedKeep = cands.map { case (id, t) =>
        id -> !seeds.exists { case (_, st) =>
          banded(seedDf, t, st) && f(st, t) >= tau }
      }.toMap
      // sequential greedy over id order with the growing accepted pool
      var accepted = List.empty[(Long, String)]
      val want = cands.map { case (id, t) =>
        val ok = seedKeep(id) && !accepted.exists { case (_, at) =>
          banded(candDf, at, t) && f(at, t) >= tau }
        if (ok) accepted = accepted :+ ((id, t))
        id -> ok
      }.toMap
      val got = TextAnalysis.selfInstructLoop(
          cands.toDF("doc_id", "text"), seeds.toDF("doc_id", "text"),
          thresholdPpm = tau, maxTokenDf = maxDf)
        .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
      assert(got === want)
    }
  }
  test("trajectoryReturns == a driver-side backward fold with the " +
      "identical quantized-floor arithmetic on random episodes") {
    import graft.operators.Preferences
    val stepGen = for {
      r <- Gen.choose(-1000000L, 1000000L)
      v <- Gen.option(Gen.choose(-1000000L, 1000000L))
    } yield (r, v)
    val caseGen = for {
      nEp <- Gen.choose(1, 4)
      eps <- Gen.sequence[List[List[(Long, Option[Long])]], List[(Long, Option[Long])]](
        (0 until nEp).map(_ => Gen.choose(1, 6)
          .flatMap(k => Gen.listOfN(k, stepGen))))
      g <- Gen.choose(0L, 1000000L)
      l <- Gen.choose(0L, 1000000L)
    } yield (eps, g, l)
    forAll(caseGen, n = 8) { case (eps, g, l) =>
      val rows = eps.zipWithIndex.flatMap { case (steps, e) =>
        steps.zipWithIndex.map { case ((r, v), st) =>
          (s"e$e", st.toLong, r, v) }
      }
      val gl = g * l / 1000000L
      def fd(x: Long): Long = Math.floorDiv(x, 1000000L)
      val want = eps.zipWithIndex.flatMap { case (steps, e) =>
        var pr = 0L; var pv = 0L; var pa = 0L
        steps.zipWithIndex.reverse.map { case ((r, vo), st) =>
          val v = vo.getOrElse(0L)
          val ret = r + fd(g * pr)
          val delta = r + fd(g * pv) - v
          val adv = delta + fd(gl * pa)
          pr = ret; pv = v; pa = adv
          (s"e$e", st.toLong) -> ((steps.size.toLong, r, v, ret, delta, adv))
        }
      }.toMap
      val got = Preferences.trajectoryReturns(
          rows.toDF("ep", "st", "r", "v"), "ep", "st", "r", "v",
          gammaPpm = g, lambdaPpm = l)
        .collect().map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7)))).toMap
      assert(got === want)
    }
  }
  test("toolCallAudit == a structure-driven reference on randomly " +
      "rendered tool_call JSON (unknown tools, missing/mismatch/extra " +
      "args, JSON-null, malformed tails)") {
    import graft.operators.Behavior
    // declared: T1(a string REQ, b number), T2(c boolean REQ, d object,
    // e array). Values are rendered per CLASS, so the reference knows
    // every verdict from the structure without parsing JSON.
    val decl: Map[(String, String), (String, Boolean)] = Map(
      ("T1", "a") -> (("string", true)), ("T1", "b") -> (("number", false)),
      ("T2", "c") -> (("boolean", true)), ("T2", "d") -> (("object", false)),
      ("T2", "e") -> (("array", false)))
    val renderOf = Map("string" -> "\"s\"", "number" -> "3",
      "boolean" -> "true", "null" -> "null",
      "object" -> "{\"k\":1}", "array" -> "[1]")
    val classes = renderOf.keys.toVector.sorted
    val argNames = Vector("a", "b", "c", "d", "e", "x")
    val callGen = for {
      tool <- Gen.oneOf("T1", "T2", "frob")
      malformed <- Gen.frequency((5, false), (1, true))
      nArgs <- Gen.choose(0, 4)
      args <- Gen.listOfN(nArgs,
        Gen.zip(Gen.oneOf(argNames), Gen.oneOf(classes)))
    } yield (tool, malformed, args.distinctBy(_._1))
    forAll(Gen.listOfN(8, callGen), n = 6) { calls =>
      val rows = calls.zipWithIndex.map { case ((tool, bad, args), i) =>
        val body = args.map { case (a, c) =>
          s"\"$a\":${renderOf(c)}" }.mkString(",")
        val j = if (bad) s"""{"name":"$tool""""
          else s"""{"name":"$tool","arguments":{$body}}"""
        ((i + 1).toLong, tool, bad, args, j)
      }
      val schema = decl.toSeq.map { case ((t, a), (ty, rq)) =>
        (t, a, ty, rq) }.toDF("tool", "arg", "arg_type", "required")
      val got = Behavior.toolCallAudit(
          rows.map(r => (r._1, r._5)).toDF("call_id", "call_json"),
          "call_id", "call_json", schema)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(2), r.getBoolean(3), r.getLong(4), r.getLong(5),
            r.getString(6), r.getLong(7), r.getString(8), r.getLong(9),
            r.getString(10), r.getBoolean(11)))).toMap
      val want = rows.map { case (id, tool, bad, args, _) =>
        val known = decl.keys.exists(_._1 == tool)
        if (bad) id -> ((true, false, 0L, 0L, "", 0L, "", 0L, "", false))
        else if (!known)
          id -> ((false, true, args.size.toLong, 0L, "", 0L, "", 0L, "",
            false))
        else {
          val provided = args.map(_._1).toSet
          val missing = decl.collect { case ((t, a), (_, true))
            if t == tool && !provided.contains(a) => a }.toSeq.sorted
          val mm = args.collect { case (a, c)
            if decl.contains((tool, a)) && c != decl((tool, a))._1 => a }
            .sorted
          val extra = args.collect { case (a, _)
            if !decl.contains((tool, a)) => a }.sorted
          id -> ((false, false, args.size.toLong, missing.size.toLong,
            missing.mkString("|"), mm.size.toLong, mm.mkString("|"),
            extra.size.toLong, extra.mkString("|"),
            missing.isEmpty && mm.isEmpty && extra.isEmpty))
        }
      }.toMap
      assert(got === want)
    }
  }
}
