package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Kmeans, Pq, Similarity}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("ivf assignment: inline and broadcast paths agree exactly") {
    val a = Similarity.ivfAssignInline(emb, 8, "vec_id", "embedding")
    val b = Similarity.ivfAssignBroadcast(emb, 8, "vec_id", "embedding")
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("ivf dispatch: large quantizer takes the broadcast path (no giant literal plan)") {
    // 300 > IvfInlineLimit → must route through the join+agg shape
    val p = Similarity.ivfAssign(emb, 300, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast path for 300 centroids:\n$p")
    assert(p.contains("HashAggregate"), s"argmax should hash, not sort:\n$p")
    assert(!p.contains("SortAggregate"), s"argmax should hash, not sort:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("ivf top-k recall vs brute force is sane at nProbe=2/8 lists") {
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 5, 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, col("vec_id") < 5,
        numCentroids = 8, nProbe = 2, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall implausibly low") // probing 2/8 lists
  }

  test("kmeans: trained quantizer beats first-N centroids on assignment quality and recall") {
    val trained = Kmeans.train(emb, 8, 2)
    val untrainedScore = Similarity
      .assignToCentroids(emb, Similarity.firstNCentroids(emb, 8, "vec_id", "embedding"))
      .agg(avg("score")).head.getDouble(0)
    val trainedScore = Similarity.assignToCentroids(emb, trained)
      .agg(avg("score")).head.getDouble(0)
    assert(trainedScore > untrainedScore,
      s"Lloyd iterations should tighten clusters: trained avg cosine " +
        s"$trainedScore vs untrained $untrainedScore")

    // recall over 50 queries × top-10 = 500 ground-truth pairs — at the
    // 25-pair scale of q_sim5 a single boundary neighbor flips recall by
    // 4%, which drowns the quantizer-quality signal. Measured here
    // (deterministic, no RNG anywhere): trained 0.556 vs untrained 0.518
    // at the q_sim5 configuration (k=8, nProbe=2, iters=2); the gap only
    // widens with more iterations (0.572 at iters=5).
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 50, 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      (exact intersect df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet).size.toDouble / exact.size
    val untrainedRecall = recallOf(Similarity.ivfTopKWith(emb,
      Similarity.firstNCentroids(emb, 8, "vec_id", "embedding"),
      col("vec_id") < 50, nProbe = 2, k = 10))
    val trainedRecall = recallOf(Similarity.ivfTopKWith(emb, trained,
      col("vec_id") < 50, nProbe = 2, k = 10))
    val ffRecall = recallOf(Similarity.ivfTopKWith(emb,
      Kmeans.trainFrom(emb, Kmeans.farthestFirstInit(emb, 8), 2),
      col("vec_id") < 50, nProbe = 2, k = 10))
    val kppRecall = recallOf(Similarity.ivfTopKWith(emb,
      Kmeans.trainFrom(emb, Kmeans.kmeansParallelInit(emb, 8), 2),
      col("vec_id") < 50, nProbe = 2, k = 10))
    info(s"recall@10 over 50 queries, nProbe=2: first-N-trained $trainedRecall " +
      s"vs untrained $untrainedRecall vs ff-trained $ffRecall " +
      s"vs kmeans||-trained $kppRecall")
    assert(trainedRecall > untrainedRecall,
      s"trained recall $trainedRecall should beat untrained $untrainedRecall")
    // measured honestly: ff-trained recall (0.496 on this corpus) sits
    // BELOW first-N-trained (0.556) — spread seeds optimize worst-case
    // cluster radius, not the list balance IVF recall wants at a fixed
    // probe budget (outlier-centered seeds make uneven lists). The
    // farthestFirstInit scaladoc carries this caveat; here we only pin
    // that the measurement stays in a sane band so a regression that
    // tanks it outright still fails.
    assert(ffRecall >= 0.3, s"ff-trained recall $ffRecall collapsed")
    // the three-init playbook (measured, deterministic — no RNG anywhere):
    // first-N 0.556 > kmeans|| 0.516 > ff 0.496 on this clusterless
    // synthetic corpus at k=8/nProbe=2. kmeans|| must keep beating ff —
    // it samples density-proportionally (balanced lists) where ff chases
    // outliers — while first-N's edge here is a property of the corpus
    // (random vectors ≈ uniform density), not of the init.
    assert(kppRecall >= ffRecall,
      s"kmeans||-trained recall $kppRecall fell below ff-trained $ffRecall")
    assert(kppRecall >= 0.3, s"kmeans||-trained recall $kppRecall collapsed")
  }

  test("kmeans: a cluster that loses all members keeps its previous centroid") {
    import spark.implicits._
    // centroid 1 inits to (2,0) — same DIRECTION as centroid 0's (1,0),
    // so cosine ties at every point and the tie-break (lowest id) sends
    // every member to cluster 0: cluster 1 must come back verbatim via
    // the coalesce, not as any recomputed mean
    val df = Seq(
      (0L, Array(1f, 0f)), (1L, Array(2f, 0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f))
    ).toDF("vec_id", "embedding")
    val cents = Kmeans.train(df, 2, 1).orderBy("centroid_id").collect()
    assert(cents.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    assert(cents(1).getSeq[Float](1) === Seq(2f, 0f), "empty cluster must keep init centroid")
    // cluster 0 absorbed everything: per-dim mean rounded to 6 dp
    assert(cents(0).getSeq[Float](1) === Seq(1.175f, 0.075f))
  }

  test("sq8 store: persisted params+codes score byte-identically to the " +
      "in-job path and the scored side reads only the store") {
    import spark.implicits._
    import graft.operators.Sq
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat - 6f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("sq8s").toString
    Sq.writeSqIndex(emb, dir)
    val fromStore = Sq.sqTopKFromIndex(spark, dir,
      emb.filter(col("vec_id") < 3), 4)
    val inJob = Sq.sqTopK(emb, col("vec_id") < 3, 4)
    assert(fromStore.exceptAll(inJob).count() === 0 &&
      inJob.exceptAll(fromStore).count() === 0,
      "store round-trip must change nothing")
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(plan.contains(dir), "the scored side must read the store")
  }

  test("mmr: a near-duplicate of the top pick loses round 2 to a diverse " +
      "candidate, ties break to the lowest id, scores are exact micros") {
    import spark.implicits._
    // A(10)=(1,0) rel .9; B(11)=(1,0) rel .89 — an exact duplicate of A;
    // C(12)=(0,1) rel .6; D(13)=(0,1) rel .6 — duplicate of C.
    val emb = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(1.0f, 0.0f)),
      (12L, Array(0.0f, 1.0f)), (13L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val run = Seq(
      (0L, 10L, 0.9), (0L, 11L, 0.89), (0L, 12L, 0.6), (0L, 13L, 0.6)
    ).toDF("query_id", "neighbor_id", "score")
    val out = graft.operators.Similarity.mmrRerank(run, emb, 4, 7)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getInt(3))))
      .toMap
    // r1: A by pure 7·rel. r2: B = 7·890000 − 3·1e6 = 3230000 loses to
    // C = 4200000 (and C beats its tie-twin D by id). r3: B(3230000)
    // beats D(4200000 − 3e6 = 1200000). r4: D.
    assert(out === Map(
      10L -> ((6300000L, 1)), 12L -> ((4200000L, 2)),
      11L -> ((3230000L, 3)), 13L -> ((1200000L, 4))))
    intercept[IllegalArgumentException](
      graft.operators.Similarity.mmrRerank(run, emb, 4, 11))
    // string neighbor_id: the struct tiebreak would cast to NULL double
    // and null every selection — refused loudly instead
    val strRun = run.select(col("query_id"),
      concat(lit("d"), col("neighbor_id")).as("neighbor_id"), col("score"))
    val ex = intercept[IllegalArgumentException](
      graft.operators.Similarity.mmrRerank(strRun, emb, 4, 7))
    assert(ex.getMessage.contains("integral"), s"got: ${ex.getMessage}")
  }

  test("rankEval: hand-scored nDCG/MRR/recall, unjudged queries drop, " +
      "no-relevant queries go null, bad grades refuse loudly") {
    import spark.implicits._
    // query 1: run ranks docs (11 rel 2) at rnk 2, (12 rel 0) at 1,
    // (13 rel 1) at 3; judged relevant set = {11, 13, 14} (14 missed)
    val run = Seq(
      (1L, 12L, 1), (1L, 11L, 2), (1L, 13L, 3),
      (9L, 50L, 1), // unjudged query: must drop
      (2L, 21L, 1)  // judged query with rel-0 docs only
    ).toDF("query_id", "neighbor_id", "rnk")
    val qrels = Seq(
      (1L, 11L, 2), (1L, 13L, 1), (1L, 14L, 2), (1L, 12L, 0),
      (2L, 21L, 0),
      (3L, 31L, 1) // judged + relevant but absent from the run
    ).toDF("query_id", "doc_id", "rel")
    val out = graft.operators.Similarity.rankEval(run, qrels, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    val d = graft.operators.Similarity.ndcgDiscountsM(3)
    // q1: dcg = 3*d(2) + 1*d(3); idcg (rels sorted 2,2,1) = 3*d(1) +
    // 3*d(2) + 1*d(3); mrr = 1e6 div 2; recall = 2*1e6 div 3
    val dcg = 3 * d(1) + 1 * d(2)
    val idcg = 3 * d(0) + 3 * d(1) + 1 * d(2)
    val ndcg = (2 * dcg * 1000000L + idcg) / (2 * idcg)
    assert(out(1L) === ((3L, 500000L, 666666L, ndcg)))
    // q2: judged, zero relevant -> mrr 0, recall/ndcg null
    assert(out(2L) === ((0L, 0L, -1L, -1L)))
    // q3: relevant but unretrieved -> zero scores, n_rel intact
    assert(out(3L) === ((1L, 0L, 0L, 0L)))
    assert(!out.contains(9L), "unjudged run queries must drop")
    // grade out of range refuses loudly in-plan
    val bad = Seq((1L, 11L, 99)).toDF("query_id", "doc_id", "rel")
    val ex = intercept[Exception](
      graft.operators.Similarity.rankEval(run, bad, 3).collect())
    assert(ex.getMessage.contains("outside [0, 30]"))
  }

  test("semantic decontamination: an empty eval side keeps every train " +
      "vector (null max_eval_cos) instead of dropping the corpus") {
    import spark.implicits._
    val emb = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f)),
      (12L, Array(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.semanticDecontaminate(
        emb, col("vec_id") < 0L, tauMicros = 950000L)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), r.getBoolean(2))).toSeq.sortBy(_._1)
    assert(out === Seq((10L, None, true), (11L, None, true),
      (12L, None, true)),
      "every train vector must surface kept=true with a null score")
  }

  test("sq8: codes span the grid, constant dims code 0, dequantization " +
      "error is bounded by half a step, topk ranks by dequantized cosine") {
    import spark.implicits._
    import graft.operators.Sq
    val emb = Seq(
      (0L, Array(0.0f, 1.0f, 5.0f)),
      (1L, Array(10.0f, 1.0f, 0.0f)),
      (2L, Array(5.0f, 1.0f, 2.5f)),
      (3L, Array(2.0f, 1.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    val codes = Sq.sqEncode(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // dim 0 spans [0,10]: 0 -> 0, 10 -> 255, 5 -> 128 (round .5 up), 2 -> 51
    assert(codes(0L)(0) === 0 && codes(1L)(0) === 255)
    assert(codes(2L)(0) === 128 && codes(3L)(0) === 51)
    // dim 1 is constant -> every code 0
    assert(codes.values.forall(_(1) === 0))
    // dequantization error <= rng/(2*255) per dim
    val (mn, rng) = Sq.collectParams(Sq.sqTrain(emb))
    for ((id, cs) <- codes; i <- cs.indices) {
      val orig = Map(0L -> Array(0.0, 1.0, 5.0), 1L -> Array(10.0, 1.0, 0.0),
        2L -> Array(5.0, 1.0, 2.5), 3L -> Array(2.0, 1.0, 4.0))(id)(i)
      val dv = mn(i) + cs(i) * rng(i) / 255.0
      assert(math.abs(dv - orig) <= rng(i) / 510.0 + 1e-9,
        s"vec $id dim $i: $dv vs $orig")
    }
    // topk: self excluded, <= k rows per query, rnk contract holds
    val tk = Sq.sqTopK(emb, col("vec_id") < 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(tk.groupBy(_._1).forall { case (q, rows) =>
      rows.length <= 2 && rows.forall(_._2 != q) &&
        rows.sortBy(_._4).map(_._3).reverse.sorted.sameElements(
          rows.map(_._3).sorted)
    })
  }

  test("pq: joint codebook training equals m independent sliced kmeans runs") {
    val joint = Pq.trainCodebooks(emb, 4, 64, 4, 2)
    val perSub = (0 until 4).map { s =>
      Kmeans.train(
        emb.select(col("vec_id"), slice(col("embedding"), s * 16 + 1, 16).as("embedding")),
        4, 2)
        .select(lit(s).cast("int").as("sub_id"), col("centroid_id"), col("cv"))
    }.reduce(_ unionByName _)
    assert(joint.count() === 16)
    assert(joint.exceptAll(perSub).isEmpty && perSub.exceptAll(joint).isEmpty,
      "joint training diverged from the per-subspace reference")
  }

  test("pq: every vector gets exactly m codes, all within the codebook") {
    val cb = Pq.trainCodebooks(emb, 4, 64, 4, 2)
    assert(cb.count() === 16) // 4 subspaces × 4 centroids
    val codes = Pq.encode(emb, cb, 4, 64)
    val n = emb.count()
    assert(codes.count() === n * 4)
    val perVec = codes.groupBy(col("vec_id"))
      .agg(countDistinct(col("sub_id")).as("subs")).filter(col("subs") =!= 4).count()
    assert(perVec === 0, "some vector lost a subspace code")
    val outOfRange = codes.filter(col("code") < 0 || col("code") >= 4).count()
    assert(outOfRange === 0)
  }

  test("pq: kernel encode is bit-identical to the relational encode, both metrics") {
    for (metric <- Seq("cosine", "l2")) {
      val cb = Pq.trainCodebooks(emb, 4, 64, 4, 2, metric = metric)
      val rel = Pq.encode(emb, cb, 4, 64, metric = metric)
        .select(col("vec_id"), col("sub_id"), col("code"))
      val ker = Pq.encodeCodes(emb, cb, 4, 64, metric = metric)
      assert(ker.count() === rel.count(), s"metric=$metric row counts diverge")
      assert(ker.exceptAll(rel).isEmpty && rel.exceptAll(ker).isEmpty,
        s"metric=$metric kernel/relational encode diverged")
    }
  }

  test("pq: kernel encode plan is map-only — no join, no aggregate") {
    // Par.spread may insert one round-robin repartition on a tiny input
    // (the under-parallel-file case); the claim here is that the k-blowup
    // join and the argmax aggregate are gone, not that no exchange exists
    val cb = Pq.trainCodebooks(emb, 4, 64, 4, 2)
    val p = Pq.encodeCodes(emb, cb, 4, 64).queryExecution.executedPlan.toString
    for (bad <- Seq("Join", "Aggregate"))
      assert(!p.contains(bad), s"kernel encode plan contains $bad:\n$p")
  }

  test("pq: kernel encode zero-norm slice matches the relational sentinel path") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1f, 0f, 1f, 0f)), (1L, Array(0f, 1f, 0f, 1f)),
      (2L, Array(1f, 1f, 1f, 1f)), (3L, Array(0.5f, 0.2f, 0.3f, 0.9f)),
      (4L, Array(1f, 2f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val cb = Pq.trainCodebooks(df, m = 2, dim = 4, k = 2, iters = 1)
    val rel = Pq.encode(df, cb, m = 2, dim = 4).select(col("vec_id"), col("sub_id"), col("code"))
    val ker = Pq.encodeCodes(df, cb, m = 2, dim = 4)
    assert(ker.exceptAll(rel).isEmpty && rel.exceptAll(ker).isEmpty,
      "zero-norm slice: kernel/relational encode diverged")
  }

  test("pq: null-vector rows are excluded identically by kernel and relational encode") {
    import spark.implicits._
    val df = Seq(
      (0L, Option(Array(1f, 0f, 1f, 0f))), (1L, Option(Array(0f, 1f, 0f, 1f))),
      (2L, Option.empty[Array[Float]]), (3L, Option(Array(0.5f, 0.2f, 0.3f, 0.9f)))
    ).toDF("vec_id", "embedding")
    val cb = Pq.trainCodebooks(df.filter(col("embedding").isNotNull),
      m = 2, dim = 4, k = 2, iters = 1)
    for (metric <- Seq("cosine", "l2")) {
      val rel = Pq.encode(df, cb, m = 2, dim = 4, metric = metric)
        .select(col("vec_id"), col("sub_id"), col("code"))
      val ker = Pq.encodeCodes(df, cb, m = 2, dim = 4, metric = metric)
      assert(rel.filter(col("vec_id") === 2L).count() === 0,
        s"metric=$metric: the null-vector row must carry no codes")
      assert(ker.count() === 6 && rel.count() === 6,
        s"metric=$metric: 3 non-null vectors x 2 subspaces")
      assert(ker.exceptAll(rel).isEmpty && rel.exceptAll(ker).isEmpty,
        s"metric=$metric: null-bearing input broke kernel/relational parity")
    }
  }

  test("pq_encode: a null codebook/geometry literal fails the type check, not the analyzer") {
    val err = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT pq_encode(array(CAST(1.0 AS FLOAT)), " +
        "CAST(NULL AS ARRAY<BIGINT>), array(CAST(1.0 AS FLOAT)), 1, 1, 1, true)")
        .collect())
    assert(err.getMessage.toLowerCase.contains("non-null"),
      s"expected the clean non-null type-check message, got: ${err.getMessage}")
    // ...and a null ELEMENT inside an array literal fails just as cleanly
    val errEl = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT pq_encode(array(CAST(1.0 AS FLOAT)), " +
        "array(CAST(NULL AS BIGINT)), array(CAST(1.0 AS FLOAT)), 1, 1, 1, true)")
        .collect())
    assert(errEl.getMessage.toLowerCase.contains("null elements"),
      s"expected the null-element type-check message, got: ${errEl.getMessage}")
  }

  test("hard negatives: below the near-dup band, ranked, short when dups dominate") {
    import spark.implicits._
    val out = Similarity.hardNegatives(emb, col("vec_id") < 5,
      k = 10, kRetrieve = 40, tauNear = 0.35)
    val rows = out.collect()
    assert(rows.forall(_.getAs[Double]("score") < 0.35),
      "a hard negative must sit below the near-dup threshold")
    // ranks are dense 1..n per query
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq ===
        (1 to rs.length).toSeq)
    }
    // every retrieved neighbor a dup → FEWER than k negatives, not invented
    val clones = (0L to 5L).map(i => (i, Array.fill(4)(1.0f + i * 1e-6f)))
      .toDF("vec_id", "embedding")
    val starved = Similarity.hardNegatives(clones, col("vec_id") === 0,
      k = 3, kRetrieve = 5, tauNear = 0.9)
    assert(starved.count() === 0,
      "near-identical corpus must yield no hard negatives, not fake ones")
    assert(intercept[IllegalArgumentException](
      Similarity.hardNegatives(emb, col("vec_id") < 5, 10, 5, 0.35))
      .getMessage.contains("kRetrieve"))
  }

  test("pq: adc ranking recalls a sane share of the exact top-k") {
    // crude quantizer (4 subspaces × 4 entries = 256 distinct encodings
    // for 500 vectors), so expect partial — but far-from-random — recall
    val cb = Pq.trainCodebooks(emb, 4, 64, 4, 2)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 5, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Pq.adcTopK(emb, cb, col("vec_id") < 5, 4, 64, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(s"ADC recall@10 = $recall")
    // random top-10 of 499 would land ~0.02; require a real margin over it
    assert(recall >= 0.1, s"recall $recall is indistinguishable from chance")
  }

  test("ivf-pq: neighbors come only from probed lists, with sane recall") {
    val coarse = Kmeans.train(emb, 8, 2)
    val cb = Pq.trainCodebooks(emb, 4, 64, 4, 2)
    val got = Pq.ivfAdcTopK(emb, coarse, cb, col("vec_id") < 5, 2, 4, 64, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    // structural: every returned neighbor is assigned to one of its
    // query's 2 probed coarse lists (the pruning really happened)
    val assign = Similarity.assignToCentroids(emb, coarse)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // derive each query's probe set independently (driver-side brute
    // force over the 8-row centroid table) — same 6-dp/tie contract
    val qProbes = {
      import spark.implicits._
      val cents = coarse.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val qs = emb.filter(col("vec_id") < 5)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      def dot(a: Array[Float], b: Array[Float]) =
        a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
      qs.map { case (qid, qv) =>
        qid -> cents.map { case (cid, cv) =>
          (BigDecimal(dot(qv, cv) / (nrm(qv) * nrm(cv)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, cid)
        }.sortBy { case (s, cid) => (-s, cid) }.take(2).map(_._2).toSet
      }.toMap
    }
    got.foreach { case (q, n) =>
      assert(qProbes(q).contains(assign(n)),
        s"neighbor $n of query $q is outside the probed lists ${qProbes(q)}")
    }
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 5, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got.toSet).size.toDouble / exact.size
    info(s"IVF-PQ recall@10 = $recall")
    assert(recall >= 0.05, s"recall $recall is chance-level")
  }

  test("pq at production geometry: m=16/k=256 L2 codebooks, recall >= 0.8") {
    // the deployable regime: 8-bit L2-assigned codes, 16 bytes/vector vs
    // 256 raw. L2 assignment (argmin |x−c|²) is what makes the regime
    // reachable — cosine assignment discards slice magnitude and recall
    // PLATEAUS near 0.7 regardless of m (measured: cosine m=8 0.69,
    // m=16 0.70, m=32 0.63; L2 climbs 0.70 / 0.835 / 0.915).
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 20, 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) =
      (exact intersect df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet).size.toDouble / exact.size
    val cb = Pq.trainCodebooks(emb, m = 16, dim = 64, k = 256, iters = 2,
      metric = "l2")
    assert(cb.count() === 16L * 256)
    // probe budget: ADC scores ALL lists (no coarse pruning)
    val adc = recallOf(Pq.adcTopK(emb, cb, col("vec_id") < 20, 16, 64, 10,
      metric = "l2"))
    // production sampling shape: codebooks trained on a prefix sample
    // (deterministic AND id-dense, as the seed rule needs), full corpus
    // encoded. On a 500-vector corpus an 80% sample holds out a fifth of
    // everything — recall dips ~0.04; at real scale the sample is huge in
    // absolute terms and this gap vanishes.
    val cbS = Pq.trainCodebooks(emb.filter(col("vec_id") < 400),
      m = 16, dim = 64, k = 256, iters = 2, metric = "l2")
    val adcS = recallOf(Pq.adcTopK(emb, cbS, col("vec_id") < 20, 16, 64, 10,
      metric = "l2"))
    // IVF-PQ at nProbe=4 of 8 coarse lists — half the corpus pruned away
    val ivf = recallOf(Pq.ivfAdcTopK(emb, Kmeans.train(emb, 8, 2), cb,
      col("vec_id") < 20, 4, 16, 64, 10, metric = "l2"))
    info(s"production-PQ recall@10 over 20 queries: ADC (all lists) $adc, " +
      s"sample-trained ADC $adcS, IVFADC (nProbe=4/8) $ivf")
    assert(adc >= 0.8,
      s"m=16/k=256 L2 ADC recall $adc below the usable-regime bar (toy m=4/k=4: 0.24)")
    assert(adcS >= 0.75, s"sample-trained ADC recall $adcS collapsed")
    assert(ivf >= 0.4, s"IVFADC recall $ivf collapsed (pruning caps it below ADC)")
  }

  test("pq: a zero-norm subspace slice still yields a code, deterministically") {
    import spark.implicits._
    // vec 4's second half is all-zero: its sub_id=1 slice has no defined
    // cosine against any codebook entry. Before the subScore guard the
    // division poisoned the argmax and the (4, 1) code silently vanished,
    // breaking the every-vector-gets-m-codes invariant.
    val df = Seq(
      (0L, Array(1f, 0f, 1f, 0f)), (1L, Array(0f, 1f, 0f, 1f)),
      (2L, Array(1f, 1f, 1f, 1f)), (3L, Array(0.5f, 0.2f, 0.3f, 0.9f)),
      (4L, Array(1f, 2f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val cb = Pq.trainCodebooks(df, m = 2, dim = 4, k = 2, iters = 1)
    val codes = Pq.encode(df, cb, m = 2, dim = 4)
    assert(codes.count() === 10, "every vector must get exactly m codes")
    val zeroSlice = codes.filter(col("vec_id") === 4 && col("sub_id") === 1).collect()
    assert(zeroSlice.length === 1)
    // unscorable slice falls to the lowest centroid id with the sentinel score
    assert(zeroSlice(0).getAs[Long]("code") === 0L)
    assert(zeroSlice(0).getAs[Double]("score") === -2.0)
  }

  test("farthest-first on an empty corpus fails with the seeding message, not NoSuchElement") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](Kmeans.farthestFirstInit(empty, 2))
    assert(ex.getMessage.contains("fewer rows than requested centroids"))
  }

  test("kmeans: sparse vector ids fail fast at seeding instead of under-seeding") {
    import spark.implicits._
    val sparse = Seq((10L, Array(1f, 0f)), (11L, Array(0f, 1f)), (12L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](Kmeans.train(sparse, 2, 1))
    assert(ex.getMessage.contains("dense from 0"))
  }

  test("farthest-first init spreads seeds: max pairwise cosine <= first-N's") {
    def maxPairCos(cents: Array[(Long, Array[Float])]): Double = {
      def dot(a: Array[Float], b: Array[Float]) =
        a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
      (for {
        (i, vi) <- cents; (j, vj) <- cents if i < j
      } yield dot(vi, vj) / (nrm(vi) * nrm(vj))).max
    }
    def collectCents(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val ff = collectCents(Kmeans.farthestFirstInit(emb, 8))
    val firstN = collectCents(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), col("embedding")))
    assert(ff.length === 8 && ff.map(_._1).toSeq === (0L until 8L))
    val kpp = collectCents(Kmeans.kmeansParallelInit(emb, 8))
    val (ffMax, fnMax, kppMax) = (maxPairCos(ff), maxPairCos(firstN), maxPairCos(kpp))
    info(s"max pairwise cosine: farthest-first $ffMax vs first-N $fnMax " +
      s"vs kmeans|| $kppMax")
    assert(ffMax <= fnMax,
      "farthest-first failed to spread seeds at least as well as first-N")
    assert(kppMax <= fnMax,
      "kmeans|| seeds should spread at least as well as first-N")
    // deterministic: the greedy chain has no randomness
    val again = collectCents(Kmeans.farthestFirstInit(emb, 8))
    assert(ff.map(_._1).toSeq === again.map(_._1).toSeq)
    assert(ff.map(_._2.toSeq).toSeq === again.map(_._2.toSeq).toSeq)
  }

  test("sampled farthest-first: full-coverage sample equals the unsampled init") {
    val n = emb.count().toInt
    // sampleFactor large enough that the md5 cut keeps every vector —
    // the sampled path must then reproduce farthestFirstInit exactly
    val full = Kmeans.farthestFirstInit(emb, 8)
    val sampled = Kmeans.farthestFirstInitSampled(emb, 8,
      sampleFactor = n / 8 + 1)
    assert(sampled.exceptAll(full).isEmpty && full.exceptAll(sampled).isEmpty)
  }

  test("sampled farthest-first: a bounded sample still yields k spread seeds") {
    val sampled = Kmeans.farthestFirstInitSampled(emb, 8, sampleFactor = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(sampled.length === 8 && sampled.map(_._1).toSeq === (0L until 8L))
    assert(sampled.map(_._2).distinct.length === 8,
      "sampled seeding picked a duplicate vector")
    // deterministic: the md5 cut and the greedy chain have no randomness
    val again = Kmeans.farthestFirstInitSampled(emb, 8, sampleFactor = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(sampled.toSeq === again.toSeq)
    assert(intercept[IllegalArgumentException](
      Kmeans.farthestFirstInitSampled(emb, 8, sampleFactor = 1))
      .getMessage.contains("sampleFactor"))
  }

  test("kmeans||: trains k=64 seeds in O(rounds) passes, deterministically") {
    val a = Kmeans.kmeansParallelInit(emb, 64, rounds = 3, oversample = 32)
    val rows = a.orderBy("centroid_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 64L),
      "seeds must be re-keyed 0..k-1")
    assert(rows.forall(_.getSeq[Float](1).length === 64))
    val b = Kmeans.kmeansParallelInit(emb, 64, rounds = 3, oversample = 32)
      .orderBy("centroid_id").collect()
    assert(rows.map(_.getSeq[Float](1).toSeq).toSeq ===
      b.map(_.getSeq[Float](1).toSeq).toSeq, "seeding must be deterministic")
  }

  test("kmeans||: fails fast when the candidate pool cannot reach k") {
    // 1 round at tiny oversample on 500 vectors cannot yield 64 candidates
    val ex = intercept[IllegalArgumentException](
      Kmeans.kmeansParallelInit(emb, 64, rounds = 1, oversample = 2))
    assert(ex.getMessage.contains("weighted candidates"))
  }

  test("kmeans: training is deterministic and keeps every centroid id") {
    val a = Kmeans.train(emb, 8, 2).orderBy("centroid_id").collect()
    val b = Kmeans.train(emb, 8, 2).orderBy("centroid_id").collect()
    assert(a.map(_.getLong(0)).toSeq === (0L until 8L))
    assert(a.toSeq === b.toSeq)
  }

  test("lsh bucketing is map-only: no keyed shuffle, join, or aggregate") {
    // the only allowed exchange is Par.spread's round-robin repartition
    // (fans a single-split file across cores); bucket computation itself
    // must be one projection
    val p = Similarity.lshBuckets(emb, 4).queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"), s"bucketing must not shuffle by key:\n$p")
    assert(!p.contains("Join"), s"planes must inline, not join:\n$p")
    assert(!p.contains("Aggregate"), s"no bit-reassembly aggregation:\n$p")
  }

  test("lsh bucketing rejects a plane count that cannot bucket") {
    assert(intercept[IllegalArgumentException](
      Similarity.lshBuckets(emb, 0)).getMessage.contains("numPlanes"))
    assert(intercept[IllegalArgumentException](
      Similarity.lshBuckets(emb, 65)).getMessage.contains("numPlanes"))
  }

  test("semantic dedup drops an injected exact duplicate, keeps the original") {
    // vec 9999 duplicates vec 10's embedding exactly: same cluster, pair
    // cosine 1.0 >= tau — the higher id must drop, the original survive.
    val dup = emb.filter(col("vec_id") === 10)
      .select(lit(9999L).as("vec_id"), col("embedding"), col("label"))
    val st = Similarity.semanticDedup(emb.unionByName(dup), 8, 2, tau = 0.999)
      .select(col("vec_id"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(st(9999L) === "dropped")
    assert(st(10L) === "kept")
    assert(st.size === emb.count() + 1, "every vector gets exactly one status")
  }

  test("semantic dedup scale guard: under-k'd corpus fails fast naming the knob") {
    // 8 clusters over this corpus is fine at the default bound...
    // (covered by the tests above); force the guard with a tight bound
    val n = emb.count()
    val ex = intercept[IllegalArgumentException](
      Similarity.semanticDedup(emb, 1, 1, tau = 0.99,
        maxAvgClusterSize = (n / 2).toInt))
    assert(ex.getMessage.contains("maxAvgClusterSize") &&
      ex.getMessage.contains("kFor"))
    // kFor follows the committed probe economics: k ~ n / 250, min 1
    assert(Similarity.kFor(0) === 1)
    assert(Similarity.kFor(250) === 1)
    assert(Similarity.kFor(251) === 2)
    assert(Similarity.kFor(200000) === 800)
    assert(Similarity.kFor(100, targetClusterSize = 10) === 10)
    // the auto variant runs end-to-end with a derived k
    val out = Similarity.semanticDedupAuto(emb, 1, tau = 0.9,
      targetClusterSize = math.max(10, (n / 4).toInt))
    assert(out.count() === n, "every vector still gets exactly one status")
    // self-consistency: the auto variant must accept ANY targetClusterSize,
    // including ones above the standalone default bound of 1000 — the
    // guard bound travels with the k it derives (kFor gives n/k <= target)
    val big = Similarity.semanticDedupAuto(emb, 1, tau = 0.9,
      targetClusterSize = 5000)
    assert(big.count() === n)
  }

  test("persisted centroids round-trip: assignment from the store == in-job") {
    import graft.operators.Kmeans
    val cents = Kmeans.train(emb, 8, 2)
    val dir = java.nio.file.Files.createTempDirectory("centspec_").toString
    Kmeans.writeCentroids(cents, dir)
    val back = Kmeans.readCentroids(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType.simpleString)).toSet ===
      Set(("centroid_id", "bigint"), ("cv", "array<float>")))
    val a = Similarity.assignToCentroids(emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.assignToCentroids(emb, back)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b, "store-backed assignment must equal in-job assignment")
  }

  test("top-k buffers reject k < 1 at the driver, not inside executor tasks") {
    // with k <= 0 the old reduce path threw NoSuchElementException on
    // b.last deep inside a task; now construction fails fast
    assert(intercept[IllegalArgumentException](
      graft.functions.TopKAggregator.topKColumn(0)).getMessage.contains("k >= 1"))
    assert(intercept[IllegalArgumentException](
      graft.functions.TopKAggregator.minKColumn(-3)).getMessage.contains("k >= 1"))
    assert(intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(emb, col("vec_id") < 2, k = 0))
      .getMessage.contains("k >= 1"))
  }

  test("semantic dedup: statuses partition the corpus and tau is validated") {
    val out = Similarity.semanticDedup(emb, 8, 2, tau = 0.35)
    val counts = out.groupBy("status").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts.values.sum === emb.count())
    assert(counts.getOrElse("dropped", 0L) > 0, s"tau=0.35 should drop some: $counts")
    assert(counts.getOrElse("kept", 0L) > 0, s"tau=0.35 should keep some: $counts")
    assert(intercept[IllegalArgumentException](
      Similarity.semanticDedup(emb, 8, 2, tau = 0.0)).getMessage.contains("tau"))
  }

  test("rrf fusion: a doc ranked in both runs beats either run's solo " +
      "leader; absent runs contribute nothing; ties break by doc id") {
    import spark.implicits._
    // run A top: docs 1,2,3 — run B top: docs 3,4,5. Doc 3 (rank 3 + rank 1)
    // scores 1/63 + 1/61; doc 1 (rank 1, one run) scores only 1/61.
    val runA = Seq((0, 1L, 1L), (0, 2L, 2L), (0, 3L, 3L))
      .toDF("query_id", "doc_id", "rnk")
    val runB = Seq((0, 3L, 1L), (0, 4L, 2L), (0, 5L, 3L))
      .toDF("query_id", "doc_id", "rnk")
    val out = Similarity.rrfFuse(Seq(runA, runB), k = 10)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.head._1 === 3L, "the both-runs doc must fuse to the top")
    assert(out.head._2 > out(1)._2)
    // docs 1 and 4 tie exactly (rank 1 in A ≡ rank 2 in B? no — doc 1 is
    // 1/61, doc 4 is 1/62): check strict ordering and the id tie-break on
    // the true tie pair (2 in A vs 4 in B, both rank 2 → equal 1/62)
    val byDoc = out.map(t => t._1 -> t._2).toMap
    assert(byDoc(2L) === byDoc(4L), "equal ranks in different runs fuse equal")
    assert(out.indexWhere(_._1 == 2L) < out.indexWhere(_._1 == 4L),
      "exact ties order by doc id")
    assert(out.length === 5)
    assert(intercept[IllegalArgumentException](
      Similarity.rrfFuse(Seq.empty, 5)).getMessage.contains("at least one"))
  }

  test("bitext margin: the ratio margin deflates a hub that raw cosine prefers") {
    import spark.implicits._
    // sources a=[1,0], b=[0,1]; targets: hub h=[0.8,0.6] (close to BOTH
    // sources), unique u=[0.986, 0.166] (cos≈0.986 with a, far from b),
    // filler f=[-1,0]. Raw cosine for b picks h (0.6 beats everything
    // else b sees), and margin keeps that. For a, u wins on raw cosine
    // AND margin. The hub-deflation claim: margin(a,h) < cos-proportional
    // rank because h's source-side neighborhood sum (sy) is fat.
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0.8f, 0.6f)), (3L, Array(0.986f, 0.166f)),
      (4L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bitextMarginTopK(emb, col("vec_id") < 2, k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(0L, 1L))
    assert(out(0L)._1 === 3L, "source a pairs with its unique target")
    assert(out(1L)._1 === 2L, "source b's only close target is the hub")
    // exact-integer replay of source a's margin: micros quantize first
    def cosM(x: (Float, Float), y: (Float, Float)): Long = {
      val d = x._1.toDouble * y._1 + x._2.toDouble * y._2
      val n = math.sqrt(x._1.toDouble * x._1 + x._2.toDouble * x._2) *
        math.sqrt(y._1.toDouble * y._1 + y._2.toDouble * y._2)
      math.round(BigDecimal(d / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    val a = (1f, 0f); val b = (0f, 1f)
    val h = (0.8f, 0.6f); val u = (0.986f, 0.166f); val f = (-1f, 0f)
    val sxA = Seq(cosM(a, h), cosM(a, u), cosM(a, f)).sorted.reverse.take(2).sum
    val syU = Seq(cosM(u, a), cosM(u, b)).sorted.reverse.take(2).sum
    assert(out(0L)._2 === (2L * 2 * cosM(a, u) * 1000000L) / (sxA + syU))
    // margin actually deflated the hub below the unique match for a
    val syH = Seq(cosM(h, a), cosM(h, b)).sorted.reverse.take(2).sum
    val mH = (2L * 2 * cosM(a, h) * 1000000L) / (sxA + syH)
    assert(mH < out(0L)._2, "hub margin must fall below the unique match")
  }

  test("embedding drift: identical batches read 1e6, orthogonal means " +
      "read 0, a rescaled batch keeps direction but moves the norm " +
      "stat, zero-vector batches have no defined direction") {
    import spark.implicits._
    def emb(vs: Seq[Seq[Float]]) =
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
    val base = Seq(Seq(1f, 0f), Seq(1f, 0f), Seq(1f, 0f))
    def run(a: Seq[Seq[Float]], b: Seq[Seq[Float]]) =
      graft.operators.Similarity.embeddingDrift(emb(a), emb(b)).head
    val same = run(base, base)
    assert((same.getLong(0), same.getLong(1), same.getLong(4)) ===
      ((3L, 3L, 1000000L)))
    assert(same.getLong(2) === same.getLong(3) &&
      same.getLong(2) === 1000000L, "mean squared norm of unit vectors")
    // orthogonal populations: the first alarm fires at 0
    assert(run(base, Seq(Seq(0f, 1f), Seq(0f, 1f))).getLong(4) === 0L)
    // a pure rescale keeps the direction (cos 1e6) but quadruples msq
    val scaled = run(base, base.map(_.map(_ * 2f)))
    assert(scaled.getLong(4) === 1000000L &&
      scaled.getLong(3) === 4L * scaled.getLong(2))
    // a zero-vector batch has no centroid direction: null, not zero
    assert(run(base, Seq(Seq(0f, 0f))).isNullAt(4))
    // EMPTY embedding arrays are excluded everywhere, exactly like
    // nulls — counts, msq means, and centroid dims all ignore them
    // (the relational unnest an oracle replays drops them anyway)
    val withEmpty = run(base :+ Seq.empty[Float], base)
    assert((withEmpty.getLong(0), withEmpty.getLong(1),
      withEmpty.getLong(2), withEmpty.getLong(4)) ===
      ((3L, 3L, 1000000L, 1000000L)),
      "an empty vector must not dilute n, msq, or the centroid")
  }

  test("reindexOnDrift: on the planted-drift fixture the OLD index " +
      "provably fails the recall gate, the retrained index passes, " +
      "the drift gate fires and the swap is accepted; guards refuse " +
      "odd codebooks and colliding ids") {
    import spark.implicits._
    // the registered q_sim21 fixture at sf0.001 — the verdict columns
    // ARE the operator's story, pin them
    val r = graft.SparkEntry
      .queries("q_sim21_reindex_on_drift")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r.length === 5, "one row per new-batch query")
    val v = r.head
    assert(v.getAs[Long]("mean_recall_old_ppm") < 700000L,
      "yesterday's index fails the gate on the drifted population — " +
        "same-sub-cluster neighbors scatter across lists it can't see")
    assert(v.getAs[Long]("mean_recall_new_ppm") >= 700000L,
      "the retrained codebook concentrates each sub-cluster")
    assert(v.getAs[Boolean]("drifted") &&
      v.getAs[Boolean]("reindex_accepted"))
    assert(v.getAs[Long]("centroid_cos_micros") < 900000L)
    // guards
    val tiny = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)),
      (2L, Seq(1f, 1f)), (3L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val ex1 = intercept[IllegalArgumentException](
      graft.operators.Similarity.reindexOnDrift(tiny, tiny,
        numCentroids = 3, iters = 1, nProbe = 1, k = 1,
        col("vec_id") > 100, 900000L, 700000L))
    assert(ex1.getMessage.contains("even"))
    val shifted = tiny.select((col("vec_id") + 3).as("vec_id"),
      col("embedding"))
    val ex2 = intercept[Exception](
      graft.operators.Similarity.reindexOnDrift(tiny, shifted,
        numCentroids = 2, iters = 1, nProbe = 1, k = 1,
        col("vec_id") === 4, 900000L, 700000L).collect())
    assert(ex2.getMessage.contains("disjoint"),
      "id 3 on both sides must raise, never alias")
  }
}
