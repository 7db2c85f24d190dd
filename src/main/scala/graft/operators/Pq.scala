package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}

import graft.functions.PqEncode

/** Product quantization (PQ) for approximate inner-product search over
  * embedding columns — the memory-side counterpart to [[Similarity]]'s
  * IVF: instead of pruning the candidate set, PQ compresses the vectors
  * themselves. A d-float corpus vector becomes m small integer codes (one
  * per subspace), and queries score candidates through a per-query lookup
  * table (ADC — asymmetric distance computation) without ever touching
  * the original vectors. At 100 TB this is what makes the vector side of
  * a training-data pipeline fit in cluster memory: m bytes per vector
  * instead of 4d, and the scoring pass is a broadcast-LUT map join plus
  * one keyed aggregation — no full-vector shuffle anywhere.
  * (Public method: Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011; inner-product scoring as in the MIPS/
  * ScaNN line of work.)
  *
  * Codebooks are per-subspace spherical k-means ([[Kmeans.train]] on the
  * sliced corpus — max-cosine assignment), and the ADC score approximates
  * the inner product: dot(q, x) = Σ_s dot(q_s, x_s) ≈ Σ_s dot(q_s,
  * codebook_s[code_s(x)]). Determinism mirrors the rest of the similarity
  * stack: every score/contribution is rounded to 6 dp and ties break to
  * the lowest centroid/neighbor id, so a DuckDB oracle replaying the same
  * fixed iterations hash-matches bit-for-bit.
  */
object Pq {

  /** Subspace `s` of a `dim`-dim vector under m equal `subDim`-wide
    * slices (Spark slice() is 1-based). */
  private def subVec(vec: Column, s: Int, subDim: Int): Column =
    slice(vec, s * subDim + 1, subDim)

  /** Subspace assignment score with the zero-norm contract: a zero-norm
    * slice (an all-zero subvector — plausible in real sparse embeddings)
    * or a zero-norm codebook entry has no defined cosine, and the raw
    * division would poison the argmax (null/NaN scores silently DROP that
    * subspace from the per-vector code set, breaking the "every vector
    * gets exactly m codes" invariant). Scoring such a pair as −2 — below
    * any real cosine — keeps the row in the argmax, where the packed-long
    * tie-break deterministically lands the slice on the lowest-id
    * centroid (code 0 when every entry is unscorable). The corpus never
    * exercises this branch at the registered parameters, so the oracles
    * are unaffected; PqSpec pins the zero-slice behavior. */
  private def subScore(sv: Column, cv: Column,
      svn: Column, cn: Column): Column =
    when(svn > 0 && cn > 0,
      round(Similarity.nativeDot(sv, cv) / (svn * cn), 6)).otherwise(lit(-2.0))

  /** L2 assignment score: argmin |x−c|² = argmax (2·dot(x,c) − |c|²)
    * (|x|² is constant per slice, so it drops out of the argmax). This is
    * the assignment real PQ uses — minimizing reconstruction error, which
    * directly bounds the ADC inner-product error |dot(q, x−c)| ≤
    * |q|·|x−c|. Cosine assignment matches direction but discards slice
    * MAGNITUDE, and the discarded share grows as subspaces shrink —
    * measured here: cosine ADC recall plateaus at ~0.7 (m=8..16) and
    * DEGRADES to 0.63 at m=32, while L2 recall climbs with m (see
    * SimilaritySpec). No division, so no zero-norm guard needed; ties
    * break to the lowest centroid id via the same packed-long ord (scores
    * stay |…| ≤ ~10³ for unit-ish embeddings, far inside the 2^31/1e6
    * packing budget). */
  private def subScoreL2(sv: Column, cv: Column, cn2: Column): Column =
    round(lit(2.0) * Similarity.nativeDot(sv, cv) - cn2, 6)

  /** Train per-subspace codebooks: `(sub_id: int, centroid_id: long,
    * cv: array<float>)`.
    *
    * All m codebooks train JOINTLY in one Lloyd loop keyed by
    * (sub_id, centroid_id): the corpus explodes once per iteration into
    * (vec, sub, subvector) rows and every update is a single
    * broadcast-assign + per-dim-mean pass — the same per-iteration job
    * count as ONE [[Kmeans.train]] run instead of m sequential trainings
    * (m× fewer driver barriers, and at 100 TB one corpus read per
    * iteration instead of m). Bit-identical to the m independent runs —
    * the per-subspace arithmetic never mixes across sub_id (seeds,
    * 6-dp cosine argmax with ties to the lowest centroid, per-dim mean
    * rounded to 6 dp through FLOAT, empty clusters keep their previous
    * centroid); SimilaritySpec asserts the equality against the sliced
    * [[Kmeans.train]] reference and the q_pq oracles replay the
    * per-subspace recursion unchanged. */
  def trainCodebooks(emb: DataFrame, m: Int, dim: Int, k: Int, iters: Int,
      metric: String = "cosine",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    require(k >= 2, s"need k >= 2 codebook entries, got $k")
    require(iters >= 1, s"need >= 1 Lloyd iteration, got $iters")
    require(metric == "cosine" || metric == "l2", s"unknown metric '$metric'")
    val subDim = dim / m
    val slices = array((0 until m).map(s => subVec(col(vecCol), s, subDim)): _*)
    def exploded = Par.spread(emb.select(col(idCol).as("vec_id"), col(vecCol)))
      .select(col("vec_id"), posexplode(slices).as(Seq("sub_id", "sv")))
    val init = Iterate.checkpoint(exploded.filter(col("vec_id") < k)
      .select(col("sub_id"), col("vec_id").cast("long").as("centroid_id"),
        col("sv").cast("array<float>").as("cv")))
    val seeded = init.count()
    require(seeded == m.toLong * k,
      s"PQ init found $seeded of ${m * k} seed slices with $idCol < $k — " +
        "seeding assumes ids are dense from 0; re-key the input or lower k")
    val ord = round(col("score") * 1e6).cast("long") * lit(4294967296L) -
      col("centroid_id").cast("long")
    Iterate.fixpoint(init, iters) { (cents, _) =>
      // Assignment rides the map-only pq_encode kernel (bit-identical
      // arithmetic — subScore/subScoreL2 with the −2.0 guard, 6-dp HALF_UP
      // rounds, packed-long ord — see PqEncode's parity contract), so each
      // Lloyd iteration pays one codegen'd projection instead of the
      // n·m·k scored-row join + argmax aggregate. cents is a checkpointed
      // m·k-row frame, so the per-iteration driver collect inside
      // encodeCodes reads materialized rows, not a recomputation. The
      // relational shape remains for codebooks past the 64k inline bound.
      val assigned =
        if (m.toLong * k <= 65536)
          encodeCodes(emb, cents, m, dim, metric, idCol, vecCol)
            .select(col("vec_id"), col("sub_id"), col("code").as("centroid_id"))
        else {
          val cb = broadcast(cents.select(col("sub_id"), col("centroid_id"), col("cv"),
            sqrt(Similarity.nativeDot(col("cv"), col("cv"))).as("cn"),
            Similarity.nativeDot(col("cv"), col("cv")).as("cn2")))
          val ex = exploded
            .select(col("vec_id"), col("sub_id"), col("sv"),
              sqrt(Similarity.nativeDot(col("sv"), col("sv"))).as("svn"))
          val score =
            if (metric == "l2") subScoreL2(col("sv"), col("cv"), col("cn2"))
            else subScore(col("sv"), col("cv"), col("svn"), col("cn"))
          ex.join(cb, Seq("sub_id"))
            .select(col("vec_id"), col("sub_id"), col("centroid_id"),
              score.as("score"))
            .groupBy(col("vec_id"), col("sub_id"))
            .agg(max_by(col("centroid_id"), ord).as("centroid_id"))
        }
      val means = assigned
        .join(exploded.select(col("vec_id"), col("sub_id"), col("sv")),
          Seq("vec_id", "sub_id"))
        .select(col("sub_id"), col("centroid_id"), posexplode(col("sv")).as(Seq("i", "x")))
        .groupBy(col("sub_id"), col("centroid_id"), col("i"))
        .agg(round(avg(col("x").cast("double")), 6).as("mn"))
        .groupBy(col("sub_id"), col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mn")))),
          s => s.getField("mn").cast("float")).as("cv_new"))
      cents.join(means, Seq("sub_id", "centroid_id"), "left")
        .select(col("sub_id"), col("centroid_id"),
          coalesce(col("cv_new"), col("cv")).as("cv"))
    }.frame
  }

  /** Encode every vector: per subspace, its max-cosine codebook entry.
    * `(vec_id, sub_id, code, score)`. One posexplode (m rows per vector),
    * a broadcast join against the m·k-row codebook, and one hash argmax
    * via the packed-long max_by (see [[Similarity.assignToCentroids]] for
    * why the order packs into a long) — the only shuffle carries
    * (vec, sub, best) tuples, never vectors.
    *
    * Null-vector contract (shared with [[encodeCodes]]): a row whose
    * embedding IS NULL has no defined codes and is EXCLUDED from the
    * code relation — both paths pre-filter it identically, so the
    * kernel/relational bit-parity holds on null-bearing inputs too
    * (without the shared filter the two paths diverged: the kernel's
    * null-in/null-out posexplode dropped the row while the relational
    * −2.0 guard here invented sentinel codes for it; PqSpec pins the
    * parity on a null-row fixture). A null vector silently entering ADC
    * candidate sets under fabricated codes is the wrong default for a
    * curation pipeline — absence is. */
  def encode(emb: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
      metric: String = "cosine",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    require(metric == "cosine" || metric == "l2", s"unknown metric '$metric'")
    val subDim = dim / m
    val slices = array((0 until m).map(s => subVec(col(vecCol), s, subDim)): _*)
    val exploded = Par.spread(emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), col(vecCol)))
      .select(col("vec_id"), posexplode(slices).as(Seq("sub_id", "sv")))
      .select(col("vec_id"), col("sub_id"), col("sv"),
        sqrt(Similarity.nativeDot(col("sv"), col("sv"))).as("svn"))
    val cb = broadcast(codebooks.select(col("sub_id"), col("centroid_id"), col("cv"),
      sqrt(Similarity.nativeDot(col("cv"), col("cv"))).as("cn"),
      Similarity.nativeDot(col("cv"), col("cv")).as("cn2")))
    val score =
      if (metric == "l2") subScoreL2(col("sv"), col("cv"), col("cn2"))
      else subScore(col("sv"), col("cv"), col("svn"), col("cn"))
    val ord = round(col("score") * 1e6).cast("long") * lit(4294967296L) -
      col("centroid_id").cast("long")
    exploded.join(cb, Seq("sub_id"))
      .select(col("vec_id"), col("sub_id"), col("centroid_id"), score.as("score"))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(max_by(col("centroid_id"), ord).as("code"), max(col("score")).as("score"))
  }

  /** Map-only corpus encoding through the [[graft.functions.PqEncode]]
    * kernel: one projection computes all m codes per vector — no
    * posexplode, no n·m·k scored-row join, no argmax aggregate. The
    * codebook (m·k rows, bounded like the ≤256-centroid literal dispatch
    * in [[Similarity.assignToCentroids]]) collects once to the driver and
    * rides the expression; per-entry norms precompute once per task.
    * Bit-parity with the relational [[encode]] is pinned by
    * SimilaritySpec (kernel==relational on real embeddings, both
    * metrics, plus the zero-norm fixture) and by the q_pq oracles, which
    * replay the relational arithmetic in DuckDB against this path's
    * output. */
  def encodeCodes(emb: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
      metric: String = "cosine",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    require(metric == "cosine" || metric == "l2", s"unknown metric '$metric'")
    val subDim = dim / m
    val rows = codebooks.select(col("sub_id"), col("centroid_id"), col("cv"))
      .collect()
    require(rows.length <= 65536,
      s"pq_encode inlines the codebook: ${rows.length} entries exceed the " +
        "65536 bound — shard the codebook or use the relational encode()")
    require(rows.length % m == 0 && rows.nonEmpty,
      s"codebook has ${rows.length} entries, not a multiple of m=$m")
    val k = rows.length / m
    val bySub = rows.groupBy(_.getInt(0))
    require(bySub.keySet == (0 until m).toSet &&
        bySub.valuesIterator.forall(_.length == k),
      s"codebook must carry exactly k=$k entries for every sub_id 0..${m - 1}")
    val sorted = (0 until m).flatMap(s => bySub(s).sortBy(_.getLong(1)))
    val ids = sorted.map(_.getLong(1)).toArray
    val cvs = new Array[Float](m * k * subDim)
    sorted.zipWithIndex.foreach { case (r, e) =>
      val cv = r.getSeq[Float](2)
      require(cv.length == subDim,
        s"codebook entry (sub=${r.getInt(0)}, id=${r.getLong(1)}) has " +
          s"${cv.length} dims, expected subDim=$subDim")
      cv.copyToArray(cvs, e * subDim)
    }
    val kernel = column(PqEncode(Seq(expression(col(vecCol)),
      expression(typedLit(ids)), expression(typedLit(cvs)), Literal(m),
      Literal(k), Literal(subDim), Literal(metric == "cosine"))))
    // null-vector rows are excluded, matching encode()'s pre-filter (see
    // the null-vector contract there) — the explicit filter keeps the
    // exclusion a stated semantic rather than a side effect of the
    // kernel's null-in/null-out + posexplode behavior
    Par.spread(emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), col(vecCol)))
      .select(col("vec_id"), posexplode(kernel).as(Seq("sub_id", "code")))
  }

  /** The encoded corpus as `(neighbor_id, sub_id, code)` — the kernel
    * path; [[encode]] remains the relational oracle twin. */
  private def corpusCodes(emb: DataFrame, codebooks: DataFrame, m: Int,
      dim: Int, metric: String, idCol: String, vecCol: String): DataFrame =
    encodeCodes(emb, codebooks, m, dim, metric, idCol, vecCol)
      .select(col("vec_id").as("neighbor_id"), col("sub_id"), col("code"))

  /** Per-query ADC lookup table `(query_id, sub_id, code, contrib)` —
    * nq·m·k rows, broadcast-sized by construction. */
  private def queryLut(emb: DataFrame, codebooks: DataFrame,
      queryPred: Column, m: Int, dim: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val subDim = dim / m
    val slices = array((0 until m).map(s => subVec(col(vecCol), s, subDim)): _*)
    emb.filter(queryPred)
      .select(col(idCol).as("query_id"), posexplode(slices).as(Seq("sub_id", "qs")))
      .join(codebooks.select(col("sub_id"), col("centroid_id").as("code"),
        col("cv")), Seq("sub_id"))
      .select(col("query_id"), col("sub_id"), col("code"),
        round(Similarity.nativeDot(col("qs"), col("cv")), 6).as("contrib"))
  }

  /** Sum each (query, neighbor)'s m contributions into the approximate
    * inner product and keep the per-query top-k — via the bounded
    * [[graft.functions.TopKAggregator]] buffer ([[Similarity.perQueryTopK]]),
    * so after the sum only ≤k (score, id) pairs per query per map task
    * shuffle; no reducer ever sorts a query's full ADC-scored corpus. */
  private def rankApprox(scored: DataFrame, k: Int): DataFrame =
    Similarity.perQueryTopK(
      scored
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(round(sum(col("contrib")), 6).as("approx_score")),
      k, scoreName = "approx_score")

  /** ADC top-k: approximate inner-product search against the ENCODED
    * corpus. Per query, a lookup table of dot(q_s, codebook entry) —
    * nq·m·k rows, broadcast — joins the code relation on (sub, code);
    * summing a vector's m contributions approximates its inner product
    * with the query. The corpus side moves only (neighbor, sub, code)
    * tuples through one partial-aggregated shuffle; original vectors are
    * read exactly once (at encode time). */
  def adcTopK(emb: DataFrame, codebooks: DataFrame, queryPred: Column,
      m: Int, dim: Int, k: Int, metric: String = "cosine",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = corpusCodes(emb, codebooks, m, dim, metric, idCol, vecCol)
    val lut = queryLut(emb, codebooks, queryPred, m, dim, idCol, vecCol)
    rankApprox(
      codes.join(broadcast(lut), Seq("sub_id", "code"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("contrib")), k)
  }

  /** IVF-PQ: the composed ANN scale path — a coarse quantizer (e.g.
    * [[Kmeans.train]] on the full vectors) prunes the corpus to the
    * queries' `nProbe` inverted lists, and ADC scores ONLY those
    * candidates through the broadcast lookup table. This is the standard
    * billion-scale layout (IVFADC in the PQ paper): the scoring pass
    * touches |probed lists| × m code tuples instead of the corpus, and
    * nothing larger than (id, sub, code) ever shuffles. */
  def ivfAdcTopK(emb: DataFrame, coarse: DataFrame, codebooks: DataFrame,
      queryPred: Column, nProbe: Int, m: Int, dim: Int, k: Int,
      metric: String = "cosine",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = Similarity.assignToCentroids(emb, coarse, idCol, vecCol)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"))
    val cents = broadcast(coarse.select(col("centroid_id"), col("cv"),
      sqrt(Similarity.nativeDot(col("cv"), col("cv"))).as("cn")))
    val probeScores = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        sqrt(Similarity.nativeDot(col(vecCol), col(vecCol))).as("qn"))
      .crossJoin(cents)
      .select(col("query_id"), col("centroid_id"),
        round(Similarity.nativeDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cscore"))
    val probes = Similarity.perQueryTopK(probeScores, nProbe,
        idName = "centroid_id", scoreName = "cscore")
      .select(col("query_id"), col("centroid_id"))
    val cand = probes.join(assign, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    val codes = corpusCodes(emb, codebooks, m, dim, metric, idCol, vecCol)
    val lut = queryLut(emb, codebooks, queryPred, m, dim, idCol, vecCol)
    rankApprox(
      cand.join(codes, Seq("neighbor_id"))
        .join(broadcast(lut), Seq("query_id", "sub_id", "code"))
        .select(col("query_id"), col("neighbor_id"), col("contrib")), k)
  }
}
