package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

import graft.functions.{FloatVecDot, MmrSelect, TopKAggregator}

/** Similarity search over embedding columns (`ArrayType(FloatType)`):
  * (small single-split inputs are spread across cores before CPU-heavy
  * scoring — see [[Dedup]] for the rationale)
  *
  * brute-force cosine top-k as the exact baseline, and sign-LSH
  * (random-hyperplane) bucketing as the scale path — candidates then only
  * join within a bucket, turning O(n²) scoring into a keyed equi-join.
  *
  * Numerics contract: elements are cast float→double (exact) before any
  * arithmetic; dot products run as sequential HOF folds; every score is
  * rounded to 6 dp so engine-order-of-summation noise (≤1e-13) can't flip
  * a comparison against the DuckDB oracle, and ranking ties on the
  * rounded score break by neighbor id — fully deterministic.
  */
object Similarity {

  import Par.spread

  /** Sequential-fold dot product, elements widened to double (interpreted
    * HOF reference implementation — [[nativeDot]] is the codegen'd fast
    * path; both produce bit-identical sums). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product via the custom [[FloatVecDot]] Catalyst
    * expression. */
  def nativeDot(a: Column, b: Column): Column =
    column(FloatVecDot(expression(a), expression(b)))

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  private def nativeNorm(a: Column): Column =
    sqrt(nativeDot(a, a))

  /** Bounded per-query top-k over a scored candidate relation
    * `(query_id, <idName>, <scoreName>)` → the same relation plus an
    * int `rnk` (1 = best; score desc, id asc, ≤ k rows per query).
    *
    * This is the [[TopKAggregator]] shape, not a window: a
    * `row_number() OVER (PARTITION BY query_id)` must shuffle EVERY
    * scored candidate and sort each query's full candidate set on a
    * single reducer — at 100 TB a hot query's millions of candidates
    * land on one task. The k-bounded aggregation buffer partial-combines
    * map-side, so at most k (score, id) pairs per query per map task
    * ever shuffle, and no per-query sort beyond k elements exists
    * anywhere. Ids ride the buffer as longs and are cast back to the
    * input type — so the id column must be integral (fail-fast below;
    * re-key string-id corpora before searching). Null-scored candidates
    * (null/zero-norm embeddings have no defined cosine) are dropped
    * before ranking — they are not neighbors. */
  private[graft] def perQueryTopK(scored: DataFrame, k: Int,
      idName: String = "neighbor_id", scoreName: String = "score"): DataFrame = {
    val idType = scored.schema(idName).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"$idName must be an integral id column, got $idType — ids ride the " +
        "bounded top-k buffer as longs; re-key the corpus (e.g. " +
        "row_number() - 1) before searching")
    scored
      .filter(col(scoreName).isNotNull && col(idName).isNotNull)
      .groupBy(col("query_id"))
      .agg(TopKAggregator.topKColumn(k)(col(scoreName),
        col(idName).cast("long")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").cast(idType).as(idName),
        col("t.score").as(scoreName), (col("pos") + lit(1)).as("rnk"))
  }

  /** The nDCG position discounts as integer MICROS —
    * `round(1e6 / log2(r+1))` for ranks 1..k, computed ONCE here in
    * driver Scala and inlined as literals into both the Spark plan and
    * (by the registered query) the oracle SQL, so the one irrational
    * ingredient of [[rankEval]] is a shared constant table instead of
    * two engines' log implementations racing in the last ulp. */
  def ndcgDiscountsM(k: Int): Seq[Long] =
    (1 to k).map(r => Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))

  /** Ranking-quality evaluation (the trec_eval trio) for a retrieval
    * `run(query_id, neighbor_id, rnk)` against graded judgments
    * `qrels(query_id, doc_id, rel)` — the measurement half every
    * retrieval stack needs next to its recall gates (q_sim17/q_sim18
    * measure candidate recall vs the exact baseline; this measures
    * RANKING quality vs human/synthetic grades):
    *
    *  - `mrr_ppm`    = 1e6 div rank of the first relevant hit (0 if none)
    *  - `recall_ppm` = |relevant ∩ top-k| · 1e6 div |relevant|
    *  - `ndcg_ppm`   = round-half-up(DCG@k · 1e6 / IDCG@k), with
    *    gain `2^rel − 1` and the [[ndcgDiscountsM]] micro-discount table
    *    — ALL integer arithmetic, so a relational oracle replays every
    *    metric exactly (the one irrational, 1/log2(r+1), is a shared
    *    k-row literal).
    *
    * Universe = judged queries (the trec_eval convention: unjudged run
    * queries drop; judged queries missing from the run score 0/null
    * with their n_rel intact — observability over silent drops). A
    * query with no relevant docs has undefined recall/nDCG → null.
    * Grades must be small non-negative ints (gain is a bit shift);
    * grades above 30 are refused. Scale shape: one run↔qrels keyed
    * join, two qrels-sized aggregations (the IDCG window partitions by
    * query over judged docs — bounded per query), one broadcast of the
    * k-row discount table. */
  def rankEval(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"need 1 <= k <= 1000, got $k")
    val sp = run.sparkSession
    import sp.implicits._
    val disc = ndcgDiscountsM(k).zipWithIndex
      .map { case (d, i) => (i + 1, d) }.toDF("rnk", "__dm")
    val q = qrels.select(col("query_id"), col("doc_id"),
      col("rel").cast("int").as("rel"))
    // gain = 2^rel - 1 over the `rel` column, with the grade bound
    // enforced IN PLAN: an out-of-range grade poisons the shift
    // silently, so raise instead
    val gain: Column = expr(
      "shiftleft(CAST(1 AS BIGINT), CASE WHEN rel BETWEEN 0 AND 30 " +
        "THEN rel ELSE CAST(raise_error(concat('rankEval: rel grade ', " +
        "CAST(rel AS STRING), ' outside [0, 30]')) AS INT) END) - 1")
    val rels = q.filter(col("rel") > 0)
    val idcgW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rel").desc, col("doc_id"))
    val ideal = rels.withColumn("__rn", row_number().over(idcgW))
      .filter(col("__rn") <= k)
      .join(broadcast(disc.withColumnRenamed("rnk", "__rn")), Seq("__rn"))
      .groupBy(col("query_id"))
      .agg(sum(gain * col("__dm")).as("__idcg"))
    val nrel = q.groupBy(col("query_id"))
      .agg(sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel"))
    val rk = run.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
      .join(q, Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
      .join(broadcast(disc), Seq("rnk"))
    val per = rk.groupBy(col("query_id"))
      .agg(sum(gain * col("__dm")).as("__dcg"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("__hits"),
        min(when(col("rel") > 0, col("rnk"))).as("__fr"))
    nrel.join(ideal, Seq("query_id"), "left")
      .join(per, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(expr("1000000 div __fr"), lit(0L)).as("mrr_ppm"),
        when(col("n_rel") > 0,
          expr("(coalesce(__hits, 0) * 1000000) div n_rel"))
          .as("recall_ppm"),
        when(col("__idcg").isNotNull,
          expr("(2 * coalesce(__dcg, 0) * 1000000 + __idcg) div (2 * __idcg)"))
          .as("ndcg_ppm"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of any
    * number of per-query ranked runs — THE standard hybrid-retrieval
    * combiner (BM25 lexical + dense-embedding ranks fuse without score
    * calibration, because RRF consumes only RANKS):
    * `rrf(doc) = Σ_runs 1/(rrfK + rank)`, missing-from-a-run contributes
    * nothing. Each input run is `(query_id, doc_id, rnk)` (the
    * [[perQueryTopK]] / BM25 output shape).
    *
    * Determinism: each reciprocal term is rounded to 9 dp and summed as
    * DECIMAL(18,9) — exact and order-independent, so the distributed
    * aggregation order can't perturb the fused score (the engine's
    * standard float-sum discipline); final ranking ties break by doc id.
    * Scale shape: runs are already ≤ k·queries rows (bounded by their
    * own top-k buffers), so the union + one hash aggregation + one
    * bounded [[perQueryTopK]] ranking is queries-sized work, regardless
    * of corpus size. Returns `(query_id, doc_id, rrf, rnk)`, the k best
    * fused docs per query. */
  def rrfFuse(runs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val u = runs.map(_.select(col("query_id"), col("doc_id"), col("rnk")))
      .reduce(_ unionAll _)
    val fused = u.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(round(lit(1.0) / (lit(rrfK) + col("rnk")), 9)
        .cast(DecimalType(18, 9))).as("__d"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        col("__d").cast("double").as("score"))
    perQueryTopK(fused, k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("score").as("rrf"), col("rnk"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) —
    * the standard diversity pass over a retrieval run: greedily pick the
    * candidate maximizing `λ·rel − (1−λ)·max_{s∈S} sim(c, s)`, so the
    * final k trade raw relevance against redundancy with what is
    * already selected (RAG context assembly, dedup-aware search UIs).
    *
    * Exact-integer contract: relevance and pairwise cosines convert to
    * MICROS (`round(x·1e6)` of the 6-dp-rounded scores) and λ is given
    * in TENTHS, so every MMR score is
    * `λt·rel_m − (10−λt)·maxsim_m` — pure int64 arithmetic a relational
    * oracle replays exactly; argmax ties break to the lowest doc id.
    * Round 1 has no selected set: its score is `λt·rel_m` (the same
    * argmax as pure relevance).
    *
    * Scale shape: the run is already ≤ kRetrieve·queries rows (bounded
    * upstream); candidate pairwise sims are ONE keyed self-join +
    * embedding lookups — ≤ kRetrieve² pairs per query, each a bounded
    * dot — materialized once; then k rounds of query-keyed joins over
    * query×k-sized frames, each round checkpointed (frames this small
    * make the lineage barrier the only cost that matters). Queries with
    * fewer than k candidates return all of them. `neighbor_id` must be
    * INTEGRAL (the [[graft.operators.Graph.adamicAdar]] contract): the
    * argmax tiebreak negates the id inside a max(struct), and a string
    * id would cast to a NULL double and silently null every selection —
    * so non-integral ids are refused loudly instead. Returns
    * `(query_id, doc_id, mmr_m, rnk)`. */
  def mmrRerank(run: DataFrame, emb: DataFrame, k: Int, lambdaTenths: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0, 10], got $lambdaTenths")
    val nidType = run.schema("neighbor_id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(nidType),
      s"neighbor_id must be integral (tiebreak negates it inside " +
        s"max(struct)); got $nidType — map string ids to longs upstream")
    // the greedy recursion runs per query inside the native mmr_select
    // kernel over the bounded candidate set (the upstream run's top-k):
    // the old k−1 driver rounds of anti-join + rescoring join + argmax
    // + localCheckpoint were pure stage overhead around a few hundred
    // integer ops per query (guide §1.2). Candidate relation, pairwise
    // cosine relation, tie-breaks, and the inner-join "no embedding
    // pair → never selectable" semantics are unchanged (kernel scaladoc
    // pins the parity; the q_sim14/q_x64 oracles replay the rounds).
    // one stage boundary on the run: BOTH the candidate grouping and
    // the pairwise build reference it, and without the boundary each
    // would replay the upstream retrieval's whole lineage
    val rel = Iterate.checkpoint(run.select(col("query_id"), col("neighbor_id"),
      round(col("score") * lit(1000000)).cast("long").as("rel_m")))
    val ev = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      norm(col(vecCol)).as("__n"))
    val aSide = rel.select(col("query_id"), col("neighbor_id").as("a_id"))
    val bSide = rel.select(col("query_id"), col("neighbor_id").as("b_id"))
    val pairs = aSide.join(bSide, Seq("query_id"))
      .filter(col("a_id") =!= col("b_id"))
      .join(ev.select(col("__id").as("a_id"), col("__v").as("av"),
        col("__n").as("an")), Seq("a_id"))
      .join(ev.select(col("__id").as("b_id"), col("__v").as("bv"),
        col("__n").as("bn")), Seq("b_id"))
      .select(col("query_id"), col("a_id"), col("b_id"),
        round(round(nativeDot(col("av"), col("bv")) /
          (col("an") * col("bn")), 6) * lit(1000000))
          .cast("long").as("sim_m"))
    val cands = rel.groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id").cast("long").as("id"),
        col("rel_m").as("rel"))).as("__cands"))
    val sims = pairs.groupBy(col("query_id"))
      .agg(collect_list(struct(col("a_id").cast("long").as("a"),
        col("b_id").cast("long").as("b"), col("sim_m").as("s")))
        .as("__sims"))
    cands.join(sims, Seq("query_id"), "left")
      .select(col("query_id"),
        explode(column(MmrSelect(expression(col("__cands")),
          expression(coalesce(col("__sims"),
            array().cast("array<struct<a:bigint,b:bigint,s:bigint>>"))),
          expression(lit(k)), expression(lit(lambdaTenths))))).as("__s"))
      .select(col("query_id"),
        col("__s.doc_id").cast(nidType).as("doc_id"),
        col("__s.mmr_m").as("mmr_m"), col("__s.rnk").as("rnk"))
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors that are NOT near-duplicates — similar
    * enough to be hard (the model must work to separate them), below the
    * near-dup threshold so they aren't secret positives. The standard
    * retrieve-then-filter recipe: take the top `kRetrieve` cosine
    * neighbors, drop those with `score >= tauNear` (the [[nearDupByCosine]]
    * duplicate band), keep the best k of the remainder through the same
    * bounded [[perQueryTopK]] buffer — so the ranking shuffle stays ≤k
    * pairs per query per map task, like every other ANN path here.
    *
    * `kRetrieve` bounds how deep the near-dup band can reach: if ALL
    * kRetrieve retrieved neighbors are dups, fewer than k negatives come
    * back (by design — inventing weaker negatives silently would poison
    * the contrastive batch). Scale path: swap the brute-force retrieval
    * for [[ivfTopKWith]] candidates at corpus scale; the filter+rerank
    * stages are retrieval-agnostic. */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int,
      kRetrieve: Int, tauNear: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && kRetrieve >= k,
      s"need 1 <= k <= kRetrieve, got k=$k kRetrieve=$kRetrieve")
    require(tauNear > 0 && tauNear <= 1,
      s"need 0 < tauNear <= 1, got $tauNear")
    perQueryTopK(
      bruteForceTopK(emb, queryPred, kRetrieve, idCol, vecCol)
        .filter(col("score") < tauNear)
        .select(col("query_id"), col("neighbor_id"), col("score")), k)
  }

  /** Embedding-space decontamination — the semantic twin of the n-gram
    * contamination gate ([[graft.operators.Dedup.contaminationReport]]):
    * a train vector is contaminated when its 6-dp cosine against ANY
    * benchmark vector reaches `tauMicros` micros (exact integer compare
    * on the rounded score, so no float-order ambiguity near the cut).
    * Benchmark suites are fixed-size — they do not grow with the corpus —
    * so the eval side broadcasts and scoring is one map-only pass over
    * the train vectors; the only shuffle keys on train id and carries
    * `(id, cos)` pairs, never a vector. Emits a verdict per train vector
    * (observability over silent drops, like every gate here):
    * `(vec_id, max_eval_cos, kept)`. Filter `kept` for the clean corpus. */
  def semanticDecontaminate(emb: DataFrame, evalPred: Column, tauMicros: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(tauMicros > 0 && tauMicros <= 1000000L,
      s"tau is micros of cosine in (0, 1e6], got $tauMicros")
    val train = emb.filter(not(evalPred))
      .select(col(idCol), col(vecCol), nativeNorm(col(vecCol)).as("tn"))
    val ev = emb.filter(evalPred)
      .select(col(idCol).as("eval_id"), col(vecCol).as("ev"),
        nativeNorm(col(vecCol)).as("en"))
    val scored = spread(train)
      .crossJoin(broadcast(ev))
      .select(col(idCol),
        round(nativeDot(col(vecCol), col("ev")) / (col("tn") * col("en")), 6)
          .as("cos"))
      .groupBy(col(idCol))
      .agg(max(col("cos")).as("max_eval_cos"))
    // left-join the verdicts back onto the train ids: with an EMPTY eval
    // side the cross join above is an empty relation, and "a verdict per
    // train vector" must still hold — unmatched rows surface as kept=true
    // with a null max_eval_cos instead of silently disappearing (the
    // exact failure mode this gate exists to prevent).
    train.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .withColumn("kept", coalesce(
        round(col("max_eval_cos") * 1e6).cast("long") < tauMicros,
        lit(true)))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings") —
    * the RATIO margin:
    *
    *   margin(x,y) = cos(x,y) / ((avgNNk(x→T) + avgNNk(y→S)) / 2)
    *
    * which deflates hub vectors whose whole neighborhood is close (raw
    * cosine mining pairs hubs with everything; the margin normalizes by
    * how close a candidate's OTHER neighbors already are). Exact
    * integer arithmetic end to end: each cosine quantizes to micros,
    * the two k-NN averages stay as SUMS (margin = 2k·cm / (sx+sy)), and
    * the emitted score is parts-per-million by long division — no float
    * division anywhere, so an SQL oracle replays every rank including
    * ties (score desc, id asc — the [[perQueryTopK]] contract).
    *
    * Scale shape: the source (mined-query) side broadcasts; the scored
    * relation is map-only over the target corpus; both k-NN passes ride
    * the bounded top-k buffer (≤ k pairs per query per map task); the
    * margin join keys on src/tgt ids carrying only (id, id, micros)
    * rows. The scored relation localCheckpoints once — three consumers
    * (two k-NN passes + the margin join) would replay the cosine pass.
    * Returns the top-1 target per source: `(src_id, tgt_id,
    * margin_ppm)`. */
  def bitextMarginTopK(emb: DataFrame, srcPred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val s = emb.filter(srcPred)
      .select(col(idCol).as("src_id"), col(vecCol).as("sv"),
        nativeNorm(col(vecCol)).as("sn"))
    val t = emb.filter(not(srcPred))
      .select(col(idCol).as("tgt_id"), col(vecCol).as("tv"),
        nativeNorm(col(vecCol)).as("tn"))
    val c = Iterate.checkpoint(spread(t).crossJoin(broadcast(s))
      .select(col("src_id"), col("tgt_id"),
        round(round(nativeDot(col("sv"), col("tv"))
          / (col("sn") * col("tn")), 6) * 1e6).cast("long").as("cm")))
    val sx = perQueryTopK(c.select(col("src_id").as("query_id"),
        col("tgt_id").as("neighbor_id"), col("cm").cast("double").as("score")), k)
      .groupBy(col("query_id"))
      .agg(sum(col("score").cast("long")).as("sx"))
      .select(col("query_id").as("src_id"), col("sx"))
    val sy = perQueryTopK(c.select(col("tgt_id").as("query_id"),
        col("src_id").as("neighbor_id"), col("cm").cast("double").as("score")), k)
      .groupBy(col("query_id"))
      .agg(sum(col("score").cast("long")).as("sy"))
      .select(col("query_id").as("tgt_id"), col("sy"))
    val margins = c.join(sx, Seq("src_id")).join(sy, Seq("tgt_id"))
      .where(col("sx") + col("sy") > 0)
      .select(col("src_id"), col("tgt_id"),
        expr(s"(2 * $k * cm * 1000000) div (sx + sy)").as("margin_ppm"))
    perQueryTopK(margins.select(col("src_id").as("query_id"),
        col("tgt_id").as("neighbor_id"),
        col("margin_ppm").cast("double").as("score")), 1)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("score").cast("long").as("margin_ppm"))
  }

  /** Cosine similarity rounded to `scale` decimals. */
  def cosine(a: Column, b: Column, scale: Int = 6): Column =
    round(dot(a, b) / (norm(a) * norm(b)), scale)

  /** Exact top-k neighbors for each query vector (self excluded).
    * The query side broadcasts (it is small by construction); scoring is a
    * map-only pass over the corpus; the per-query ranking shuffles only
    * (query_id, neighbor_id, score) tuples, never the vectors. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms once per vector, not once per (query × vector) pair — the HOF
    // fold is interpreted, so redundant passes are the dominant cost
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        nativeNorm(col(vecCol)).as("qn"))
    val scored = spread(emb.select(col(idCol), col(vecCol), nativeNorm(col(vecCol)).as("nn")))
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(nativeDot(col("qv"), col(vecCol)) / (col("qn") * col("nn")), 6).as("score"))
    perQueryTopK(scored, k)
  }

  /** Recall@k of an approximate retrieval run against an exact baseline
    * — the evaluation gate every cheap ANN tier (IVF probes, PQ/SQ8
    * codes, truncated matryoshka dims) needs before it replaces the
    * exact path. Both inputs are run relations `(query_id, neighbor_id,
    * rnk)` (the shape every retrieval here emits); recall counts the
    * approximate run's top-k ids that appear in the baseline's top-k,
    * as exact integers plus half-up micros ((2a+n) div (2n) — the house
    * rounding). One keyed equi-join on (query, neighbor) + one hash
    * aggregate over the k·queries-sized runs — the corpora never appear.
    * Queries the approximate run missed entirely still emit (hits 0) —
    * a silent drop would overstate recall. Returns
    * `(query_id, hits, recall_ppm)`. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val a = approx.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val e = exact.filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val qs = e.select(col("query_id")).distinct()
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    qs.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_ppm",
        expr(s"(2 * hits * 1000000 + $k) div (2 * $k)"))
  }

  /** Sign-LSH bucket per vector: one bit per hyperplane (the first
    * `numPlanes` corpus vectors serve as deterministic planes).
    *
    * ZERO-shuffle: the planes are bounded by construction (a handful of
    * bits — a 64-bit bucket is already absurdly selective), so they
    * collect to the driver once and inline as literals; every vector's
    * bucket string is then a single map-side projection. The former
    * shape (crossJoin(broadcast(planes)) + groupBy(vec_id) collect_list)
    * shuffled numPlanes rows PER CORPUS VECTOR just to reassemble bits
    * that were computed on one map task to begin with — at 100 TB that
    * is a corpus-sized exchange for a map-only computation. */
  def lshBuckets(emb: DataFrame, numPlanes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numPlanes > 0 && numPlanes <= 64,
      s"numPlanes must be in [1, 64], got $numPlanes — sign-LSH buckets " +
        "are bit strings; more than 64 planes means every vector is alone")
    val planes = emb.filter(col(idCol) < numPlanes)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(planes.nonEmpty, s"no plane vectors with $idCol < $numPlanes")
    val bits = planes.map { case (_, pv) =>
      when(round(nativeDot(col(vecCol), typedLit(pv.toSeq)), 6) >= 0,
        lit("1")).otherwise(lit("0"))
    }
    spread(emb).select(col(idCol).as("vec_id"), concat(bits: _*).as("bucket"))
  }

  /** Above this quantizer size the inlined-literal path stops making
    * sense: the expression tree grows linearly with centroids (and with
    * it codegen size), so the broadcast path takes over. */
  val IvfInlineLimit = 256

  /** IVF-style coarse quantizer: assign every vector to its
    * max-cosine centroid (the first `numCentroids` corpus vectors serve
    * as deterministic centroids — swap in trained k-means centroids in a
    * real deployment; the index/search machinery is identical). The
    * inverted lists this builds are the ANN scale path: queries score
    * only the vectors in their probed lists.
    *
    * Two shuffle-free shapes, chosen by quantizer size (both produce
    * identical results; tie-break = highest rounded score, then lowest
    * centroid_id, via lexicographic struct max on (score, -centroid_id)):
    * small quantizers inline as literals (pure map-side argmax); large
    * ones broadcast + hash-agg argmax — no sort, no window either way. */
  def ivfAssign(emb: DataFrame, numCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    if (numCentroids <= IvfInlineLimit)
      ivfAssignInline(emb, numCentroids, idCol, vecCol)
    else ivfAssignBroadcast(emb, numCentroids, idCol, vecCol)
  }

  /** Small-quantizer path: centroids inlined as literals — pure map-side
    * argmax, zero shuffle. */
  private[graft] def ivfAssignInline(emb: DataFrame, numCentroids: Int,
      idCol: String, vecCol: String): DataFrame = {
    val withN = emb.select(col(idCol).as("vec_id"), col(vecCol),
      nativeNorm(col(vecCol)).as("vn"))
    val idType = emb.schema(idCol).dataType
    val cents = emb.filter(col(idCol) < numCentroids)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.length >= 2, s"need >=2 centroids, got ${cents.length}")
    def seqNorm(v: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(acc)
    }
    val candidates = cents.map { case (cid, cv) =>
      val score = round(
        nativeDot(col(vecCol), typedLit(cv.toSeq)) / (col("vn") * lit(seqNorm(cv))), 6)
      struct(score.as("score"), lit(-cid).as("neg"), lit(cid).cast(idType).as("cid"))
    }
    val best = greatest(candidates: _*)
    withN.select(col("vec_id"), best.getField("cid").as("centroid_id"),
      best.getField("score").as("score"))
  }

  /** Production-size quantizer path (IVF uses ~sqrt(n) centroids):
    * broadcast the centroid table, score per (vector, centroid), and take
    * the argmax with a HASH aggregation on a lexicographic struct max —
    * still no sort, no window, one shuffle of (id, best-struct) pairs. */
  private[graft] def ivfAssignBroadcast(emb: DataFrame, numCentroids: Int,
      idCol: String, vecCol: String): DataFrame =
    assignToCentroids(emb, firstNCentroids(emb, numCentroids, idCol, vecCol),
      idCol, vecCol)

  /** The untrained quantizer: the first `n` corpus vectors as-is. */
  private[graft] def firstNCentroids(emb: DataFrame, n: Int,
      idCol: String, vecCol: String): DataFrame =
    emb.filter(col(idCol) < n)
      .select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).cast("array<float>").as("cv"))

  /** Assign every vector to its max-cosine centroid from an explicit
    * centroid table `(centroid_id: long, cv: array<float>)` — e.g. one
    * trained by [[Kmeans.train]]. Broadcast + map-side scoring + one hash
    * aggregation; no sort, no window.
    *
    * A genuine HASH argmax needs primitive aggregation buffers (struct
    * buffers fall back to SortAggregate), so the (score desc, cid asc)
    * order packs into ONE long: the 6-dp-rounded score scaled to an
    * integer (exact, |score*1e6| <= 1e6) shifted past the id space —
    * centroid ids are small by construction, far below 2^32.
    * round(), not a bare cast: casting TRUNCATES, and round(x,6)*1e6 can
    * land just below the integer (0.29*1e6 = 289999.999…), which would
    * collapse scores 1e-6 apart into one packed value and let the
    * -centroid_id tie-break fire on scores that are truly unequal. */
  def assignToCentroids(emb: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withN = emb.select(col(idCol).as("vec_id"), col(vecCol),
      nativeNorm(col(vecCol)).as("vn"))
    val cents = broadcast(centroids.select(col("centroid_id"), col("cv"),
      nativeNorm(col("cv")).as("cn")))
    val ord = round(col("score") * 1e6).cast("long") * lit(4294967296L) -
      col("centroid_id").cast("long")
    withN.crossJoin(cents)
      .select(col("vec_id"),
        round(nativeDot(col(vecCol), col("cv")) / (col("vn") * col("cn")), 6)
          .as("score"),
        col("centroid_id"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"), ord).as("centroid_id"),
        max(col("score")).as("score"))
      .select(col("vec_id"), col("centroid_id"), col("score"))
  }

  /** IVF top-k search: queries probe the `nProbe` nearest inverted lists
    * and score only vectors assigned there — the candidate join is a
    * keyed equi-join on centroid_id, never a full scan per query. */
  def ivfTopK(emb: DataFrame, queryPred: Column, numCentroids: Int,
      nProbe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKCore(emb,
      ivfAssign(emb, numCentroids, idCol, vecCol),
      firstNCentroids(emb, numCentroids, idCol, vecCol),
      queryPred, nProbe, k, idCol, vecCol)

  /** IVF top-k against an explicit (e.g. [[Kmeans.train]]ed) centroid
    * table `(centroid_id: long, cv: array<float>)`. Same probed-list
    * search as [[ivfTopK]]; recall improves with centroid quality. */
  def ivfTopKWith(emb: DataFrame, centroids: DataFrame, queryPred: Column,
      nProbe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKCore(emb,
      assignToCentroids(emb, centroids, idCol, vecCol),
      centroids, queryPred, nProbe, k, idCol, vecCol)

  // On the corpus-norm double-compute: the assignment pass and the
  // candidate-scoring join each project nativeNorm over the corpus. They
  // are different map stages reading the same scan, so the only way to
  // compute norms once is to materialize an (id, vec, norm) projection —
  // i.e. cache the corpus — which is the wrong trade at 100 TB: an extra
  // codegen'd O(d) fold per row is cheaper than persisting vectors.
  // Callers that DO hold the corpus in memory can pre-project the norm
  // and pass it through vecCol's frame unchanged.
  private def ivfTopKCore(emb: DataFrame, assignment: DataFrame,
      centroids: DataFrame, queryPred: Column, nProbe: Int, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val assign = assignment
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"))
    val cents = centroids.select(col("centroid_id"), col("cv"),
      nativeNorm(col("cv")).as("cn"))
    // probe lists per query: nProbe best centroids. Scoring is map-only
    // (broadcast centroids); the bounded top-nProbe aggregation ships only
    // (query_id, centroid_id) pairs — the query VECTOR never rides the
    // probe-selection shuffle (the former window shuffled qv once per
    // centroid), and rejoins exactly once per query afterwards.
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        nativeNorm(col(vecCol)).as("qn"))
    val probeScores = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("centroid_id"),
        round(nativeDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cscore"))
    val probes = perQueryTopK(probeScores, nProbe, idName = "centroid_id",
        scoreName = "cscore")
      .select(col("query_id"), col("centroid_id"))
      .join(q, Seq("query_id"))
    // score only candidates in the probed lists
    val cands = probes.join(assign, Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        nativeNorm(col(vecCol)).as("nn")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(nativeDot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6).as("score"))
    perQueryTopK(cands, k)
  }

  /** Semantic deduplication (SemDeDup — Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023): cluster the embedding space with k-means, score pairwise
    * cosine ONLY within each cluster, and drop every vector that is the
    * higher id of a ≥ `tau` pair — one representative (the lowest id)
    * survives each semantic duplicate group. Near-dup detection by
    * MEANING rather than by surface form: paraphrases and re-renderings
    * that share no shingles still land in the same cluster and score
    * high.
    *
    * Scale shape: the only candidate generator is the trained quantizer —
    * within-cluster pairing is a keyed equi-join on centroid_id, never
    * all-pairs; the paper's economics apply (pick k ≈ n / target-cluster-
    * size so per-cluster O(c²) work is bounded; k grows with the corpus,
    * not the pair count). Everything downstream of [[Kmeans.train]] is
    * one self-join + a map-side cosine + a semi-join-shaped drop.
    *
    * Returns `(vec_id, centroid_id, status)`, status ∈ kept | dropped.
    * Deterministic end-to-end: trained centroids replay bit-exactly (see
    * [[Kmeans.train]]), scores round to 6 dp, and the drop rule has no
    * order dependence — a DuckDB oracle hash-matches the whole pipeline.
    * Like the paper's greedy keep-one, a vector similar only to DROPPED
    * vectors is still dropped (the pair relation is not re-walked after
    * removal). */
  def semanticDedup(emb: DataFrame, k: Int, iters: Int, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxAvgClusterSize: Int = 1000): DataFrame =
    semanticDedupImpl(emb, emb.count(), k, iters, tau, idCol, vecCol,
      maxAvgClusterSize)

  /** Body shared with [[semanticDedupAuto]], which already holds the
    * corpus count from deriving k — taking `n` here keeps that path to
    * one scan of the embedding lineage instead of two. */
  private def semanticDedupImpl(emb: DataFrame, n: Long, k: Int,
      iters: Int, tau: Double, idCol: String, vecCol: String,
      maxAvgClusterSize: Int): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    // Scale guard: fixed k at growing n is a deliberately misconfigured
    // operator (the committed probe measured 10,000x the pair work at
    // x100 data) — within-cluster pairing is O(c²) per cluster, so the
    // average cluster size must stay bounded. Fail fast at the driver
    // naming the knobs, mirroring balanceClasses.maxMinClass.
    require(k >= 1, s"k must be >= 1, got $k")
    require(n == 0 || n.toDouble / k <= maxAvgClusterSize,
      f"semanticDedup: $n vectors / $k clusters = ${n.toDouble / k}%.0f " +
        s"per cluster > maxAvgClusterSize $maxAvgClusterSize — within-" +
        "cluster pair work is quadratic in cluster size; scale k with " +
        "the corpus (kFor(n), or semanticDedupAuto), or raise " +
        "maxAvgClusterSize deliberately")
    val cents = Kmeans.train(emb, k, iters, idCol, vecCol)
    // materialized: the assignment subtree (corpus × centroids argmax)
    // feeds the pair self-join twice AND the final status join — without
    // a checkpoint Spark re-executes it per consumer
    val assign = Iterate.checkpoint(assignToCentroids(emb, cents, idCol, vecCol)
      .select(col("vec_id"), col("centroid_id")))
    val members = assign.join(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        nativeNorm(col(vecCol)).as("nrm")), Seq("vec_id"))
    val pairs = members.select(col("centroid_id"), col("vec_id").as("a_id"),
        col("v").as("va"), col("nrm").as("na"))
      .join(members.select(col("centroid_id"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("b_id"),
        round(nativeDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("score"))
    val dropped = pairs.filter(col("score") >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("st", lit("dropped"))
    assign.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("st"), lit("kept")).as("status"))
  }

  /** The paper-economics k for a corpus of `n` vectors: k ≈ n /
    * targetClusterSize (ceiling, min 1), so per-cluster pair work stays
    * O(targetClusterSize²) no matter how n grows. 250 matches the
    * SemDeDup growth probe recorded in SCALE.md (k = n/250 held the x100
    * probe to 10.9x time). */
  def kFor(n: Long, targetClusterSize: Int = 250): Int = {
    require(n >= 0, s"n must be non-negative, got $n")
    require(targetClusterSize >= 1,
      s"targetClusterSize must be >= 1, got $targetClusterSize")
    math.max(1L, math.min(Int.MaxValue.toLong,
      (n + targetClusterSize - 1) / targetClusterSize)).toInt
  }

  /** [[semanticDedup]] with k derived from the corpus size via
    * [[kFor]] — the configuration that holds at scale without the
    * caller doing cluster-size arithmetic. Counts the corpus exactly
    * once, and passes the scale guard a bound consistent with the k it
    * just derived (k = ⌈n/target⌉ guarantees n/k ≤ target, so any
    * targetClusterSize — including ones above the standalone default of
    * 1000 — is self-consistently accepted). */
  def semanticDedupAuto(emb: DataFrame, iters: Int, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      targetClusterSize: Int = 250): DataFrame = {
    val n = emb.count()
    // floor at 2: kFor can give 1 on a corpus smaller than the target
    // cluster size, but Lloyd's needs at least two centroids
    semanticDedupImpl(emb, n, math.max(2, kFor(n, targetClusterSize)),
      iters, tau, idCol, vecCol, maxAvgClusterSize = targetClusterSize)
  }

  /** Embedding near-dup: candidate pairs share an LSH bucket, then exact
    * (rounded) cosine filters at `minScore`. Only within-bucket pairs are
    * ever scored — the 100 TB-safe shape. */
  def nearDupByCosine(emb: DataFrame, numPlanes: Int, minScore: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = lshBuckets(emb, numPlanes, idCol, vecCol)
    val pairs = b.select(col("vec_id").as("a_id"), col("bucket"))
      .join(b.select(col("vec_id").as("b_id"), col("bucket")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
    val withNorm = emb.select(col(idCol), col(vecCol), nativeNorm(col(vecCol)).as("nrm"))
    pairs
      .join(withNorm.select(col(idCol).as("a_id"), col(vecCol).as("va"),
        col("nrm").as("na")), Seq("a_id"))
      .join(withNorm.select(col(idCol).as("b_id"), col(vecCol).as("vb"),
        col("nrm").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(nativeDot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("score"))
      .filter(col("score") >= minScore)
  }

  /** Embedding-batch drift monitor — the run-over-run number an ANN
    * deployment tracks BEFORE trusting yesterday's index against
    * today's vectors (an embedding-model update or a corpus-mix shift
    * moves the population; centroid cosine is the cheap first alarm):
    * per batch the per-dimension mean vector under the kmeans float
    * discipline (`round(avg, 6)` narrowed through FLOAT — the
    * cross-engine mean recipe DuckKmeansSql already replays) and the
    * mean SQUARED norm (exact-integer micros after one 6-dp round —
    * no square root, so no libm race), then the 6-dp micro cosine
    * between the two centroids. `centroid_cos_micros` near 1e6 =
    * same population; a drop means re-index / re-train the quantizer.
    * Zero-norm centroids (a batch of zero vectors) have no direction:
    * null cosine. Null and EMPTY embedding arrays are both excluded
    * everywhere (n, msq means, centroid dims) — an empty vector has no
    * dimensions to average, and the relational unnest a replaying
    * oracle uses drops it anyway. Scale: per side one dim-keyed
    * aggregation (shuffle = dims, not vectors) + one 1-row reduce.
    * Returns ONE row `(n_a, n_b, msq_a_micros, msq_b_micros,
    * centroid_cos_micros)`. */
  def embeddingDrift(a: DataFrame, b: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    def centroid(df: DataFrame, tag: String): DataFrame =
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
        .select(posexplode(col(vecCol)).as(Seq("__i", "__v")))
        .groupBy(col("__i"))
        .agg(expr("cast(cast(round(avg(cast(__v as double)), 6) " +
          "as float) as double)").as(s"__c$tag"))
    def stats(df: DataFrame, tag: String): DataFrame =
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
        .agg(count(lit(1)).as(s"n_$tag"),
          (expr(s"cast(round(avg(__m$tag), 6) as decimal(18,6))")
            * 1000000L).cast("long").as(s"msq_${tag}_micros"))
    val sa = stats(a.select(nativeDot(col(vecCol), col(vecCol))
      .as("__ma"), col(vecCol)), "a")
    val sb = stats(b.select(nativeDot(col(vecCol), col(vecCol))
      .as("__mb"), col(vecCol)), "b")
    val cos = centroid(a, "a").join(centroid(b, "b"), Seq("__i"))
      .agg(sum(col("__ca") * col("__cb")).as("__d"),
        sum(col("__ca") * col("__ca")).as("__na2"),
        sum(col("__cb") * col("__cb")).as("__nb2"))
      .select(when(col("__na2") > 0 && col("__nb2") > 0,
        round(round(col("__d") /
          (sqrt(col("__na2")) * sqrt(col("__nb2"))), 6) * 1e6)
          .cast("long")).as("centroid_cos_micros"))
    sa.crossJoin(sb).crossJoin(cos)
      .select(col("n_a"), col("n_b"), col("msq_a_micros"),
        col("msq_b_micros"), col("centroid_cos_micros"))
  }

  /** The drift → retrain → recall-gate REINDEX loop, composed — the
    * operational cycle every production vector store runs when
    * [[embeddingDrift]] alarms (an embedding-model update or a
    * corpus-mix shift moved the population, so yesterday's coarse
    * quantizer routes today's vectors badly): measure the drift
    * between the indexed corpus and the new batch, retrain the IVF
    * centroids on the MERGED corpus, then gate the swap on
    * [[recallAtK]] of both indexes against the exact baseline over
    * new-population queries. All three legs existed
    * ([[embeddingDrift]], [[graft.operators.Kmeans]], [[recallAtK]] /
    * [[ivfTopKWith]]); this chains them under one relation.
    *
    * Index seeding is id-order-deterministic WITHOUT a dense-id
    * contract: the old index seeds from the `numCentroids` lowest-id
    * OLD vectors (bounded top-k buffer — no corpus sort, no window);
    * the retrained index interleaves the `numCentroids/2` lowest-id
    * seeds of EACH side (old seed r → centroid 2r, new seed r →
    * 2r+1), so the retrained codebook starts with coverage of both
    * populations — the property that makes the recall comparison a
    * fair fight rather than a warm-start lottery. `numCentroids` must
    * be even; both trainings run `iters` Lloyd iterations over their
    * corpus (old index: OLD corpus only — yesterday's index never saw
    * the batch; retrained: merged).
    *
    * The plan is static — both indexes always evaluate (a relational
    * composition cannot branch on the drift row); the verdict columns
    * carry the decision a deployment acts on: `drifted` (centroid
    * cosine below `driftGateMicros`, or no direction), and
    * `reindex_accepted` = drifted AND the retrained index's
    * corpus-level recall clears `recallGatePpm`. Mean recalls are
    * hits-weighted exact ppm over the query set ((2·Σhits·1e6 + k·q)
    * div (2·k·q)). Old and new ids MUST be disjoint — a collision
    * would alias two different vectors through the merged relation,
    * so it trips an in-plan raise.
    *
    * Scale shape: the drift is two dim-keyed aggregations; each
    * training is the [[graft.operators.Kmeans.trainFrom]] loop
    * (broadcast centroids, k·d-bounded update shuffles,
    * checkpointed rounds); each search is the probed-list keyed
    * equi-join ([[ivfTopKWith]]); the exact baseline scores only the
    * bounded query slice. Returns one row per baseline query:
    * `(query_id, hits_old, recall_old_ppm, hits_new, recall_new_ppm,
    * centroid_cos_micros, drifted, mean_recall_old_ppm,
    * mean_recall_new_ppm, reindex_accepted)` — the verdict columns
    * stage-constant (1-row broadcast). */
  def reindexOnDrift(oldEmb: DataFrame, newEmb: DataFrame,
      numCentroids: Int, iters: Int, nProbe: Int, k: Int,
      queryPred: Column, driftGateMicros: Long, recallGatePpm: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numCentroids >= 2 && numCentroids % 2 == 0,
      s"numCentroids must be even and >= 2 (half per population), " +
        s"got $numCentroids")
    require(nProbe >= 1 && k >= 1, s"need nProbe/k >= 1")
    // bottom-m ids via the bounded top-k buffer (score = -id): no
    // corpus sort, no window, no dense-id contract. The buffer carries
    // scores as doubles, so ids past 2^53 would lose ordering
    // precision and silently break the advertised id-order-determinism
    // — guarded in-plan (the rewardTopK discipline).
    def seeds(df: DataFrame, m: Int, stride: Int, off: Int): DataFrame =
      Iterate.checkpoint(perQueryTopK(
        df.select(lit(0L).as("query_id"), col(idCol).as("neighbor_id"),
          (-when(abs(col(idCol).cast("long")) > lit(9007199254740992L),
            raise_error(concat(lit("reindexOnDrift: |id| exceeds 2^53 ("),
              col(idCol).cast("string"),
              lit(") — seed selection orders ids through a double " +
                "score; remap ids into the exact-double range upstream")))
              .cast("long"))
            .otherwise(col(idCol).cast("long")).cast("double")).as("score")),
        m)
        .select(col("neighbor_id").as(idCol),
          ((col("rnk") - 1) * stride + off).as("centroid_id"))
        .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
        .select(col("centroid_id"),
          col(vecCol).cast("array<float>").as("cv")))
    val oldInit = seeds(oldEmb, numCentroids, 1, 0)
    val mergedInit = Iterate.checkpoint(seeds(oldEmb, numCentroids / 2, 2, 0)
      .unionAll(seeds(newEmb, numCentroids / 2, 2, 1)))
    val merged = oldEmb.select(col(idCol), col(vecCol))
      .unionAll(newEmb.select(col(idCol), col(vecCol)))
    val oldCents = Kmeans.trainFrom(oldEmb, oldInit, iters, idCol, vecCol)
    val newCents = Kmeans.trainFrom(merged, mergedInit, iters, idCol, vecCol)
    val exact = bruteForceTopK(merged, queryPred, k, idCol, vecCol)
    def recall(cents: DataFrame, tag: String): DataFrame =
      recallAtK(ivfTopKWith(merged, cents, queryPred, nProbe, k,
          idCol, vecCol), exact, k)
        .select(col("query_id"), col("hits").as(s"hits_$tag"),
          col("recall_ppm").as(s"recall_${tag}_ppm"))
    val rOld = recall(oldCents, "old")
    val rNew = recall(newCents, "new")
    def meanOf(r: DataFrame, tag: String): DataFrame =
      r.agg(sum(col(s"hits_$tag")).as("__sh"), count(lit(1)).as("__nq"))
        .select(expr(s"(2 * __sh * 1000000 + $k * __nq) " +
          s"div (2 * $k * __nq)").as(s"mean_recall_${tag}_ppm"))
    val verdict = embeddingDrift(oldEmb, newEmb, vecCol)
      .select(col("centroid_cos_micros"))
      .crossJoin(meanOf(rOld, "old")).crossJoin(meanOf(rNew, "new"))
      .select(col("centroid_cos_micros"),
        coalesce(col("centroid_cos_micros") < driftGateMicros, lit(true))
          .as("drifted"),
        col("mean_recall_old_ppm"), col("mean_recall_new_ppm"))
      .withColumn("reindex_accepted",
        col("drifted") && col("mean_recall_new_ppm") >= recallGatePpm)
    val out = rOld.join(rNew, Seq("query_id"))
      .crossJoin(broadcast(verdict))
    // id-collision guard: every output column carries the raise (a
    // shared id would alias two different vectors through the merge)
    val sch = out.schema
    val boom = raise_error(concat(
      lit("reindexOnDrift: id "), col(idCol).cast("string"),
      lit(" appears in BOTH the old corpus and the new batch — ids " +
        "must be disjoint (offset the batch upstream)")))
    // checkpointed semi-join (the dialogPaths pushdown lesson): left
    // lazy, a consumer's pushable predicate substituted into the raise
    // columns pushes below the semi-join and fires the raise for every
    // old id; the id-only checkpoint job is noise next to the k-means
    // rounds this operator already runs eagerly
    val offenders = graft.operators.Iterate.checkpoint(
        oldEmb.select(col(idCol)).distinct()
          .join(newEmb.select(col(idCol)).distinct(), Seq(idCol),
            "left_semi"))
      .select(sch.map(f => boom.cast(f.dataType).as(f.name)): _*)
    out.unionAll(offenders)
  }
}
