package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}

import graft.functions.{TokenBucketTf, TopKAggregator}

/** Data Selection via Importance Resampling (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling" — the DSIR
  * recipe): fit two bag-of-hashed-ngrams models, one on a small TARGET
  * corpus (the distribution you want more of — a quality domain, a
  * language, a style) and one on the RAW pool, weight every raw document
  * by its log-likelihood ratio under the two models, and keep the top
  * documents. This is the principled upgrade of hard quality filtering:
  * instead of a threshold on handcrafted features, documents are ranked
  * by how much more target-like than pool-like they are.
  *
  * Scale shape (the part that must hold at 100 TB): the token stream is
  * exploded ONCE, bucketed by the library's shared md5 derivation
  * ([[Sampling.bucketOfKey]] — engine-replayable, no vocabulary to
  * build), and reduced immediately to the compact per-(doc, bucket)
  * term-frequency relation (map-side partial agg). BOTH hashed-unigram
  * models aggregate that compact relation — the raw token stream is
  * never re-scanned. The log-ratio table is bucket-sized and BROADCAST
  * back onto the compact relation; per-doc weights are one keyed
  * aggregation; final selection is one bounded [[TopKAggregator]] pass
  * (≤ n pairs per map task — never a corpus sort). Nothing reaches the
  * driver.
  *
  * Numerics: smoothed probabilities are integer ratios (single IEEE
  * division); `ln` rounds to 6 dp (absorbing cross-engine libm ulps);
  * the per-doc sum rides DECIMAL (exact, order-independent) with tf as
  * DECIMAL(9,0) so both engines keep the product in exact decimal range.
  * Documents with zero tokens carry no evidence and are EXCLUDED (same
  * contract as [[TextAnalysis.hashedTfVectors]]).
  */
object Dsir {

  /** The compact `(idCol, __tgt, b, __tf)` relation: one map-only
    * kernel pass over the lowercased whitespace tokens, one explode of
    * the ≤ buckets map entries. A document determines `__tgt`, so the
    * extra column adds no cardinality. */
  private def docBucketTf(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    // map-only TF: one explode of the ≤ buckets kernel-map entries per
    // doc replaces the per-token explode + md5 + keyed counting
    // aggregation (guide §2.4 — same move as linearQualityScore)
    Par.spread(docs.select(col(idCol), isTarget.as("__tgt"),
        TextAnalysis.tokens(lower(col(textCol))).as("__toks")))
      .select(col(idCol), col("__tgt"),
        explode(column(TokenBucketTf(expression(col("__toks")),
          Literal(buckets)))))
      .select(col(idCol), col("__tgt"), col("key").as("b"),
        col("value").as("__tf"))
  }

  /** Per-bucket log-likelihood-ratio table `(b, llr)` with add-1
    * smoothing: `llr(b) = round(ln((ct+1)/(Tt+B)), 6) −
    * round(ln((cr+1)/(Tr+B)), 6)` over token buckets of the target
    * subset vs the whole pool, as DECIMAL(18,6). Buckets never seen in
    * the pool carry no row (a pool document can't hit them). */
  private def logRatiosFrom(dt: DataFrame, idCol: String,
      buckets: Int): DataFrame = {
    val bc = dt.groupBy("b").agg(sum("__tf").as("__cr"),
      sum(when(col("__tgt"), col("__tf")).otherwise(lit(0L))).as("__ct"))
    val tot = bc.agg(sum("__cr").as("__tr"), sum("__ct").as("__tt"))
    bc.crossJoin(broadcast(tot)).select(col("b"),
      (round(log((col("__ct") + lit(1L)) / (col("__tt") + lit(buckets.toLong))), 6) -
        round(log((col("__cr") + lit(1L)) / (col("__tr") + lit(buckets.toLong))), 6))
        .cast("decimal(18,6)").as("llr"))
  }

  /** The log-ratio model table alone — `(b, llr)` — for callers that
    * want to persist the trained model and score later batches against
    * it (the nightly-fold-in discipline). */
  def logRatios(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    logRatiosFrom(docBucketTf(docs, idCol, textCol, isTarget, buckets),
      idCol, buckets)
  }

  /** Importance weight per document: `(idCol, weight)` where `weight =
    * Σ_b tf(doc, b) · llr(b)` — the document's log-likelihood ratio
    * under the two hashed-unigram models. Higher = more target-like.
    * Zero-token documents are excluded. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      s"buckets must be in [2, 65536], got $buckets")
    val dt = docBucketTf(docs, idCol, textCol, isTarget, buckets)
    val lr = logRatiosFrom(dt, idCol, buckets)
    dt.join(broadcast(lr), "b")
      .groupBy(col(idCol))
      .agg(sum(col("llr") * col("__tf").cast("decimal(9,0)")).as("__w"))
      .select(col(idCol), col("__w").cast("double").as("weight"))
  }

  /** DSIR selection: the `n` most target-like documents, best first —
    * `(idCol, weight, rnk)`. One bounded top-n aggregation over the
    * weight relation (ties broken by id: fully deterministic; weights
    * are finite by construction, so the TopK NaN caveat can't bite). */
  def selectTopN(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, n: Int, buckets: Int = 65536): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val w = importanceWeights(docs, idCol, textCol, isTarget, buckets)
    w.select(col("weight"), col(idCol).cast("long").as("__id"))
      .agg(TopKAggregator.topKColumn(n)(col("weight"), col("__id")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").as(idCol), col("t.score").as("weight"),
        (col("pos") + lit(1)).as("rnk"))
  }
}
