package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.TopKAggregator

/** Deterministic, engine-stable dataset splitting and downsampling for
  * training-data curation. Both derive a per-row bucket from
  * md5(salt|id), so
  *
  *  - a row's assignment depends only on its own id (stable under data
  *    growth, repartitioning, and re-runs — no RNG, no row order);
  *  - changing the salt re-rolls every assignment (new experiment);
  *  - md5 hex keeps the bucket reproducible across engines, so splits
  *    taken by this library agree with splits taken by any other md5
  *    implementation — including the DuckDB oracle.
  *
  * Map-only expressions: at 100 TB these run inside the scan's codegen
  * stage with zero shuffle.
  */
object Sampling {

  /** The deterministic per-row key every sampler here derives from:
    * md5 of `salt|id`. ONE definition — the DuckDB oracles replicate
    * this exact expression, so any change to the scheme (separator,
    * hash) happens here and in the oracle SQL together. */
  def saltedKey(id: Column, salt: String): Column =
    md5(concat(lit(s"$salt|"), id.cast("string")))

  /** Bucket in [0, buckets) from a [[saltedKey]]'s first 8 hex chars —
    * the one derivation every bucketing consumer shares. */
  def bucketOfKey(hk: Column, buckets: Int): Column =
    conv(substring(hk, 1, 8), 16, 10).cast("long") % buckets

  /** Bucket in [0, buckets) from the first 8 md5 hex chars of salt|id. */
  def hashBucket(id: Column, salt: String, buckets: Int = 100): Column =
    bucketOfKey(saltedKey(id, salt), buckets)

  /** Shared guard: ids ride the bounded MinK/TopK buffers as longs, so
    * every sampler requires an integral id column. */
  private def requireIntegralId(df: DataFrame,
      idCol: String): org.apache.spark.sql.types.DataType = {
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"$idCol must be an integral id column, got $idType — ids ride the " +
        "bounded sample buffers as longs; re-key the corpus first")
    idType
  }

  /** Split label: buckets [0, trainPct) → train, [trainPct,
    * trainPct+valPct) → val, rest → test. */
  def splitLabel(id: Column, salt: String, trainPct: Int, valPct: Int): Column = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must be within [0, 100]")
    val b = hashBucket(id, salt)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Keep ~`pct`% of rows, deterministically by id. */
  def downsample(df: DataFrame, idCol: String, salt: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(idCol), salt) < pct)

  /** Per-key cap — the host-balance / politeness sampler (C4-style
    * crawl curation caps documents per host so megasites can't dominate
    * the mix; the same shape caps user contributions, per-repo files,
    * per-license samples): every key keeps AT MOST `k` rows, chosen by
    * the deterministic md5 rank (lowest `md5(salt|id)` first — a new
    * salt redraws, the [[mixtureSample]] discipline), keys under the cap
    * keep everything. Unlike [[mixtureSample]] the quota is uniform and
    * the key universe is NOT enumerated up front — any key that shows up
    * is capped, which is the point (you cannot list the internet's
    * hosts). Bounded MinK buffer per key: ≤ k (hash, id) pairs per key
    * per map task ever shuffle, no per-key sort. Null keys form their
    * own capped group (an unknown host is still a host); null ids are
    * excluded ([[mixtureSample]]'s contract). Returns
    * `(<idCol>, <keyCol>, rn)` with rn the 1-based within-key rank. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      salt: String, k: Int): DataFrame = {
    require(k >= 1, s"cap must be positive, got $k")
    val idType = requireIntegralId(df, idCol)
    df.filter(col(idCol).isNotNull)
      .select(col(keyCol),
        saltedKey(col(idCol), salt).as("hk"),
        col(idCol).cast("long").as("id"))
      .groupBy(col(keyCol))
      .agg(TopKAggregator.minKColumn(k)(col("hk"), col("id")).as("sel"))
      .select(col(keyCol), posexplode(col("sel")).as(Seq("pos", "t")))
      .select(col("t.id").cast(idType).as(idCol), col(keyCol),
        (col("pos") + lit(1)).as("rn"))
  }

  /** Training-mixture sampling: take EXACTLY `quotas(domain)` rows per
    * domain (fewer only if the domain is smaller than its quota),
    * deterministically — a domain's sample is its `quota` lowest
    * md5(salt|id) keys, ties broken by id. This is how a pretraining mix
    * ("books 30 %, web 60 %, code 10 % of N docs") is materialized from
    * an over-supplied corpus: exact per-source counts, stable under
    * re-runs, repartitioning, and corpus growth ORDER (adding docs only
    * displaces the highest-keyed survivors).
    *
    * Shape: one bounded-buffer aggregation per domain
    * ([[graft.functions.TopKAggregator.MinK]]) — the partial buffer
    * ships ≤ max-quota (key, id) pairs per domain per map task, so no
    * reducer ever sorts a full domain. The buffer is quota-sized:
    * this is a DOWN-sampling operator (quota ≪ domain size); a quota
    * near the corpus size degrades to collect-the-domain and should be
    * a filter instead.
    *
    * Returns `(<idCol>, <domainCol>, rn)` with rn ∈ [1, quota] the
    * within-domain sample rank. Domains absent from `quotas` are
    * excluded entirely. Ids ride the buffer as longs, so the id column
    * must be integral (fail-fast; re-key string-id corpora first);
    * null-id rows are excluded. */
  def mixtureSample(df: DataFrame, domainCol: String, idCol: String,
      salt: String, quotas: Map[String, Int]): DataFrame = {
    require(quotas.nonEmpty, "need at least one domain quota")
    require(quotas.values.forall(_ > 0), s"quotas must be positive: $quotas")
    val maxQ = quotas.values.max
    val idType = requireIntegralId(df, idCol)
    val quotaDf = broadcast(
      df.sparkSession.createDataFrame(quotas.toSeq.sortBy(_._1))
        .toDF(domainCol, "quota"))
    df.filter(col(idCol).isNotNull)
      .select(col(domainCol),
        saltedKey(col(idCol), salt).as("hk"),
        col(idCol).cast("long").as("id"))
      .join(quotaDf, Seq(domainCol))   // drops unlisted domains pre-agg
      .groupBy(col(domainCol), col("quota"))
      .agg(TopKAggregator.minKColumn(maxQ)(col("hk"), col("id")).as("sel"))
      .select(col(domainCol), col("quota"),
        posexplode(col("sel")).as(Seq("pos", "t")))
      .filter(col("pos") < col("quota"))
      .select(col("t.id").cast(idType).as(idCol), col(domainCol),
        (col("pos") + lit(1)).as("rn"))
  }

  /** Class-balanced downsample — the classifier-training prep: every
    * class contributes EXACTLY the smallest class's row count, sampled
    * deterministically by md5 rank ([[mixtureSample]] with runtime
    * quotas). The per-class counts collect to the driver first: class
    * columns are enum-like by definition (a high-cardinality column is
    * not a class label), so the collect is bounded and the quota map
    * broadcast-joins like any other mixture. Null-class rows are
    * excluded (they are unlabeled, not a class), and null-id rows are
    * excluded from the COUNTS too — [[mixtureSample]] cannot emit them,
    * so counting them would silently under-fill their class. The class
    * column must be a string (it keys the quota map).
    *
    * EXACT balance ranks every class down to the min-class size, so the
    * bounded buffers are min-class-sized — fine for label distributions
    * (thousands to ~1M per class), NOT for a near-balanced pair of
    * 50M-row classes, where the "bound" is the whole class.
    * `maxMinClass` fail-fasts there: approximate balance at that scale
    * is a per-class [[downsample]] percentage, which is map-only. */
  def balanceClasses(df: DataFrame, classCol: String, idCol: String,
      salt: String, maxMinClass: Int = 1000000): DataFrame = {
    require(df.schema(classCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"$classCol must be a string class-label column")
    requireIntegralId(df, idCol)
    val counts = df.filter(col(classCol).isNotNull && col(idCol).isNotNull)
      .groupBy(col(classCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(counts.nonEmpty, s"no non-null classes in $classCol")
    val minN = counts.map(_._2).min
    require(minN <= maxMinClass,
      s"smallest class has $minN rows > maxMinClass $maxMinClass — exact " +
        "balance would buffer min-class-sized ranks per task; use a " +
        "per-class downsample percentage at this scale, or raise " +
        "maxMinClass deliberately")
    mixtureSample(df, classCol, idCol, salt,
      counts.map(t => t._1 -> minN.toInt).toMap)
  }

  /** Temperature-flattened domain resampling (the multilingual-training
    * recipe — Conneau & Lample 2019 §3.1, Raffel et al. 2020 §3.4.3 on
    * examples-proportional mixing): sampling weight ∝ n_d^α, so α = 1
    * is proportional to the natural distribution and α → 0 flattens
    * toward uniform — low-resource domains are up-weighted relative to
    * their share without hand-written quotas. Quotas derive as
    * `max(1, floor(total · n_d^α / Σ_e n_e^α))` and feed
    * [[mixtureSample]] (bounded MinK buffers, exact md5-rank
    * selection); a domain with fewer rows than its quota contributes
    * everything it has.
    *
    * The per-domain counts collect to the driver (bounded: domains are
    * enum-like; `maxDomains` fail-fasts if the column is actually
    * high-cardinality). Determinism: Σ n^α folds in LEXICOGRAPHIC
    * domain order — float addition isn't associative, so a pinned order
    * is what lets an external replayer reproduce the quotas; at
    * α = 0.5 the power is IEEE-exact sqrt, making the whole derivation
    * reproducible to the last bit from the counts alone. */
  def temperatureSample(df: DataFrame, domainCol: String, idCol: String,
      salt: String, total: Long, alpha: Double = 0.5,
      maxDomains: Int = 100000): DataFrame = {
    require(total > 0, s"total must be positive, got $total")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(df.schema(domainCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"$domainCol must be a string domain column, got " +
        s"${df.schema(domainCol).dataType}")
    val counts = df.filter(col(domainCol).isNotNull && col(idCol).isNotNull)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    require(counts.nonEmpty, s"no non-null domains in $domainCol")
    require(counts.length <= maxDomains,
      s"${counts.length} distinct domains > maxDomains $maxDomains — " +
        s"$domainCol looks high-cardinality, not enum-like; raise " +
        "maxDomains deliberately if the driver can hold the counts")
    def pw(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    val s = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + pw(n) }
    val quotas = counts.map { case (d, n) =>
      d -> math.max(1L, math.floor(total * pw(n) / s).toLong)
        .min(Int.MaxValue).toInt
    }.toMap
    mixtureSample(df, domainCol, idCol, salt, quotas)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): each row draws
    * `key = u^(1/w)` with `u ∈ (0,1)` and the k LARGEST keys win —
    * inclusion probability proportional to weight, no replacement, one
    * pass. The training-data use: quality-weighted corpus sampling
    * (w = a quality score) instead of hard thresholding.
    *
    * Deterministic and engine-replayable: `u` derives from the first 8
    * md5 hex chars of `salt|id` shifted by +0.5 and divided by 2^32 —
    * integer arithmetic plus a power-of-two division, so `u` is the
    * same double everywhere and never 0 — and the key rounds to 12 dp
    * (absorbing ≤1-ulp pow() differences) with ties broken by id.
    *
    * Scale shape: the ranking is ONE global [[graft.functions.TopKAggregator]]
    * aggregation — each map task ships at most k (key, id) pairs, the
    * single reducer merges bounded buffers; no corpus sort, no window.
    * Rows with null, non-positive, or NaN weight, or null id, are
    * excluded (E-S is defined for finite w > 0; a NaN key would also
    * rank last in the buffer's total order but first under a SQL ORDER
    * BY DESC — excluding it keeps the operator replayable). Returns `(<idCol>, wkey, rnk)`, best first. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      salt: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idType = requireIntegralId(df, idCol)
    val u = (conv(substring(saltedKey(col(idCol), salt), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val key = round(pow(u, lit(1.0) / col(weightCol)), 12)
    df.filter(col(idCol).isNotNull && col(weightCol) > 0 &&
        !isnan(col(weightCol).cast("double")))
      .select(key.as("wkey"), col(idCol).cast("long").as("id"))
      .agg(TopKAggregator.topKColumn(k)(col("wkey"), col("id")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").cast(idType).as(idCol),
        col("t.score").as("wkey"), (col("pos") + lit(1)).as("rnk"))
  }

  /** DoReMi-style domain-mixture reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * multiplicative weights over a per-domain EXCESS-LOSS signal —
    * domains where the model underperforms get upweighted round by
    * round, `w ← normalize(w · exp(η · L(d)))`. The published recipe
    * retrains a proxy model between rounds to refresh L; that is a
    * training job, not a data-engine pass, so THIS operator implements
    * the reweighting iteration given any loss signal, with the
    * saturation form `L_t(d) = loss(d) · (1 − w_t(d))` standing in for
    * the proxy refresh (more sampling ⇒ the domain gets learned ⇒ its
    * excess loss decays — the qualitative behavior the retraining
    * produces, in a deterministic, engine-replayable closed form).
    * The output weights feed [[mixtureByWeights]] directly.
    *
    * Numerics are the PageRank micro-unit discipline applied to a
    * distribution: weights are integer MICROS summing to ~1e6, the
    * per-round multiplier is `round(exp(·), 6)` (6-dp rounding absorbs
    * ≤1-ulp exp() differences across engines — the ln/ppl contract),
    * products quantize via `floor(x + 0.5)`, and normalization divides
    * by the exact integer round total (one driver scalar per round,
    * REQUIRED positive — a loss signal so negative that every
    * multiplier rounds to 0 fails fast instead of emitting silent null
    * weights). Every float step is a single IEEE op, so a relational
    * oracle unrolls the rounds bit-for-bit.
    *
    * Scale shape: `domainLoss` is domains-sized BY DEFINITION (a
    * mixture has dozens of domains, `maxDomains` fail-fasts surprise
    * cardinality); the corpus pass that produced the loss signal
    * happened upstream, ONCE. Each round here is one map over the
    * domain relation + a broadcast 1-row total — keys-sized work,
    * lineage checkpointed. Input `(domain, loss)` (duplicate domains
    * resolve to MAX loss, deterministically); returns
    * `(domain, weight_m, weight)`, micros and the ~1-summing double. */
  def mixtureReweight(domainLoss: DataFrame, rounds: Int,
      eta: Double = 0.5, maxDomains: Int = 100000): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"need 1 <= rounds <= 50, got $rounds")
    require(eta > 0 && eta <= 10, s"need 0 < eta <= 10, got $eta")
    val base = Iterate.checkpoint(domainLoss
      .filter(col("domain").isNotNull && col("loss").isNotNull)
      .groupBy(col("domain")).agg(max(col("loss").cast("double")).as("loss")))
    val n = base.count() // one driver scalar
    require(n > 0, "mixtureReweight: no non-null domains")
    require(n <= maxDomains,
      s"$n distinct domains > maxDomains $maxDomains — the domain column " +
        "looks high-cardinality, not enum-like")
    val init = base.withColumn("w", lit(math.floor(1e6 / n + 0.5).toLong))
    Iterate.fixpoint(init, rounds) { (w, r) =>
      val raw = Iterate.checkpoint(w.select(col("domain"), col("loss"),
        floor(col("w") *
          round(exp(lit(eta) * col("loss") * (lit(1e6) - col("w")) / lit(1e6)),
            6) + lit(0.5)).cast("long").as("wr")))
      // the normalization total is one exact-integer driver scalar per
      // round (the kCore discipline), REQUIRED positive: a strongly
      // negative loss (eta·loss·(1−w) ≲ −14.5) rounds its exp multiplier
      // to 0, and if EVERY domain collapses the division would emit
      // silent null weights — degenerate inputs fail fast instead
      val tot = raw.agg(coalesce(sum("wr"), lit(0L))).first().getLong(0)
      require(tot > 0,
        s"mixtureReweight: round $r total weight collapsed to 0 — every " +
          "domain's exp multiplier rounded to zero (eta*loss too " +
          "negative); rescale the loss signal or lower eta")
      raw.select(col("domain"), col("loss"),
        floor(col("wr") * lit(1e6) / lit(tot) + lit(0.5)).cast("long")
          .as("w"))
    }.frame.select(col("domain"), col("w").as("weight_m"),
      (col("w").cast("double") / lit(1e6)).as("weight"))
  }

  /** [[mixtureSample]] with quotas derived from target weights:
    * `quota(d) = max(1, floor(weights(d) × total))` — a listed domain is
    * never silently dropped: a weight whose floor is 0 still contributes
    * one row (drop the domain from `weights` to exclude it). Weights
    * needn't sum to 1 — they are treated as independent per-domain
    * fractions of `total`. */
  def mixtureByWeights(df: DataFrame, domainCol: String, idCol: String,
      salt: String, weights: Map[String, Double], total: Long): DataFrame = {
    require(total > 0, s"total must be positive, got $total")
    val quotas = weights.map { case (d, w) =>
      require(w > 0, s"weight for '$d' must be positive, got $w")
      d -> math.max(1, (w * total).toLong.min(Int.MaxValue)).toInt
    }
    mixtureSample(df, domainCol, idCol, salt, quotas)
  }

  /** The DoReMi loop CLOSED end to end: [[mixtureReweight]]'s optimized
    * domain weights drive [[mixtureByWeights]]'s exact quota sampling in
    * one call — loss signal in, materialized training mixture out. This
    * is the composition the published recipe actually runs (optimize
    * weights on a proxy signal, THEN resample the corpus to the new
    * mixture); shipping it as one operator keeps the weight→quota
    * handoff deterministic and oracle-replayable instead of leaving a
    * float round-trip to the caller.
    *
    * The optimized weights collect to the driver between the stages —
    * bounded BY CONSTRUCTION: [[mixtureReweight]]'s `maxDomains`
    * fail-fast already guarantees the relation is domains-sized (the
    * [[balanceClasses]] precedent), and the quota map broadcast-joins
    * back like every other mixture. Weights cross as the exact integer
    * MICROS (`weight_m / 1e6` — one power-of-two-free but exact double
    * division, the same value the relation carries), so an oracle
    * replays the handoff bit-for-bit from the unrolled rounds alone.
    * Domains whose POSITIVE optimized weight floors to a zero quota
    * still contribute one row each (the [[mixtureByWeights]] max(1, ·)
    * contract — DoReMi reweights, it never silently starves a domain);
    * a domain driven to exactly ZERO micros (the optimizer's hard kill,
    * reachable only under extreme weight skew) is excluded, which is
    * what a zero mixture weight means.
    *
    * Returns the [[mixtureSample]] shape: `(<idCol>, <domainCol>, rn)`,
    * rn ∈ [1, quota]. */
  def doremiMixture(df: DataFrame, domainCol: String, idCol: String,
      domainLoss: DataFrame, rounds: Int, salt: String, total: Long,
      eta: Double = 0.5, maxDomains: Int = 100000): DataFrame = {
    val w = mixtureReweight(domainLoss, rounds, eta, maxDomains)
      .select(col("domain"), col("weight_m")).collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1e6)
      .filter(_._2 > 0).toMap
    mixtureByWeights(df, domainCol, idCol, salt, w, total)
  }

  /** Data-constrained mixture planning (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): given target mixture
    * weights and a total token budget, how many tokens does each domain
    * owe, how many does it HAVE, and how many epochs (repetitions) does
    * closing the gap take — capped at `maxEpochs` (the paper's ~4-epoch
    * useful-repetition limit), with the unmet remainder reported, never
    * silently absorbed. All integer arithmetic: quotas are
    * `weight_micros · total div 1e6`, epochs `ceil` by
    * `(quota + avail − 1) div avail`.
    *
    * The output is one row per domain in EITHER input (full outer):
    * weighted-but-absent domains surface with zero availability and the
    * full quota unmet; corpus domains without a weight surface with a
    * zero quota — both are answers a mixture audit needs. Scale: one
    * domains-sized aggregate + a broadcast join against the weights
    * relation. Returns `(domain, available_tokens, quota_tokens,
    * epochs, effective_tokens, unmet_tokens)`. */
  def epochPlan(df: DataFrame, domainCol: String, tokenCol: String,
      weightsMicros: Map[String, Long], totalTokens: Long,
      maxEpochs: Int): DataFrame = {
    require(totalTokens > 0, s"need a positive token budget, got $totalTokens")
    require(maxEpochs >= 1, s"need maxEpochs >= 1, got $maxEpochs")
    weightsMicros.foreach { case (d, w) =>
      require(w > 0, s"weight for '$d' must be positive micros, got $w")
      // quota fits a Long by construction (w_m/1e6 is a fraction of the
      // Long budget), but the DECIMAL(38,0) intermediate below must also
      // fit 38 digits: bound the micros so w_m * totalTokens < 1e38.
      require(w <= 1000000000000L,
        s"weight for '$d' exceeds 1e12 micros ($w) — not a mixture weight") }
    val sp = df.sparkSession
    import sp.implicits._
    val avail = df.groupBy(col(domainCol).as("domain"))
      .agg(sum(col(tokenCol)).cast("long").as("available_tokens"))
    // no broadcast hint: a FULL OUTER join must see all rows of both
    // sides, so Spark cannot build-right-broadcast it (the hint only
    // logs a warning); both relations are domains-sized anyway
    val w = weightsMicros.toSeq.toDF("domain", "w_m")
    avail.join(w, Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("available_tokens"), lit(0L)).as("available_tokens"),
        // multiply in DECIMAL(38,0): w_m * totalTokens overflows Long once
        // the budget passes ~9.2e18/w_m — i.e. inside the multi-trillion-
        // token regime this operator targets. `div` on the decimal product
        // returns BIGINT, and the quota itself always fits (quota <= total).
        coalesce(expr(s"(cast(w_m as decimal(38,0)) * ${totalTokens}L)" +
            " div 1000000"), lit(0L))
          .as("quota_tokens"))
      .withColumn("epochs",
        when(col("quota_tokens") === 0L, lit(0L))
          .when(col("available_tokens") === 0L, lit(0L))
          .otherwise(least(
            expr("(quota_tokens + available_tokens - 1) div available_tokens"),
            lit(maxEpochs.toLong))))
      .withColumn("effective_tokens",
        least(col("quota_tokens"), col("epochs") * col("available_tokens")))
      .withColumn("unmet_tokens",
        col("quota_tokens") - col("effective_tokens"))
  }

  /** Curriculum data ordering (Bengio et al. 2009, the data-scheduling
    * form LLM training runs use): rows bucket into difficulty TIERS
    * (equi-depth bins over any numeric difficulty proxy — length,
    * perplexity, a quality score), the schedule runs tiers easy → hard,
    * and WITHIN a tier the order is the [[saltedKey]] md5 shuffle — a
    * new salt reshuffles an epoch without touching the tier structure,
    * and no RNG or row order leaks in.
    *
    * The global index composes per-tier ranks with tier offsets: the
    * rank window is PARTITIONED by tier (never a global window — an
    * equi-depth tier is 1/B of the corpus, so tiers are balanced
    * partitions; at 100 TB each tier ranks independently), and the B−1
    * offsets come from a B-row bounded driver read inlined as literals
    * (the quantizer/quota discipline). Rows with a null difficulty have
    * no place in a schedule and are excluded (count them upstream).
    * Returns `(<idCol>, tier, curriculum_idx)` with curriculum_idx a
    * gapless 0-based global schedule position. */
  def curriculumOrder(df: DataFrame, diffCol: String, idCol: String,
      nTiers: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = Features.equiDepthBins(df, diffCol, nTiers)
      .where(col(s"${diffCol}_bin").isNotNull)
      .select(col(idCol), col(s"${diffCol}_bin").cast("int").as("tier"))
    val counts = binned.groupBy(col("tier")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(counts.size <= nTiers,
      s"equi-depth binning produced ${counts.size} tiers for nTiers=$nTiers")
    val offsets = (0 until nTiers).scanLeft(0L) {
      (acc, t) => acc + counts.getOrElse(t, 0L)
    }
    val offset = (0 until nTiers).map { t =>
      when(col("tier") === t, lit(offsets(t)))
    }.reduce((a, b) => coalesce(a, b))
    val w = Window.partitionBy(col("tier"))
      .orderBy(saltedKey(col(idCol), salt), col(idCol))
    binned.select(col(idCol), col("tier"),
      (offset + row_number().over(w) - 1).cast("long").as("curriculum_idx"))
  }
}
