package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling: one row per profiled column with row count,
  * null count, and distinct count — the completeness/uniqueness metrics
  * a pipeline gates on before publishing a dataset (the deequ-style
  * check surface, rendered as plain aggregates).
  *
  * ONE aggregation job for every column: Spark plans the multi-column
  * distinct set through its Expand-based rewrite (rows multiply by the
  * number of profiled columns map-side, then hash-aggregate — no
  * per-column scan, no driver loop). `exact = false` swaps
  * `count_distinct` for HLL `approx_count_distinct` at rsd = 0.02
  * (±2 %, passed explicitly — Spark's default rsd is 0.05), collapsing
  * the Expand: at 100 TB profile breadth is usually worth
  * more than distinct-count exactness.
  *
  * Returns `(column, n_rows, n_null, n_distinct)` — nulls do not count
  * as a distinct value.
  */
object Profile {

  def describe(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    require(cols.distinct.size == cols.size,
      s"duplicate columns in profile list: $cols")
    cols.foreach(c => require(df.columns.contains(c),
      s"column '$c' not in ${df.columns.mkString(", ")}"))
    // metric aliases index by POSITION, not by column name: a column
    // named `a.b` would otherwise turn col("__nn_a.b") into a struct
    // field access
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(s"`$c`")).as(s"__nn_$i"),
        (if (exact) countDistinct(col(s"`$c`"))
         else approx_count_distinct(col(s"`$c`"), 0.02)).as(s"__nd_$i"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$i")).as("n_null"),
        col(s"__nd_$i").as("n_distinct"))
    }
    one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
  }

  /** k-anonymity audit over a quasi-identifier combination: every
    * equivalence class (distinct quasi-identifier tuple) with its size
    * and whether it meets the k threshold — the privacy gate a dataset
    * passes before leaving the warehouse (a class below k singles its
    * members out by the quasi-identifiers alone). One hash aggregation
    * keyed by the quasi-identifiers; null values form their own class
    * (a null segment is as identifying as any other value).
    *
    * Returns the quasi columns plus `(n: long, anonymous: boolean)`;
    * `anonymous = n >= k`. Suppression/generalization policy is the
    * caller's — the audit names the offending classes, which is the
    * operator-shaped part of the job. */
  def kAnonymity(df: DataFrame, quasi: Seq[String], k: Int): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k-anonymity needs k >= 2, got $k")
    quasi.foreach(c => require(df.columns.contains(c),
      s"column '$c' not in ${df.columns.mkString(", ")}"))
    df.groupBy(quasi.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("anonymous", col("n") >= k)
  }

  /** Distinct l-diversity audit — [[kAnonymity]]'s standard complement
    * (Machanavajjhala et al.): a class can be k-anonymous yet leak its
    * sensitive attribute when every member shares one value (the
    * homogeneity attack). Groups by the quasi tuple and counts the
    * DISTINCT sensitive values alongside the class size; `diverse =
    * n_sensitive >= l`. A null sensitive value counts as one more
    * distinct value (knowing "it is missing" is a disclosure like any
    * other), mirroring the null-segment stance of the k audit.
    * Returns the quasi columns plus `(n, n_sensitive, diverse)`.
    *
    * Scale shape: ONE aggregation keyed by the quasi tuple — the count
    * and the count-distinct share the scan (the distinct runs as the
    * standard two-phase partial aggregate, still one keyed shuffle). */
  def lDiversity(df: DataFrame, quasi: Seq[String], sensitive: String,
      l: Int): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l-diversity needs l >= 2, got $l")
    (quasi :+ sensitive).foreach(c => require(df.columns.contains(c),
      s"column '$c' not in ${df.columns.mkString(", ")}"))
    df.groupBy(quasi.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("n"),
        (countDistinct(col(s"`$sensitive`")) +
          max(when(col(s"`$sensitive`").isNull, 1L).otherwise(0L)))
          .as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= l)
  }

  /** t-closeness audit — the third rung of the privacy ladder after
    * [[kAnonymity]] and [[lDiversity]]: an l-diverse class still leaks
    * when its sensitive-value DISTRIBUTION diverges from the corpus's
    * (the skewness attack — "90% positive here vs 1% overall"). Per
    * quasi class, the total-variation distance between the class's
    * sensitive distribution and the global one:
    * `tvd = ½ Σ_v |p_class(v) − p_global(v)|`, `close = tvd <= t`.
    * Null sensitive values are a category of their own (the
    * [[lDiversity]] stance), compared null-safely throughout.
    *
    * Numerics: the inner sum is EXACT — Σ_v |cnt_v·N − gcnt_v·n| in
    * DECIMAL(38,0) over the (class × global-value) grid (longs would
    * overflow once n·N exceeds 2⁶³, which a 100 TB corpus reaches) —
    * and the only float op is the final division by 2·n·N, so the
    * statistic is order-independent and an oracle replays it
    * bit-for-bit (the micro-rank discipline applied to a statistic;
    * DuckDB carries the same sum in HUGEINT).
    *
    * Scale shape: ONE corpus aggregation (the (quasi, value) counts);
    * class sizes and the global value distribution both derive from
    * that keys-sized relation, and the grid join is keys-sized ×
    * values-sized — the corpus is never joined row-to-row. Returns
    * the quasi columns plus `(n, tvd, close)`. */
  def tCloseness(df: DataFrame, quasi: Seq[String], sensitive: String,
      t: Double): DataFrame = {
    require(t > 0 && t < 1, s"t-closeness needs 0 < t < 1, got $t")
    tClosenessFromCounts(classValueCounts(df, quasi, sensitive), quasi, t)
  }

  /** The per-(quasi class, sensitive value) count relation every
    * privacy rung derives from — ONE corpus aggregation; the result is
    * keys × values sized. Null values group as categories (SQL GROUP
    * BY semantics, the ladder's shared stance). */
  private def classValueCounts(df: DataFrame, quasi: Seq[String],
      sensitive: String): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    (quasi :+ sensitive).foreach(c => require(df.columns.contains(c),
      s"column '$c' not in ${df.columns.mkString(", ")}"))
    df.select(
        (quasi.map(c => col(s"`$c`")) :+ col(s"`$sensitive`").as("__v")): _*)
      .groupBy((quasi :+ "__v").map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /** [[tCloseness]] from a prebuilt [[classValueCounts]] relation — the
    * seam [[privacyReport]] uses to serve every rung from one corpus
    * pass. Backticked `__r_` references keep dotted quasi names safe
    * (the [[describe]] alias trap). */
  private def tClosenessFromCounts(cv: DataFrame, quasi: Seq[String],
      t: Double): DataFrame = {
    val classes = cv.groupBy(quasi.map(c => col(s"`$c`")): _*)
      .agg(sum("__c").as("n"))
    val gv = cv.groupBy(col("__v").as("__gv")).agg(sum("__c").as("__g"))
    val tot = gv.agg(sum("__g").as("__N"))
    val cvr = cv.select(
      (quasi.map(c => col(s"`$c`").as(s"__r_$c")) :+
        col("__v").as("__rv") :+ col("__c")): _*)
    val joinCond = (quasi.map(c => col(s"`$c`") <=> col(s"`__r_$c`")) :+
      (col("__gv") <=> col("__rv"))).reduce(_ && _)
    val grid = classes.crossJoin(broadcast(gv)).crossJoin(broadcast(tot))
      .join(cvr, joinCond, "left")
    val term = abs(
      coalesce(col("__c"), lit(0L)).cast("decimal(38,0)") * col("__N") -
        col("__g").cast("decimal(38,0)") * col("n"))
    grid.groupBy((quasi.map(c => col(s"`$c`")) :+ col("n") :+ col("__N")): _*)
      .agg(sum(term).as("__inner"))
      .select((quasi.map(c => col(s"`$c`")) :+ col("n") :+
        (col("__inner").cast("double") /
          (lit(2.0) * col("n") * col("__N"))).as("tvd")): _*)
      .withColumn("close", col("tvd") <= lit(t))
  }

  /** The composed privacy RELEASE GATE — all three ladder rungs in one
    * report: per quasi class, the k-anonymity verdict (class size ≥ k),
    * the l-diversity verdict (distinct sensitive values ≥ l), and the
    * t-closeness verdict (TVD vs the corpus distribution ≤ t), with
    * `release` true only when all three hold — the decision a dataset
    * actually needs before leaving the warehouse, under ONE oracle.
    *
    * ONE corpus aggregation total: the shared (quasi, value) count
    * relation is materialized keys-sized ([[Iterate.checkpoint]], the
    * graph-loop discipline) and every rung derives from it — class
    * size and distinct-sensitive count are per-class aggregates of the
    * counts; the TVD grid joins it null-safely (null quasi values form
    * real classes in every rung). */
  def privacyReport(df: DataFrame, quasi: Seq[String], sensitive: String,
      k: Int, l: Int, t: Double): DataFrame = {
    require(k >= 2, s"k-anonymity needs k >= 2, got $k")
    require(l >= 2, s"l-diversity needs l >= 2, got $l")
    require(t > 0 && t < 1, s"t-closeness needs 0 < t < 1, got $t")
    val cv = Iterate.checkpoint(classValueCounts(df, quasi, sensitive))
    // n = class size; n_sensitive = distinct sensitive values = one cv
    // row per value (null included) — [[lDiversity]]'s exact semantics
    val ld = cv.groupBy(quasi.map(c => col(s"`$c`")): _*)
      .agg(sum("__c").as("n"), count(lit(1)).as("n_sensitive"))
    val tcr = tClosenessFromCounts(cv, quasi, t).select(
      (quasi.map(c => col(s"`$c`").as(s"__r_$c")) :+
        col("tvd") :+ col("close")): _*)
    val cond = quasi.map(c => col(s"`$c`") <=> col(s"`__r_$c`")).reduce(_ && _)
    ld.join(tcr, cond)
      .select((quasi.map(c => col(s"`$c`")) :+
        col("n") :+ (col("n") >= k).as("anonymous") :+
        col("n_sensitive") :+ (col("n_sensitive") >= l).as("diverse") :+
        col("tvd") :+ col("close")): _*)
      .withColumn("release",
        col("anonymous") && col("diverse") && col("close"))
  }

  /** Generalize-and-recheck k-anonymity REPAIR — what [[kAnonymity]]
    * (the audit) deliberately leaves to the caller, composed from the
    * two existing operators: numeric quasi-identifiers generalize by
    * [[Features.equiDepthBins]] on a halving ladder (startBins → … → 2
    * → 1, where 1 is full suppression to a constant), and each rung
    * re-audits until every equivalence class reaches k. This is the
    * standard domain-generalization-hierarchy loop with equi-depth
    * buckets as the numeric hierarchy.
    *
    * Scale shape: each rung is one percentile aggregate (nBins−1
    * broadcast doubles — the equiDepthBins mechanism, never a corpus
    * sort), the map-only bin projection, and ONE audit aggregation
    * keyed by the quasi tuple; the only driver traffic is the per-rung
    * min-class-size scalar (the connected-components `changed` pattern).
    * The ladder is O(log startBins) rungs and usually stops on the
    * first.
    *
    * Deterministic and oracle-replayable: the rung chosen is "the first
    * ladder level whose min class size ≥ k", which a relational oracle
    * reproduces by computing every level and selecting — the same
    * answer the sequential early-exit loop produces (q_v8 pins it).
    *
    * Returns the CLASS-level result: `catQuasi…, <num>_bin…, n,
    * anonymous, bins_used` — `bins_used` pins which rung was published.
    * If even full suppression leaves a class below k (the categorical
    * quasi combination is itself too identifying), the bins_used=1
    * audit returns with `anonymous = false` rows — an honest failed
    * audit, not an exception. The row-level publishable artifact is one
    * more map-only `equiDepthBins(df, c, bins_used)` call. */
  def kAnonymize(df: DataFrame, catQuasi: Seq[String], numQuasi: Seq[String],
      k: Int, startBins: Int = 8): DataFrame = {
    require(k >= 2, s"k-anonymity needs k >= 2, got $k")
    require(numQuasi.nonEmpty,
      "need at least one numeric quasi-identifier to generalize")
    require(startBins >= 2 && Integer.bitCount(startBins) == 1,
      s"startBins must be a power of two >= 2, got $startBins")
    (catQuasi ++ numQuasi).foreach(c => require(df.columns.contains(c),
      s"column '$c' not in ${df.columns.mkString(", ")}"))
    val ladder = Iterator.iterate(startBins)(_ / 2).takeWhile(_ >= 1).toSeq
    var out: DataFrame = null
    for (bins <- ladder if out == null) {
      val gen =
        if (bins >= 2)
          numQuasi.foldLeft(df)((acc, c) => Features.equiDepthBins(acc, c, bins))
        else
          // full suppression: every non-null value collapses to one
          // bucket (nulls keep their own class, as in equiDepthBins)
          numQuasi.foldLeft(df)((acc, c) => acc.withColumn(s"${c}_bin",
            when(col(s"`$c`").isNotNull, 0).cast("int")))
      val audit = kAnonymity(gen, catQuasi ++ numQuasi.map(c => s"${c}_bin"), k)
      val minN = audit.agg(coalesce(min(col("n")), lit(Long.MaxValue)))
        .first().getLong(0)
      if (minN >= k || bins == 1)
        out = audit.withColumn("bins_used", lit(bins))
    }
    out
  }

  /** Pairwise Pearson correlation matrix over numeric columns, computed
    * in ONE aggregation job (all m·(m−1)/2 `corr` aggregates share the
    * single scan — the [[describe]] discipline), then unpivoted to long
    * form. Rounded to 6 dp: `corr`'s running-moment accumulation is
    * order-sensitive in the last ulps, and 6 dp is far above any
    * partition-order wobble while far below signal.
    *
    * Returns `(col_a, col_b, corr_r: double)` for a < b in the given
    * order; a constant column yields null correlations. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.length >= 2, s"need at least two columns, got $cols")
    require(cols.distinct.size == cols.size, s"duplicate columns: $cols")
    cols.foreach(c => require(df.columns.contains(c),
      s"column '$c' not in ${df.columns.mkString(", ")}"))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    // corr composed from covar_samp / stddev_samp (identical co-moment
    // accumulation) rather than corr(): under ANSI mode Spark's corr
    // THROWS DIVIDE_BY_ZERO on a zero-variance column, where the null
    // answer is the useful one (and DuckDB's). Stddevs aggregate once
    // per column, covariances once per pair — still one job.
    val aggs =
      cols.indices.map(i => stddev_samp(col(s"`${cols(i)}`")).as(s"__s_$i")) ++
      pairs.map { case (i, j) =>
        covar_samp(col(s"`${cols(i)}`"), col(s"`${cols(j)}`")).as(s"__v_${i}_$j")
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (i, j) =>
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        round(when(col(s"__s_$i") > 0 && col(s"__s_$j") > 0,
          col(s"__v_${i}_$j") / (col(s"__s_$i") * col(s"__s_$j"))), 6)
          .as("corr_r"))
    }
    one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
  }

  /** Persist per-key HLL distinct-count sketches (DataSketches, the
    * Spark-native `hll_sketch_agg`) for one batch — the MERGEABLE
    * counterpart of an exact `count_distinct`: each nightly batch
    * aggregates its own sketch relation (keys-sized, a few KB per key at
    * lgK=12 / ±~1.6%) and appends it; cross-batch distinct counts then
    * come from unioning the stored sketches WITHOUT ever rescanning the
    * raw data — exact distinct counts cannot be combined this way at
    * all (|A ∪ B| ≠ |A| + |B|). Completes the nightly-persistence set
    * (dedup signatures, BM25 postings, ANN centroids) with the metric
    * store. Append-mode parquet: a batch never rewrites history. */
  def appendDistinctSketches(df: DataFrame, keys: Seq[String],
      valueCol: String, path: String, lgK: Int = 12): Unit = {
    require(keys.nonEmpty, "need at least one key column")
    df.groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(hll_sketch_agg(col(s"`$valueCol`"), lgK).as("sketch"))
      .write.mode("append").parquet(path)
  }

  /** Key-skew profile — the measurement that decides whether a join or
    * aggregation key needs salting ([[Skew]]) BEFORE a 100 TB job
    * discovers it the expensive way: one hash aggregation to per-key
    * counts (map-side combined — the only pass over the data), then one
    * tiny aggregation over the KEYS-sized count relation. Returns a
    * single row: `n_rows, n_keys, max_n, p50_n, p99_n, skew_ratio`
    * (max over median — the heuristic trigger; > ~20 on a big key space
    * usually means salt). Exact interpolated percentiles over the
    * count relation (keys-sized, so exactness is affordable where it
    * wouldn't be over rows); everything rounds to 6 dp for oracle
    * replay. Null keys count as a real key (they're usually the skew). */
  def keySkew(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    keys.foreach(c => require(df.columns.contains(c),
      s"column '$c' not in ${df.columns.mkString(", ")}"))
    df.groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("__n")).as("max_n"),
        round(expr("percentile(__n, 0.5)"), 6).as("p50_n"),
        round(expr("percentile(__n, 0.99)"), 6).as("p99_n"))
      .withColumn("skew_ratio",
        round(col("max_n").cast("double") / col("p50_n"), 6))
  }

  /** Append a tagged THETA sketch of `valueCol`'s distinct members —
    * the SET-OPERATION counterpart of [[appendDistinctSketches]]'s HLL
    * store: theta sketches support intersection and difference, not
    * just union, so CROSS-CORPUS overlap ("how much of the new crawl is
    * already in the training set" — the decontamination-planning
    * question) is answered from two stored sketches WITHOUT ever
    * joining the corpora. Each call lands one `(tag, sketch)` row;
    * append-mode parquet, a batch never rewrites history. `lgNomEntries`
    * = log2 nominal entries (default 12 → 4096 retained hashes, ~1.6%
    * relative standard error above that cardinality, EXACT below it). */
  def appendSetSketch(df: DataFrame, tag: String, valueCol: String,
      path: String, lgNomEntries: Int = 12): Unit =
    df.agg(expr(s"theta_sketch_agg(`$valueCol`, $lgNomEntries)").as("sketch"))
      .select(lit(tag).as("tag"), col("sketch"))
      .write.mode("append").parquet(path)

  /** Overlap estimates between two tagged sketch sets in a store written
    * by [[appendSetSketch]]: each tag's batches first union into one
    * sketch (`theta_union_agg` — so a tag may have appended any number
    * of nightly batches), then one row reports |A|, |B|, |A∩B|, |A∪B|
    * and |A∖B| estimates. The store scan is sketches-sized; the raw
    * corpora are never touched. */
  def overlapFromSketches(spark: org.apache.spark.sql.SparkSession,
      path: String, tagA: String, tagB: String): DataFrame = {
    val merged = spark.read.parquet(path)
      .filter(col("tag").isin(tagA, tagB))
      .groupBy(col("tag"))
      .agg(expr("theta_union_agg(sketch)").as("sketch"))
    merged.filter(col("tag") === tagA).select(col("sketch").as("sa"))
      .crossJoin(merged.filter(col("tag") === tagB).select(col("sketch").as("sb")))
      .select(
        expr("theta_sketch_estimate(sa)").as("n_a_est"),
        expr("theta_sketch_estimate(sb)").as("n_b_est"),
        expr("theta_sketch_estimate(theta_intersection(sa, sb))").as("n_and_est"),
        expr("theta_sketch_estimate(theta_union(sa, sb))").as("n_or_est"),
        expr("theta_sketch_estimate(theta_difference(sa, sb))").as("n_a_only_est"))
  }

  /** Append per-key KLL quantile sketches of a DOUBLE column — the
    * MERGEABLE percentile store: exact percentiles cannot be combined
    * across batches (the q_a8 rows-only gap), KLL sketches can
    * (`kll_sketch_merge` is lossless in the error bound), so nightly
    * batches append keys-sized sketch relations and any later quantile
    * query merges the store without rescanning raw data. `k` bounds the
    * sketch size AND the normalized rank error (~1.65% at the default
    * 200; 800 → ~0.4%). */
  def appendQuantileSketches(df: DataFrame, keys: Seq[String],
      valueCol: String, path: String, k: Int = 800): Unit = {
    require(keys.nonEmpty, "need at least one key column")
    df.groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(expr(s"kll_sketch_agg_double(CAST(`$valueCol` AS DOUBLE), $k)")
        .as("sketch"))
      .write.mode("append").parquet(path)
  }

  /** Per-key quantile estimates from a KLL store written by
    * [[appendQuantileSketches]]: one keys-sized merge aggregation over
    * the store, then `kll_sketch_get_quantile` per requested p. Returns
    * the key columns plus `q_<p·100> : double` per percentile. */
  def quantilesFromSketches(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: Seq[String], ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"percentiles must be in (0, 1), got $ps")
    val qs = ps.map(p =>
      expr(s"kll_sketch_get_quantile_double(merged, CAST($p AS DOUBLE))")
        .as(s"q_${math.round(p * 100)}"))
    spark.read.parquet(path)
      .groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(expr("kll_merge_agg_double(sketch)").as("merged"))
      .select(keys.map(c => col(s"`$c`")) ++ qs: _*)
  }

  /** Distinct-count estimates per key from a sketch store written by
    * [[appendDistinctSketches]] across any number of batches: one
    * keys-sized aggregation over the store (`hll_union_agg` is a
    * register-wise max — order-independent, so estimates are
    * deterministic however batches landed). Returns the key columns plus
    * `n_distinct_est: long`. */
  def distinctFromSketches(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(keys.map(c => col(s"`$c`")): _*)
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sketch"), lit(true))).as("n_distinct_est"))

  /** The count-min bucket for hash row `d` of value `v` — 15 hex chars
    * of md5 (60 bits, always a non-negative BIGINT in both engines) mod
    * `width`. One md5 per (depth, value); a relational oracle computes
    * the identical bucket (`CAST('0x' || substr(md5(…),1,15) AS BIGINT)
    * % w`), which is what makes the whole sketch engine-replayable. */
  private def cmsBucket(d: Column, v: Column, width: Int): Column =
    conv(substring(md5(concat_ws("|", d, v)), 1, 15), 16, 10)
      .cast("long") % width

  /** Append one batch's COUNT-MIN sketch of `valueCol` — the mergeable
    * FREQUENCY store completing the sketch-store family (bloom:
    * membership, HLL: distinct, theta: set overlap, KLL: quantiles,
    * frequent-items: heavy hitters; count-min: point frequency of ANY
    * key, not just the heavy ones). Unlike the DataSketches-backed
    * stores, this sketch is RELATIONAL: the depth×width counter matrix
    * is stored as `(d, idx, cnt)` rows (≤ depth·width per batch, a few
    * KB), built by one hash aggregation over the batch, and batches
    * merge by plain `SUM` — counters are exact integers, so the merge
    * is associative and order-independent by construction. Because the
    * bucket hash is md5-derived (not a private seeded hash family), a
    * relational oracle replays the ENTIRE sketch bit-for-bit — the
    * estimates themselves sit under the full rows+schema+hash check,
    * strictly stronger than the bounded-error-verdict discipline the
    * opaque-binary stores need (q_v7).
    *
    * Standard CMS contract (Cormode & Muthukrishnan 2005): estimates
    * never undercount; with prob ≥ 1−e^−depth each estimate overcounts
    * by ≤ (e/width)·N (N = total values appended). Geometry
    * (depth, width) is the caller's cross-batch contract, like lgK for
    * the HLL store. Nulls are skipped (they are not a countable key). */
  def appendCountMinSketch(df: DataFrame, valueCol: String, path: String,
      depth: Int = 4, width: Int = 256): Unit = {
    require(depth >= 1 && depth <= 16, s"need 1 <= depth <= 16, got $depth")
    require(width >= 2, s"need width >= 2, got $width")
    df.select(col(s"`$valueCol`").cast("string").as("__v"))
      .filter(col("__v").isNotNull)
      .select(explode(sequence(lit(1), lit(depth))).as("d"), col("__v"))
      .groupBy(col("d"), cmsBucket(col("d"), col("__v"), width).as("idx"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode("append").parquet(path)
  }

  /** Point-frequency estimates for `queries`' `queryCol` values from a
    * count-min store written by [[appendCountMinSketch]] (same
    * depth/width): one sketch-sized merge aggregation over the store
    * (≤ depth·width rows however many batches landed), broadcast
    * against the query keys, estimate = MIN over the depth rows — the
    * raw data is never rescanned. A key that hashed to never-written
    * buckets estimates 0 (exact for anything truly absent). Returns
    * `(key, n_est)` over the DISTINCT query keys. */
  def countsFromCmsSketch(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryCol: String,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val merged = spark.read.parquet(path)
      .groupBy(col("d"), col("idx")).agg(sum("cnt").as("cnt"))
    val probes = queries.select(col(s"`$queryCol`").cast("string").as("key"))
      .filter(col("key").isNotNull).distinct()
      .select(col("key"), explode(sequence(lit(1), lit(depth))).as("d"))
      .withColumn("idx", cmsBucket(col("d"), col("key"), width))
    probes.join(broadcast(merged), Seq("d", "idx"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
  }

  /** Declarative data-quality expectation suite (the Deequ / dbt-test
    * surface): a list of column rules verified in ONE aggregation pass
    * over the relation, each producing `(check_id, column, rule,
    * n_violations, passed)` — the publish gate a pipeline asserts on
    * before promoting a dataset, as data, so the verdicts join into
    * run manifests and drift dashboards like any other relation.
    *
    * Rules: `not_null`, `unique` (violations = non-null rows minus
    * non-null distinct — nulls are a completeness concern, not a
    * uniqueness one), `in_range(lo, hi)` (inclusive, null passes —
    * compose with not_null to forbid), `matches(regex)` (null passes),
    * `accepted_values(set)` (null passes). Every rule compiles to a
    * conditional count inside the SAME aggregate, so the relation scans
    * once however many expectations are declared; the one result row
    * explodes into the per-check relation map-side. All counts are
    * exact integers — trivially oracle-replayable. */
  sealed trait Expectation { def column: String; def rule: String }
  final case class NotNull(column: String) extends Expectation {
    val rule = "not_null"
  }
  final case class Unique(column: String) extends Expectation {
    val rule = "unique"
  }
  final case class InRange(column: String, lo: Double, hi: Double)
      extends Expectation {
    val rule = s"in_range($lo,$hi)"
  }
  final case class MatchesRegex(column: String, pattern: String)
      extends Expectation {
    val rule = s"matches($pattern)"
  }
  final case class AcceptedValues(column: String, values: Seq[String])
      extends Expectation {
    val rule = s"accepted_values(${values.mkString("|")})"
  }

  def expectations(df: DataFrame, specs: Seq[Expectation]): DataFrame = {
    require(specs.nonEmpty, "need at least one expectation")
    specs.foreach(e => require(df.columns.contains(e.column),
      s"expectation on unknown column '${e.column}'"))
    def violations(e: Expectation): Column = e match {
      case NotNull(c) =>
        sum(when(col(c).isNull, 1L).otherwise(0L))
      case Unique(c) =>
        count(col(c)) - countDistinct(col(c))
      case InRange(c, lo, hi) =>
        sum(when(col(c).isNotNull &&
          (col(c) < lit(lo) || col(c) > lit(hi)), 1L).otherwise(0L))
      case MatchesRegex(c, p) =>
        sum(when(col(c).isNotNull && !col(c).rlike(p), 1L).otherwise(0L))
      case AcceptedValues(c, vs) =>
        sum(when(col(c).isNotNull && !col(c).isin(vs: _*), 1L)
          .otherwise(0L))
    }
    val aggs = specs.zipWithIndex.map { case (e, i) =>
      coalesce(violations(e), lit(0L)).as(s"__v$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val checks = specs.zipWithIndex.map { case (e, i) =>
      struct(lit(i + 1).as("check_id"), lit(e.column).as("column"),
        lit(e.rule).as("rule"), col(s"__v$i").as("n_violations"))
    }
    one.select(explode(array(checks: _*)).as("c"))
      .select(col("c.check_id"), col("c.column"), col("c.rule"),
        col("c.n_violations"),
        (col("c.n_violations") === 0L).as("passed"))
  }

  /** Benford's-law first-digit audit — the forensic data-quality screen
    * (fabricated, truncated, or unit-mixed numeric columns drift from
    * the log distribution of naturally-occurring magnitudes): counts
    * per leading digit of `floor(value)` for values ≥ 1 (floor on BOTH
    * engines — a raw double→int cast truncates in Spark but rounds in
    * SQL engines, flipping the digit at magnitude boundaries), observed
    * shares as half-up ppm, and the Benford expectation
    * `log10(1 + 1/d)` inlined as CONSTANT micros so no cross-engine
    * log10 is ever evaluated. The 9-row digit grid is complete — a
    * digit that never occurs shows n = 0 (a strong Benford signal in
    * itself), never a missing row. Returns `(digit, n, observed_ppm,
    * expected_ppm, deviation_ppm)`. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val expectedPpm = (1 to 9).map(d =>
      d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6)).toMap
    val digits = df
      .where(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(count(lit(1)).as("total"))
    val expected = (1 to 9).map(d =>
      when(col("digit") === d, lit(expectedPpm(d)))).reduce(coalesce(_, _))
    df.sparkSession.range(1, 10).select(col("id").cast("int").as("digit"))
      .join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("total"))
      .withColumn("observed_ppm",
        when(col("total") > 0,
          expr("(2 * n * 1000000 + total) div (2 * total)"))
          .otherwise(lit(0L)))
      .withColumn("expected_ppm", expected.cast("long"))
      .select(col("digit"), col("n"), col("observed_ppm"),
        col("expected_ppm"),
        (col("observed_ppm") - col("expected_ppm")).as("deviation_ppm"))
  }

  /** Differentially-private histogram release (the Laplace mechanism,
    * Dwork et al. 2006) — the last rung of the privacy ladder after
    * k-anonymity/l-diversity/t-closeness: per-group counts with
    * Laplace(Δ/ε) noise, Δ = 1 for disjoint-group counting queries.
    *
    * Noise is DETERMINISTIC-SEEDED: u16 = first 16 bits of
    * md5(salt|group) maps through the Laplace inverse CDF
    * (−b·sgn(u−½)·ln(1−2|u−½|), u = (u16+½)/65536 — never 0 or 1, so
    * ln's argument stays in (0,1]). Per release the noise is exactly
    * Laplace-shaped across groups and reproducible — the audit/replay
    * mode a regulated pipeline wants; a NEW salt per release restores
    * the fresh-draw contract (reusing one salt across releases answers
    * the same query twice for free, which DP accounting must not do —
    * caller owns the budget ledger, the knob is explicit). The noisy
    * count rounds to 6 dp (ln is the one libm call, the exp/ln oracle
    * precedent); `released` clamps to a non-negative integer (standard
    * post-processing, DP-safe). Emits the true count too — this is a
    * library stage, the caller projects it away at the release boundary.
    * Scale: one hash aggregate + map-only noise, groups-sized output. */
  def dpCounts(df: DataFrame, groupCols: Seq[String], epsilonMicros: Long,
      salt: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(epsilonMicros > 0, s"epsilon must be positive micros, got $epsilonMicros")
    val key = concat_ws("|", groupCols.map(col): _*)
    val u16 = conv(substring(md5(concat(lit(s"$salt|"), key)), 1, 4), 16, 10)
      .cast("long")
    val u = (u16.cast("double") + 0.5) / 65536.0
    val b = 1e6 / epsilonMicros.toDouble
    val noise = round(
      -lit(b) * signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 6)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("noise", noise)
      .withColumn("released",
        greatest(round(col("n") + col("noise")).cast("long"), lit(0L)))
  }

  /** Population Stability Index (the model-monitoring drift standard —
    * banking scorecards, feature monitors): bin a numeric column by the
    * BASELINE's equi-depth cuts ([[graft.operators.Features
    * .equiDepthBins]]'s exact-percentile rule — cuts come from the
    * snapshot you compare AGAINST, never from the drifting batch), then
    * per bin `psi_c = (p − q)·ln(p/q)` with base share p and current
    * share q, zero shares floored at 1e-6 (the standard PSI convention —
    * an empty bin is evidence, not a division error). Each contribution
    * rounds to 6 dp (the pplCore ln discipline; DOUBLE at the output
    * boundary, the house convention), so the total is
    * an exact sum of replayable terms; rule of thumb: Σ < 0.1 stable,
    * 0.1–0.25 moderate, > 0.25 action. Null values are excluded on both
    * sides (count them upstream). Returns one row per bin 0..nBins−1
    * (a bins SPINE — bins empty on both sides still surface):
    * `(bin, base_n, cur_n, psi_c)`. Scale: one percentile pass over the
    * baseline, two map-only binning passes + two bins-sized aggregates,
    * a broadcast 1-row cut relation. Streaming twin: freeze the cuts
    * once with [[psiCuts]], accumulate the live side's bin counters
    * with [[graft.streaming.EventStreams.binCountState]], and derive
    * the identical numbers through [[psiFromCounts]]. */
  def psiDrift(base: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"need 2 <= nBins <= 1000, got $nBins")
    val cuts = base.select(
      (1 until nBins).map(i =>
        round(expr(s"percentile(`$valueCol`, ${i.toDouble / nBins})"), 6)
          .as(s"__b$i")): _*)
    def binned(df: DataFrame): DataFrame = {
      val bin = (1 until nBins)
        .map(i => when(col(valueCol) > col(s"__b$i"), 1).otherwise(0))
        .reduce(_ + _)
      df.filter(col(valueCol).isNotNull)
        .crossJoin(broadcast(cuts))
        .select(bin.as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    }
    psiFromCounts(binned(base), binned(cur), nBins)
  }

  /** The baseline's equi-depth cuts as driver-side LITERALS — the
    * bounded-driver-read half of the [[psiDrift]] split (nBins − 1
    * doubles, dimension-table-sized by contract: the documented
    * bounded-read discipline). A STREAMING monitor needs the cuts as
    * values, not a plan (the state store bins arriving rows against a
    * frozen baseline snapshot); batch [[psiDrift]] keeps them in-plan
    * and never reads the driver. Baseline must hold at least one
    * non-null value — cuts over nothing are not a baseline. */
  def psiCuts(base: DataFrame, valueCol: String, nBins: Int): Seq[Double] = {
    require(nBins >= 2 && nBins <= 1000, s"need 2 <= nBins <= 1000, got $nBins")
    val row = base.select(
      (1 until nBins).map(i =>
        round(expr(s"percentile(`$valueCol`, ${i.toDouble / nBins})"), 6)
          .as(s"__b$i")): _*).head()
    require(!row.isNullAt(0),
      s"psiCuts: baseline has no non-null `$valueCol` values — an empty " +
        "baseline defines no bins")
    (0 until nBins - 1).map(row.getDouble)
  }

  /** Batch bin counts by LITERAL cuts — [[psiDrift]]'s binning rule
    * (count of cuts strictly below the value) applied map-only against
    * a [[psiCuts]] snapshot, one bins-sized hash aggregate. This is the
    * arithmetic the streaming twin
    * ([[graft.streaming.EventStreams.binCountState]]) accumulates
    * incrementally; feed both sides through [[psiFromCounts]]. Null
    * values are excluded exactly as in [[psiDrift]]. */
  def psiBinCounts(df: DataFrame, valueCol: String,
      cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty, "psiBinCounts needs at least one cut")
    val bin = cuts.map(c => when(col(valueCol) > lit(c), 1).otherwise(0))
      .reduce(_ + _)
    df.filter(col(valueCol).isNotNull)
      .select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
  }

  /** [[psiDrift]]'s derivation half, split out so STREAMED per-bin
    * counters ([[graft.streaming.EventStreams.binCountState]] — the
    * live batch is exactly the side that ARRIVES as a stream) feed the
    * IDENTICAL spine / floor / `(p − q)·ln(p/q)` arithmetic the batch
    * operator runs: both inputs are `(bin, n)` relations (bins-sized);
    * same output contract as [[psiDrift]] — one row per bin 0..nBins−1
    * with `(bin, base_n, cur_n, psi_c)`, contributions rounded to
    * 6 dp. The parity spec derives the batch drift numbers from the
    * streamed state bit-for-bit at every batch split. */
  def psiFromCounts(baseCounts: DataFrame, curCounts: DataFrame,
      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"need 2 <= nBins <= 1000, got $nBins")
    val sp = baseCounts.sparkSession
    import sp.implicits._
    val spine = (0 until nBins).toDF("bin")
    val joined = spine
      .join(baseCounts.select(col("bin"), col("n").as("base_n")),
        Seq("bin"), "left")
      .join(curCounts.select(col("bin"), col("n").as("cur_n")),
        Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    // totals are bins-sized aggregates inlined via a 1-row broadcast
    val tot = joined.agg(sum(col("base_n")).as("__bt"),
      sum(col("cur_n")).as("__ct"))
    joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("base_n"), col("cur_n"),
        round((greatest(col("base_n") / col("__bt"), lit(1e-6)) -
          greatest(col("cur_n") / col("__ct"), lit(1e-6))) *
          log(greatest(col("base_n") / col("__bt"), lit(1e-6)) /
            greatest(col("cur_n") / col("__ct"), lit(1e-6))), 6)
          .as("psi_c"))
  }

  /** Calibration audit (the ECE decomposition, Guo et al. 2017) for any
    * probabilistic gate — "when the quality classifier says 0.9, is it
    * right 90% of the time?": scores arrive as MICROS of probability
    * (0..1e6 — quantize upstream; a classifier whose scores aren't
    * probabilities has no business in a calibration audit), bin into
    * `bins` equal-width confidence buckets (the top edge closes into
    * the last bin), and per bin report the count, the exact mean
    * confidence (half-up micros of the score sum), the exact accuracy
    * (half-up ppm of positives), and the |acc − conf| calibration gap —
    * ECE is the count-weighted mean of the gaps, left to the caller
    * (the per-bin relation is the diagnostic; reliability diagrams plot
    * it directly). A bins SPINE keeps empty bins visible (their gap is
    * null — no evidence is not perfect calibration). Null scores or
    * labels are unauditable — excluded; count them upstream. All
    * integer arithmetic in DECIMAL(38,0). One hash aggregate. */
  def calibrationBins(df: DataFrame, scoreMicrosCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"need 2 <= bins <= 1000, got $bins")
    val sp = df.sparkSession
    import sp.implicits._
    val scored = df
      .filter(col(scoreMicrosCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreMicrosCol).cast("long").as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
      .select(when(col("__s").between(0L, 1000000L), col("__s"))
        .otherwise(raise_error(concat(lit("calibrationBins: score "),
          col("__s").cast("string"),
          lit(" outside [0, 1e6] micros — not a probability")))
          .cast("long")).as("__s"), col("__y"))
      .select(expr(s"CAST(least((__s * $bins) div 1000000, ${bins - 1}) " +
        "AS INT)").as("bin"), col("__s"), col("__y"))
    val per = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__s")).as("__ss"), sum(col("__y")).as("__pos"))
      .select(col("bin"), col("n"),
        expr("(2 * CAST(__ss AS DECIMAL(38,0)) + n) div (2 * n)")
          .as("mean_conf_micros"),
        expr("(2 * CAST(__pos AS DECIMAL(38,0)) * 1000000 + n) div (2 * n)")
          .as("acc_ppm"))
    (0 until bins).toDF("bin")
      .join(per, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"),
        col("mean_conf_micros"), col("acc_ppm"),
        abs(col("acc_ppm") - col("mean_conf_micros")).as("gap_ppm"))
  }

  /** Expected calibration error — [[calibrationBins]] rolled up to the
    * two numbers a model card publishes (Guo et al. 2017): ECE = the
    * n-weighted mean of per-bin |accuracy − confidence| gaps, MCE = the
    * worst bin's gap. Derivation is exact off the bins relation (each
    * bin's gap_ppm is already the half-up integer the oracle replays;
    * the weighting is one cross-multiplied DECIMAL(38,0) rational,
    * half-up to ppm) — empty bins contribute no weight. One hash
    * aggregation over ≤ `bins` rows on top of calibrationBins' one
    * corpus pass. Returns ONE row
    * `(n, n_bins_used, ece_ppm, mce_ppm)`. */
  def expectedCalibrationError(df: DataFrame, scoreMicrosCol: String,
      labelCol: String, bins: Int = 10): DataFrame =
    calibrationBins(df, scoreMicrosCol, labelCol, bins)
      .filter(col("n") > 0)
      .agg(sum(col("n")).as("n"),
        count(lit(1)).as("n_bins_used"),
        expr("CAST((2 * SUM(CAST(n AS DECIMAL(38,0)) * gap_ppm) " +
          "+ SUM(n)) div (2 * SUM(n)) AS BIGINT)").as("ece_ppm"),
        max(col("gap_ppm")).as("mce_ppm"))

  /** Brier score — the proper scoring rule next to [[calibrationBins]]'
    * reliability diagram (Brier 1950; the number that penalizes BOTH
    * miscalibration and low resolution, where ECE sees only the
    * former): mean (p − y)² over probability scores in micros. Exact
    * integer arithmetic end to end — (p_micros − y·1e6)² sums in
    * DECIMAL(38,0), the mean is one half-up division, reported in
    * MICROS of Brier (0 perfect, 1e6 = always-certain-always-wrong).
    * Same [0, 1e6] score contract as calibrationBins (in-plan raise
    * outside it); null score/label rows excluded. ONE aggregation.
    * Returns one row `(n, brier_micros)`. */
  def brierScore(df: DataFrame, scoreMicrosCol: String,
      labelCol: String): DataFrame = {
    val scored = df
      .filter(col(scoreMicrosCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreMicrosCol).cast("long").as("__s"),
        when(col(labelCol).cast("boolean"), 1000000L).otherwise(0L)
          .as("__y"))
      .select(when(col("__s").between(0L, 1000000L), col("__s"))
        .otherwise(raise_error(concat(lit("brierScore: score "),
          col("__s").cast("string"),
          lit(" outside [0, 1e6] micros — not a probability")))
          .cast("long")).as("__s"), col("__y"))
    scored.agg(count(lit(1)).as("n"),
      expr("CAST((2 * SUM(CAST((__s - __y) AS DECIMAL(38,0)) " +
        "* (__s - __y)) + 1000000 * COUNT(1)) " +
        "div (2 * 1000000 * COUNT(1)) AS BIGINT)").as("brier_micros"))
  }

  /** Multi-class confusion statistics — the per-class
    * precision/recall/F1 table plus macro/micro roll-ups every
    * classifier eval publishes (the numbers [[binaryEval]]'s
    * threshold-free AUC deliberately is not): per class `c`, tp =
    * predictions of `c` that are `c`, fp = predictions of `c` that
    * aren't, fn = golds of `c` predicted otherwise, then half-up ppm
    * precision tp/(tp+fp), recall tp/(tp+fn), and F1 as the exact
    * cross-multiplied rational 2·tp / (2·tp + fp + fn) (algebraically
    * the harmonic mean, no intermediate rounding). The roll-up row
    * (`class` = '<all>') carries accuracy (= micro-F1 when every item
    * has one gold and one prediction) in the precision/recall/f1
    * columns and corpus totals in tp (correct), fp and fn (both =
    * errors). Classes with no predictions or no golds still get rows
    * (their zero denominators surface as null ppm — undefined, not 0).
    * Null pred/gold rows are excluded; count them upstream.
    *
    * Scale shape: ONE (pred, gold)-grain hash aggregation over the
    * corpus, then class-keyed roll-ups over the classes²-bounded cell
    * relation. Returns `(class, tp, fp, fn, precision_ppm, recall_ppm,
    * f1_ppm)` — one row per class, plus '<all>' (micro/accuracy) and
    * '<macro>' (unweighted class means, undefined-as-0 — the sklearn
    * zero_division convention) roll-up rows. */
  def confusionStats(df: DataFrame, predCol: String,
      goldCol: String): DataFrame = {
    val cells = Iterate.checkpoint(df
      .filter(col(predCol).isNotNull && col(goldCol).isNotNull)
      .select(col(predCol).cast("string").as("__p"),
        col(goldCol).cast("string").as("__g"))
      .groupBy(col("__p"), col("__g")).agg(count(lit(1)).as("__n")))
    val classes = cells.select(col("__p").as("class"))
      .unionAll(cells.select(col("__g").as("class"))).distinct()
    val tp = cells.filter(col("__p") === col("__g"))
      .select(col("__p").as("class"), col("__n").as("tp"))
    val predTot = cells.groupBy(col("__p").as("class"))
      .agg(sum(col("__n")).as("__pt"))
    val goldTot = cells.groupBy(col("__g").as("class"))
      .agg(sum(col("__n")).as("__gt"))
    val per = classes
      .join(tp, Seq("class"), "left")
      .join(predTot, Seq("class"), "left")
      .join(goldTot, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("__pt"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("__gt"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .select(col("class"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0, expr(
          "(2 * tp * 1000000 + (tp + fp)) div (2 * (tp + fp))"))
          .as("precision_ppm"),
        when(col("tp") + col("fn") > 0, expr(
          "(2 * tp * 1000000 + (tp + fn)) div (2 * (tp + fn))"))
          .as("recall_ppm"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0, expr(
          "(2 * (2 * tp) * 1000000 + (2 * tp + fp + fn)) " +
            "div (2 * (2 * tp + fp + fn))")).as("f1_ppm"))
    val all = per.agg(sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
        sum(col("fn")).as("fn"))
      .select(lit("<all>").as("class"), col("tp"), col("fp"), col("fn"),
        expr("(2 * tp * 1000000 + (tp + fp)) div (2 * (tp + fp))")
          .as("precision_ppm"),
        expr("(2 * tp * 1000000 + (tp + fn)) div (2 * (tp + fn))")
          .as("recall_ppm"),
        expr("(2 * tp * 1000000 + (tp + fp)) div (2 * (tp + fp))")
          .as("f1_ppm"))
    // macro row: unweighted class means; an undefined per-class ppm
    // counts as 0 (the sklearn zero_division convention) so a class
    // that is never predicted drags the macro down, as it should
    val macroRow = per.agg(count(lit(1)).as("__nc"),
        sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
        sum(col("fn")).as("fn"),
        sum(coalesce(col("precision_ppm"), lit(0L))).as("__sp"),
        sum(coalesce(col("recall_ppm"), lit(0L))).as("__sr"),
        sum(coalesce(col("f1_ppm"), lit(0L))).as("__sf"))
      .select(lit("<macro>").as("class"), col("tp"), col("fp"), col("fn"),
        expr("(2 * __sp + __nc) div (2 * __nc)").as("precision_ppm"),
        expr("(2 * __sr + __nc) div (2 * __nc)").as("recall_ppm"),
        expr("(2 * __sf + __nc) div (2 * __nc)").as("f1_ppm"))
    per.unionAll(all).unionAll(macroRow)
  }

  /** Cumulative Poisson(1) CDF thresholds scaled to the u32 space —
    * `floor(P(X ≤ k) · 2³²)` for k = 0..max, computed ONCE in driver
    * Scala and inlined as integer literals into both the Spark plan and
    * the oracle SQL (the [[graft.operators.Similarity.ndcgDiscountsM]]
    * shared-constant discipline): the bootstrap weight is then a pure
    * integer compare of an md5-derived u32 against fixed literals. */
  def poissonThresholdsU32(max: Int): Seq[Long] = {
    val eInv = math.exp(-1.0)
    var fact = 1.0
    var cum = 0.0
    (0 to max).map { k =>
      if (k > 0) fact *= k
      cum += eInv / fact
      math.floor(cum * 4294967296.0).toLong
    }
  }

  /** Paired Poisson bootstrap — "is pipeline A actually better than
    * pipeline B, or is the delta noise?" for any per-item metric pair
    * (per-query nDCG of two retrieval stacks, per-doc scores of two
    * quality gates). The POISSON bootstrap (Chamandy et al., the
    * distributed form — each item's replicate weight is an independent
    * Poisson(1) draw, so no replicate ever needs a global resample) with
    * DETERMINISTIC-SEEDED draws: weight = inverse-CDF of the
    * md5(salt|replicate|item) u32 against the [[poissonThresholdsU32]]
    * literals (capped at 8 — P(X>8) < 1e-6 — so the CASE chain is
    * finite), exactly the [[dpCounts]] seeded-noise stance: a given salt
    * replays bit-for-bit, a new salt is a fresh draw, the caller owns
    * that contract.
    *
    * Per replicate the PAIRED statistic is `Σ_i w_ib·(a_i − b_i)` —
    * only its SIGN matters for the test, so there is no division and
    * the whole test is exact integers (scores arrive as integral units
    * by contract; cast them to micros upstream). One-sided p-value =
    * fraction of replicates with statistic ≤ 0 (half-up ppm). Items
    * with a null score on either side — or a null id, whose md5 seed
    * would be null and whose weight would silently resolve to the CASE
    * default instead of a Poisson(1) draw — are unpaired: excluded,
    * counted.
    * Returns ONE row `(n_items, n_unpaired, b_reps, wins_a, ties,
    * wins_b, p_ppm, mean_delta)` with `mean_delta` the plain average
    * item delta in half-up micros-of-a-unit (·1e6 div n, truncation
    * toward zero for negatives — the engine's documented div).
    *
    * Scale shape: the scored relation explodes ×B (B defaults to 200;
    * per-item metrics are queries/docs-sized, far below the corpus),
    * one hash aggregation to B replicate rows, one 1-row reduction. */
  def pairedBootstrap(scores: DataFrame, idCol: String, aCol: String,
      bCol: String, b: Int = 200, salt: String = "boot"): DataFrame = {
    require(b >= 10 && b <= 100000, s"need 10 <= B <= 100000, got $b")
    val th = poissonThresholdsU32(8)
    val paired = scores.filter(col(idCol).isNotNull &&
        col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        (col(aCol).cast("long") - col(bCol).cast("long")).as("__d"))
    val nUnpaired = scores.filter(col(idCol).isNull ||
        col(aCol).isNull || col(bCol).isNull)
      .agg(count(lit(1)).as("n_unpaired"))
    val exploded = paired
      .select(col("__id"), col("__d"),
        explode(sequence(lit(1), lit(b))).as("__b"))
      .withColumn("__u32", conv(substring(md5(concat(
          lit(s"$salt|"), col("__b").cast("string"), lit("|"),
          col("__id"))), 1, 8), 16, 10).cast("long"))
      .withColumn("__w",
        // reverse fold so k=0 lands OUTERMOST: w = smallest k with
        // u32 < threshold(k)
        th.zipWithIndex.reverse
          .foldLeft(lit(8): org.apache.spark.sql.Column) {
            case (acc, (t, k)) => when(col("__u32") < t, k).otherwise(acc)
          })
    // per-item weights are independent across items within a replicate,
    // so the replicate statistic is one keyed sum in DECIMAL(38,0)
    // (w ≤ 8 × |delta| × items can pass a Long at corpus-metric scale)
    val reps = exploded.groupBy(col("__b"))
      .agg(sum(expr("CAST(__w AS DECIMAL(38,0)) * __d")).as("__s"))
    val test = reps.agg(
      sum(when(col("__s") > 0, 1L).otherwise(0L)).as("wins_a"),
      sum(when(col("__s") === 0, 1L).otherwise(0L)).as("ties"),
      sum(when(col("__s") < 0, 1L).otherwise(0L)).as("wins_b"))
    val base = paired.agg(count(lit(1)).as("n_items"),
      sum(expr("CAST(__d AS DECIMAL(38,0))")).as("__dsum"))
    base.crossJoin(broadcast(nUnpaired))
      .crossJoin(broadcast(test))
      .select(col("n_items"), col("n_unpaired"), lit(b.toLong).as("b_reps"),
        col("wins_a"), col("ties"), col("wins_b"),
        expr(s"(2 * (ties + wins_b) * 1000000 + ${b}L) div (2 * ${b}L)")
          .as("p_ppm"),
        when(col("n_items") > 0,
          expr("(2 * __dsum * 1000000 + n_items) div (2 * n_items)"))
          .as("mean_delta"))
  }

  /** Per-group gate-parity audit (the four-fifths / disparate-impact
    * rule applied to curation gates): a quality/dedup/toxicity gate that
    * accepts 80% of one language or source and 20% of another is
    * reshaping the corpus in ways the gate's author should have to SEE.
    * Per group: exact accept-rate ppm, plus its ratio to the BEST
    * group's rate (`parity_ppm` — 1e6 = parity, below `minParityPpm`
    * flags), with the global rate alongside. All integer arithmetic in
    * DECIMAL(38,0) ratios (rates per group can involve billion-row
    * counts), half-up ppm, so the audit replays exactly. Null group
    * values form their own group (an unknown segment is a segment);
    * null accept verdicts are refused upstream by contract — cast
    * failures surface as nulls and a silent "null = reject" would hide
    * them, so they count as REJECTS here but `n_null_verdict` reports
    * them loudly. Returns one row per group:
    * `(<groupCol>, n, n_accept, n_null_verdict, accept_ppm, parity_ppm,
    * flagged)`. One hash aggregation + a 1-row broadcast of the best
    * rate. */
  def gateParity(df: DataFrame, groupCol: String, acceptCol: String,
      minParityPpm: Long = 800000L): DataFrame = {
    require(minParityPpm >= 1 && minParityPpm <= 1000000L,
      s"minParityPpm must be in [1, 1e6], got $minParityPpm")
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(acceptCol) === true, 1L).otherwise(0L)).as("n_accept"),
        sum(when(col(acceptCol).isNull, 1L).otherwise(0L))
          .as("n_null_verdict"))
      .withColumn("accept_ppm", expr(
        "(2 * CAST(n_accept AS DECIMAL(38,0)) * 1000000 + n) div (2 * n)"))
    val best = per.agg(max(col("accept_ppm")).as("__best"))
    per.crossJoin(broadcast(best))
      .withColumn("parity_ppm",
        when(col("__best") > 0, expr(
          "(2 * CAST(accept_ppm AS DECIMAL(38,0)) * 1000000 + __best) " +
            "div (2 * __best)")))
      .withColumn("flagged",
        coalesce(col("parity_ppm") < minParityPpm, lit(false)))
      .drop("__best")
  }

  /** Cohen's kappa (1960) — inter-annotator agreement for labeling
    * pipelines (RLHF preference raters, quality-label vendors, LLM-judge
    * vs human audits): observed agreement corrected by the agreement two
    * independent raters with these marginals would reach by chance.
    * EXACT integer arithmetic end to end: with N rows, A = agreeing
    * rows, and E = Σ_label n1·n2 (marginal products),
    * `kappa = (N·A − E) / (N² − E)` — a ratio of exact longs emitted as
    * half-up ppm ((2a+n) div (2n)), so the oracle replays it bit-for-
    * bit. Rows where either label is null are excluded (unjudged);
    * N² − E = 0 (both raters constant and identical — chance agreement
    * is total) has no defined kappa → null, with the counts intact.
    * Returns ONE row `(n, agree_n, po_ppm, pe_ppm, kappa_ppm)`. Scale:
    * two hash aggregates over the labeled relation (labels-sized
    * intermediates), one 1-row join. */
  def cohenKappa(df: DataFrame, r1Col: String, r2Col: String): DataFrame = {
    val lab = df
      .filter(col(r1Col).isNotNull && col(r2Col).isNotNull)
      .select(col(r1Col).cast("string").as("__r1"),
        col(r2Col).cast("string").as("__r2"))
    val counts = lab.agg(count(lit(1)).as("n"),
      sum(when(col("__r1") === col("__r2"), 1L).otherwise(0L)).as("agree_n"))
    val marg = lab.select(col("__r1").as("__l")).groupBy(col("__l"))
      .agg(count(lit(1)).as("__n1"))
      .join(lab.select(col("__r2").as("__l")).groupBy(col("__l"))
        .agg(count(lit(1)).as("__n2")), Seq("__l"))
      .agg(coalesce(sum(col("__n1") * col("__n2")), lit(0L)).as("__e"))
    // all ratio arithmetic in DECIMAL(38,0): n² and E·1e6 wrap a Long
    // once the labeled relation passes ~3e9 rows (the epochPlan lesson)
    counts.crossJoin(marg)
      .select(col("n"), col("agree_n"),
        expr("(2 * CAST(agree_n AS DECIMAL(38,0)) * 1000000 + n) div (2 * n)")
          .as("po_ppm"),
        expr("(2 * CAST(__e AS DECIMAL(38,0)) * 1000000 " +
          "+ CAST(n AS DECIMAL(38,0)) * n) " +
          "div (2 * CAST(n AS DECIMAL(38,0)) * n)").as("pe_ppm"),
        when(expr("CAST(n AS DECIMAL(38,0)) * n - __e") =!= 0,
          expr("(2 * (CAST(n AS DECIMAL(38,0)) * agree_n - __e) * 1000000 " +
            "+ (CAST(n AS DECIMAL(38,0)) * n - __e)) " +
            "div (2 * (CAST(n AS DECIMAL(38,0)) * n - __e))"))
          .as("kappa_ppm"))
  }

  /** Fleiss' kappa (1971) — [[cohenKappa]]'s multi-rater extension:
    * chance-corrected agreement when EVERY item is rated by the same
    * number `n ≥ 2` of raters (preference corpora with rater panels,
    * N-way LLM-judge ensembles). Raters are interchangeable — only the
    * per-item category counts n_ij matter. EXACT integer end to end:
    * with N items, M = N·n, S2 = Σ_ij n_ij², E2 = Σ_j (Σ_i n_ij)²,
    *
    *   P_o = (S2 − M)/(M(n−1)),  P_e = E2/M²,
    *   κ  = (M(S2−M) − E2(n−1)) / ((n−1)(M² − E2))
    *
    * — each emitted as half-up ppm of exact DECIMAL(38,0) ratios, so
    * the oracle replays bit-for-bit. κ is legitimately NEGATIVE below
    * chance: the sign splits out before the half-up division (truncate
    * vs floor differ on negatives across engines). E2 = M² (all
    * ratings one category — chance agreement total) has no defined κ
    * → null with the counts intact. Items with UNEQUAL rater counts
    * are a design violation, not data to silently reweight — an
    * in-plan raise (Fleiss' statistic is undefined there; filter to a
    * complete panel upstream). Null item/category rows are unjudged —
    * excluded. Scale: two hash aggregations over the (item, category)
    * cell relation + two 1-row joins. Returns ONE row `(n_items,
    * n_raters, n_categories, po_ppm, pe_ppm, kappa_ppm)`. */
  def fleissKappa(df: DataFrame, itemCol: String,
      categoryCol: String): DataFrame = {
    val lab = df
      .filter(col(itemCol).isNotNull && col(categoryCol).isNotNull)
      .select(col(itemCol).as("__i"),
        col(categoryCol).cast("string").as("__c"))
    val cell = Iterate.checkpoint(lab.groupBy(col("__i"), col("__c"))
      .agg(count(lit(1)).as("__nij")))
    val perItem = cell.groupBy(col("__i"))
      .agg(sum(col("__nij")).as("__ni"),
        sum(col("__nij") * col("__nij")).as("__s2i"))
    val head = perItem.agg(count(lit(1)).as("n_items"),
      min(col("__ni")).as("__nmin"), max(col("__ni")).as("__nmax"),
      sum(col("__s2i")).as("__s2"))
    val cats = cell.groupBy(col("__c"))
      .agg(sum(col("__nij")).as("__tj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(expr("CAST(__tj AS DECIMAL(38,0)) * __tj")).as("__e2"))
    head.crossJoin(broadcast(cats))
      .withColumn("n_raters",
        when(col("n_items") === 0 || col("__nmin") =!= col("__nmax") ||
            col("__nmin") < 2,
          raise_error(concat(lit("fleissKappa: every item must have the " +
            "same rater count >= 2 (Fleiss' statistic is undefined " +
            "otherwise) — got items="), col("n_items").cast("string"),
            lit(" rater counts ["), col("__nmin").cast("string"),
            lit(", "), col("__nmax").cast("string"),
            lit("]; filter to a complete panel upstream"))))
          .otherwise(col("__nmin")))
      .withColumn("__m", expr("CAST(n_items AS DECIMAL(38,0)) * n_raters"))
      .withColumn("__num", expr(
        "__m * (__s2 - __m) - __e2 * (n_raters - 1)"))
      .withColumn("__den", expr("(n_raters - 1) * (__m * __m - __e2)"))
      .select(col("n_items"), col("n_raters"), col("n_categories"),
        expr("(2 * (__s2 - __m) * 1000000 + __m * (n_raters - 1)) " +
          "div (2 * __m * (n_raters - 1))").as("po_ppm"),
        expr("(2 * __e2 * 1000000 + __m * __m) div (2 * __m * __m)")
          .as("pe_ppm"),
        when(col("__den") =!= 0,
          when(col("__num") < 0,
            -expr("(2 * (-__num) * 1000000 + __den) div (2 * __den)"))
          .otherwise(
            expr("(2 * __num * 1000000 + __den) div (2 * __den)")))
          .as("kappa_ppm"))
  }

  /** Kendall rank correlation (tau-a) per group — the EXACT rank
    * statistic for reward-data audits (the famous one: response LENGTH
    * vs reward — a reward model that pays for verbosity shows a
    * strongly positive tau per prompt) and judge-vs-judge score
    * agreement. Tau-a over all unordered pairs:
    *
    *   τ_a = (C − D) / (n(n−1)/2)
    *
    * with C/D the concordant/discordant pair counts and ties (in
    * either variable) counted as neither — every number an exact
    * integer, the ratio one half-up ppm with the sign split out (the
    * [[fleissKappa]] negative-division discipline), so the oracle
    * replays bit-for-bit (Spearman's tie-midrank form needs a square
    * root; tau-b likewise — tau-a is the exact-arithmetic member of
    * the family, and the tie counts ride along for the reader who
    * wants tau-b offline). Inputs ride the integer contract (micros /
    * counts / lengths); rows with a null group/id/x/y are excluded.
    *
    * Scale shape: pair enumeration is a GROUP-KEYED self-join on
    * `idCol_i < idCol_j` — per-group quadratic by nature, bounded by
    * design: groups are prompts/queries with tens-hundreds of scored
    * samples, and a group fanning past `maxGroupRows` trips an in-plan
    * raise (the dpoPairs cap discipline) instead of quietly squaring a
    * corpus. Returns `(<groupCol>, n, n_pairs, concordant, discordant,
    * tied, tau_a_ppm)` (n < 2 ⇒ no pairs ⇒ null tau). */
  def kendallTau(df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String, maxGroupRows: Int = 4096): DataFrame = {
    require(maxGroupRows >= 2,
      s"maxGroupRows must be >= 2, got $maxGroupRows")
    val base = Iterate.checkpoint(df
      .filter(col(groupCol).isNotNull && col(idCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__i"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y")))
    val ns = base.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val pairs = base.as("l")
      .join(base.as("r"), col("l.__g") === col("r.__g") &&
        col("l.__i") < col("r.__i"))
      .select(col("l.__g").as("__g"),
        ((col("l.__x") - col("r.__x")) *
          (col("l.__y") - col("r.__y"))).as("__p"))
      .groupBy(col("__g"))
      .agg(sum(when(col("__p") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("__p") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("__p") === 0, 1L).otherwise(0L)).as("tied"))
    val out = ns.join(pairs, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"),
        expr("n * (n - 1) div 2").as("n_pairs"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        coalesce(col("tied"), lit(0L)).as("tied"))
      .withColumn("tau_a_ppm", when(col("n_pairs") > 0,
        when(col("concordant") < col("discordant"),
          -expr("(2 * (discordant - concordant) * 1000000 + n_pairs) " +
            "div (2 * n_pairs)"))
        .otherwise(expr(
          "(2 * (concordant - discordant) * 1000000 + n_pairs) " +
            "div (2 * n_pairs)"))))
    // cap guard: every output column carries the raise
    val st = out.schema
    val boom = raise_error(concat(
      lit("kendallTau: group "), col("__g").cast("string"), lit(" has "),
      col("n").cast("string"),
      lit(s" rows (cap $maxGroupRows) — pair enumeration is per-group " +
        "quadratic; raise maxGroupRows deliberately or subsample")))
    val offenders = ns.filter(col("n") > maxGroupRows)
      .select(st.map(f => boom.cast(f.dataType).as(f.name)): _*)
    out.unionAll(offenders)
  }

  /** Source-concentration audit (Herfindahl-Hirschman index) — the
    * one-row mixture monitor: HHI = Σ_s share_s² over a grouping
    * column (source/domain/language), in exact half-up ppm —
    * `Σ c_s² / (Σ c)²` cross-multiplied in DECIMAL(38,0), no float.
    * 1e6 = the corpus is one source; 1e6/k = k equal sources — so
    * `1e12 / hhi_ppm` reads as the EFFECTIVE source count
    * (`n_effective_micro`, half-up micros, the diversity number a
    * mixture planner tracks run-over-run; a drop means one source is
    * quietly eating the corpus). Null group values form their own
    * segment (the gateParity stance — unattributed data is a real
    * slice, not a drop). One hash aggregation + a 1-row reduce.
    * Returns ONE row `(n_rows, n_groups, hhi_ppm,
    * n_effective_micro)`. */
  def concentration(df: DataFrame, groupCol: String): DataFrame = {
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        coalesce(sum(expr("CAST(__c AS DECIMAL(38,0)) * __c")),
          lit(0L).cast("decimal(38,0)")).as("__s2"))
      .select(col("n_rows"), col("n_groups"),
        when(col("n_rows") > 0, expr(
          "(2 * __s2 * 1000000 + CAST(n_rows AS DECIMAL(38,0)) * n_rows) " +
            "div (2 * CAST(n_rows AS DECIMAL(38,0)) * n_rows)"))
          .as("hhi_ppm"))
      .withColumn("n_effective_micro", when(col("hhi_ppm") > 0, expr(
        "(2 * CAST(1000000000000 AS DECIMAL(38,0)) + hhi_ppm) " +
          "div (2 * hhi_ppm)")))
  }

  /** Krippendorff's alpha (nominal) — the agreement family's
    * missing-data rung: [[cohenKappa]] needs exactly two raters,
    * [[fleissKappa]] a complete panel; alpha accepts ANY number of
    * ratings per unit (raters are interchangeable, units with a single
    * rating carry no pairable values and are excluded — the canonical
    * treatment). Computed from the coincidence-matrix identities, no
    * matrix materialized: with per-unit category counts n_uc, n_u =
    * Σ_c n_uc ≥ 2, marginals n_c = Σ_u n_uc, n = Σ_c n_c,
    *
    *   D_o = Σ_u (n_u² − Σ_c n_uc²)/(n_u − 1)
    *   D_e = (n² − Σ_c n_c²)/(n − 1)
    *   α   = 1 − D_o/D_e
    *
    * Arithmetic contract: D_o's per-unit rational rounds to half-up
    * MICROS per unit (the per-term discipline — deterministic and
    * order-independent under the exact integer sum; a unit's
    * contribution is bounded by n_u so the ±0.5-micro-per-unit wobble
    * is noise); D_e stays ONE exact rational, and α emerges by
    * SUBTRACTION — `1e6 − halfUp(D_o_micros·(n−1), n²−Σn_c²)` — so a
    * legitimately negative α needs no negative division (the
    * [[fleissKappa]] truncate-vs-floor trap never arises). D_e = 0
    * (every pairable rating one category) has no defined α → null.
    * Null unit/category rows are unjudged — excluded. Scale: two hash
    * aggregations over the (unit, category) cell relation + one 1-row
    * join. Returns ONE row `(n_units, n_values, n_categories, do_ppm,
    * de_ppm, alpha_ppm)` — do/de as per-pairable-value disagreement
    * rates for observability; α derives from the exact totals, not
    * the rounded rates. */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
      categoryCol: String): DataFrame = {
    val lab = df
      .filter(col(unitCol).isNotNull && col(categoryCol).isNotNull)
      .select(col(unitCol).as("__u"),
        col(categoryCol).cast("string").as("__c"))
    val cell = Iterate.checkpoint(lab.groupBy(col("__u"), col("__c"))
      .agg(count(lit(1)).as("__nuc")))
    val perUnit = cell.groupBy(col("__u"))
      .agg(sum(col("__nuc")).as("__nu"),
        sum(col("__nuc") * col("__nuc")).as("__s2u"))
      .filter(col("__nu") >= 2)
    val doSum = perUnit.agg(count(lit(1)).as("n_units"),
      coalesce(sum(expr(
        "(2 * (CAST(__nu AS DECIMAL(38,0)) * __nu - __s2u) * 1000000 " +
          "+ (__nu - 1)) div (2 * (__nu - 1))")), lit(0L)).as("__do"))
    val margins = cell
      .join(perUnit.select(col("__u")), Seq("__u"), "left_semi")
      .groupBy(col("__c")).agg(sum(col("__nuc")).as("__nc"))
      .agg(count(lit(1)).as("n_categories"),
        coalesce(sum(col("__nc")), lit(0L)).as("__n"),
        coalesce(sum(expr("CAST(__nc AS DECIMAL(38,0)) * __nc")),
          lit(0L).cast("decimal(38,0)")).as("__sc2"))
    doSum.crossJoin(broadcast(margins))
      .withColumn("__de2", expr("CAST(__n AS DECIMAL(38,0)) * __n - __sc2"))
      .select(col("n_units"), col("__n").as("n_values"),
        col("n_categories"),
        when(col("__n") > 0,
          expr("(2 * CAST(__do AS DECIMAL(38,0)) + __n) div (2 * __n)"))
          .as("do_ppm"),
        when(col("__n") > 1 && col("__de2") > 0, expr(
          "(2 * __de2 * 1000000 + CAST(__n AS DECIMAL(38,0)) * (__n - 1)) " +
            "div (2 * CAST(__n AS DECIMAL(38,0)) * (__n - 1))"))
          .as("de_ppm"),
        when(col("__n") > 1 && col("__de2") > 0, lit(1000000L) - expr(
          "(2 * CAST(__do AS DECIMAL(38,0)) * (__n - 1) + __de2) " +
            "div (2 * __de2)"))
          .as("alpha_ppm"))
  }

  /** pass@k — THE code-generation eval metric (Chen et al. 2021,
    * "Evaluating Large Language Models Trained on Code", eq. 1), in its
    * UNBIASED combinatorial form: with `n` samples per problem of which
    * `c` pass, `pass@k = 1 − C(n−c, k)/C(n, k)` — the probability that
    * a random size-k subset contains at least one passing sample. The
    * naive estimator (fraction of problems where the FIRST k pass) is
    * biased; the paper's point is to compute this exactly, and it IS
    * exact here: the ratio telescopes to
    * `Π_{i=0}^{k−1} (n−c−i)/(n−i)`, whose cross-multiplied half-up ppm
    * is pure DECIMAL(38,0) integer arithmetic — the oracle replays
    * every row. Per (problem, k): `n < k` has no defined estimate
    * (null — fewer samples than the subset size); `n − c < k` is
    * exactly 1e6 (every size-k subset must contain a pass). Null
    * verdicts are unjudged — excluded (count upstream). An in-plan
    * raise refuses a problem with more than `maxN` samples: past it
    * the exact product would overflow the DECIMAL(38,0) head-room
    * (checked at plan time against max k), and silently switching to
    * floats would un-replay the metric. One hash aggregation to the
    * problems-sized relation, then |ks| map-only projections. Returns
    * `(<problemCol>, k, n, c, pass_ppm)`. */
  def passAtK(df: DataFrame, problemCol: String, passCol: String,
      ks: Seq[Int], maxN: Int = 1000): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks.distinct.size == ks.size,
      s"ks must be distinct positive sample sizes, got $ks")
    require(maxN >= 1, s"maxN must be positive, got $maxN")
    val kmax = ks.max
    require(BigInt(maxN).pow(kmax) * 2000000 < BigInt(10).pow(38),
      s"maxN=$maxN with k=$kmax overflows DECIMAL(38,0): n^k·2e6 must " +
        "stay under 1e38 — lower k or maxN")
    val per = df.filter(col(passCol).isNotNull)
      .groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(passCol) === true, 1L).otherwise(0L)).as("c"))
      .withColumn("n", when(col("n") > maxN,
          raise_error(concat(
            lit(s"passAtK: a problem has more than $maxN samples ("),
            col("n"),
            lit(") — the exact C(n,k) ratio would overflow " +
              "DECIMAL(38,0); raise maxN deliberately or subsample"))))
        .otherwise(col("n")))
    ks.map { k =>
      val dProd = (0 until k)
        .map(i => s"CAST(n - $i AS DECIMAL(38,0))").mkString(" * ")
      val nProd = (0 until k)
        .map(i => s"CAST(n - c - $i AS DECIMAL(38,0))").mkString(" * ")
      per.select(col(problemCol), lit(k).as("k"), col("n"), col("c"),
        when(col("n") < k, lit(null).cast("long"))
          .when(col("n") - col("c") < k, lit(1000000L))
          .otherwise(expr(
            s"CAST((2 * (($dProd) - ($nProd)) * 1000000 + ($dProd)) " +
              s"div (2 * ($dProd)) AS BIGINT)"))
          .as("pass_ppm"))
    }.reduce(_ unionAll _)
  }

  /** Majority-vote (self-consistency) eval — Wang et al. 2022,
    * "Self-Consistency Improves Chain of Thought Reasoning": sample n
    * answers per question, keep the MODE, score it against gold. Per
    * question: the majority answer (ties break to the
    * lexicographically smallest answer — deterministic across
    * engines), its exact half-up vote share in ppm, the distinct-answer
    * count (the diversity signal self-consistency trades on), and the
    * verdict against the question's gold. Null answers are abstentions
    * — excluded from the vote but counted (`n_null`); a question whose
    * every answer is null surfaces with a null mode and `correct =
    * false` (no vote is not a right answer). Gold must be constant per
    * question (fail-fast raise on conflict — two golds for one question
    * is a data bug, not a tie to break silently). Two hash
    * aggregations, answers-sized intermediates. Returns `(<qCol>, n,
    * n_null, n_distinct, mode_answer, vote_ppm, correct)`. */
  def selfConsistency(df: DataFrame, qCol: String, ansCol: String,
      goldCol: String): DataFrame = {
    val base = df.select(col(qCol), col(ansCol).cast("string").as("__a"),
      col(goldCol).cast("string").as("__g"))
    val votes = base.filter(col("__a").isNotNull)
      .groupBy(col(qCol), col("__a")).agg(count(lit(1)).as("__v"))
    // mode via ONE struct-min over (−votes, answer): the most-voted
    // answer, ties to the lexicographically smallest — no per-question
    // sort, no window over the corpus
    val mode = votes
      .groupBy(col(qCol))
      .agg(min(struct((-col("__v")).as("__nv"), col("__a"))).as("__m"),
        sum(col("__v")).as("n"),
        count(lit(1)).as("n_distinct"))
      .select(col(qCol), col("n"), col("n_distinct"),
        col("__m.__a").as("mode_answer"), (-col("__m.__nv")).as("__mv"))
    val golds = base
      .groupBy(col(qCol))
      .agg(count_distinct(col("__g")).as("__ng"), max(col("__g")).as("__gold"),
        sum(when(col("__a").isNull, 1L).otherwise(0L)).as("n_null"))
      .withColumn("__gold", when(col("__ng") > 1,
          raise_error(concat(lit("selfConsistency: conflicting golds for "),
            col(qCol).cast("string"),
            lit(" — one question must carry one gold"))))
        .otherwise(col("__gold")))
    golds.join(mode, Seq(qCol), "left")
      .select(col(qCol),
        coalesce(col("n"), lit(0L)).as("n"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("mode_answer"),
        when(col("n") > 0, expr(
          "CAST((2 * CAST(__mv AS DECIMAL(38,0)) * 1000000 + n) " +
            "div (2 * n) AS BIGINT)")).as("vote_ppm"),
        coalesce(col("mode_answer") === col("__gold"), lit(false))
          .as("correct"))
  }

  /** Binary-classifier discrimination eval — ROC-AUC and average
    * precision (PR-AUC), the first numbers anyone computes for a
    * quality filter the engine just trained
    * ([[graft.operators.TextAnalysis.trainLinearQuality]] /
    * [[graft.operators.TextAnalysis.trainLangId]] margins): per group
    * the EXACT tie-aware Mann-Whitney statistic
    *
    *   2U = Σ_s (2·p_s·N_<s + p_s·n_s)
    *
    * over the distinct-score relation (p_s/n_s = positives/negatives
    * at score s, N_<s = negatives strictly below — ties contribute the
    * midrank half, the textbook U), with `auc_ppm` its half-up ppm
    * over 2·P·N, and `ap_ppm` the threshold-sweep average precision
    * AP = Σ_s (p_s/P)·(TP_s/PP_s) at the distinct-score thresholds
    * (sklearn's step-wise AP with ties grouped — never the trapezoid,
    * which over-reads precision between points), each term half-up ppb
    * then the sum half-up to ppm, so the whole derivation replays
    * bit-for-bit in a relational oracle. Scores and labels ride the
    * integer contract (micros / 0-1); rows with a null group, score,
    * or label are excluded; a group with no positives or no negatives
    * has undefined discrimination — null auc/ap, n columns say why.
    *
    * Scale shape — the prefix sums N_<s / P_<s / C_<s never sort the
    * corpus: distinct scores reduce in ONE hash aggregation, then
    * bucket by `score floor-div bucketWidth` (exact integer floor
    * division via the pmod idiom, negative scores included) so
    * within-bucket prefixes ride a BUCKET-partitioned window whose
    * partitions hold ≤ bucketWidth distinct scores by construction,
    * and cross-bucket offsets come from a bucket-grain self-join
    * bounded by `maxBuckets`² (cap-guarded in-plan — score ranges are
    * classifier outputs, micros in [-1e6, 1e6] at the default width
    * land ~2k buckets). Headroom: sums carry DECIMAL(38,0) through
    * the ppm/ppb scaling, so corpus size is bounded by P·N ≤ 1e38/4e9
    * — beyond any real eval slice. Returns one row per group:
    * `(<groupCol>, n, n_pos, n_neg, u2, auc_ppm, ap_ppm)` (`u2` = the
    * exact 2U rank statistic, the auditable integer). */
  def binaryEval(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, bucketWidth: Long = 1024L,
      maxBuckets: Int = 4096): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(maxBuckets >= 1, s"maxBuckets must be >= 1, got $maxBuckets")
    val base = df.filter(col(groupCol).isNotNull &&
        col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(groupCol).as("__g"), col(scoreCol).cast("long").as("__s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    // distinct-score grain: ONE corpus-sized hash aggregation
    val d = Iterate.checkpoint(base.groupBy(col("__g"), col("__s"))
      .agg(sum(col("__y")).as("__p"),
        sum(lit(1L) - col("__y")).as("__n"),
        count(lit(1)).as("__c"))
      // exact integer floor division (score - pmod(score, w)) div w —
      // bare `div` truncates toward zero on negatives, floor(double)
      // loses exactness past 2^53; pmod makes the numerator divisible
      .withColumn("__b",
        expr(s"(__s - pmod(__s, ${bucketWidth}L)) div ${bucketWidth}L")))
    // bucket-grain totals + cross-bucket prefix (self-join bounded by
    // maxBuckets² per group, cap-guarded below)
    val bt = Iterate.checkpoint(d.groupBy(col("__g"), col("__b"))
      .agg(sum(col("__p")).as("__bp"), sum(col("__n")).as("__bn"),
        sum(col("__c")).as("__bc")))
    val preB = bt.as("a")
      .join(bt.as("lo"),
        col("a.__g") === col("lo.__g") && col("lo.__b") < col("a.__b"),
        "left")
      .select(col("a.__g").as("__g"), col("a.__b").as("__b"),
        col("lo.__bp").as("__lp"), col("lo.__bn").as("__ln"),
        col("lo.__bc").as("__lc"))
      .groupBy(col("__g"), col("__b"))
      .agg(coalesce(sum(col("__lp")), lit(0L)).as("__pltB"),
        coalesce(sum(col("__ln")), lit(0L)).as("__nltB"),
        coalesce(sum(col("__lc")), lit(0L)).as("__cltB"))
    // within-bucket exclusive prefix: partition size ≤ bucketWidth
    // distinct scores by construction — a SAFELY-partitioned window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g"), col("__b")).orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val pre = d.join(preB, Seq("__g", "__b"))
      .withColumn("__plt",
        col("__pltB") + coalesce(sum(col("__p")).over(w), lit(0L)))
      .withColumn("__nlt",
        col("__nltB") + coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__clt",
        col("__cltB") + coalesce(sum(col("__c")).over(w), lit(0L)))
    val tot = d.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"), sum(col("__p")).as("n_pos"),
        sum(col("__n")).as("n_neg"))
    // 2U in one aggregation; AP terms half-up ppb per distinct score
    // (TP_s = P - P_<s, PP_s = C - C_<s at threshold "score >= s")
    val agg = pre.join(tot, Seq("__g"))
      .withColumn("__u2t",
        lit(2L) * col("__p") * col("__nlt") + col("__p") * col("__n"))
      .withColumn("__apt", when(col("__p") > 0, expr(
        "CAST((2 * CAST(__p AS DECIMAL(38,0)) * (n_pos - __plt) * " +
          "1000000000 + CAST(n_pos AS DECIMAL(38,0)) * (n - __clt)) " +
          "div (2 * CAST(n_pos AS DECIMAL(38,0)) * (n - __clt)) " +
          "AS BIGINT)")).otherwise(lit(0L)))
      .groupBy(col("__g"))
      .agg(sum(col("__u2t")).as("u2"), sum(col("__apt")).as("__ap_ppb"))
    val out = tot.join(agg, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("n_pos"),
        col("n_neg"), col("u2"),
        when(col("n_pos") > 0 && col("n_neg") > 0, expr(
          "CAST((2 * CAST(u2 AS DECIMAL(38,0)) * 1000000 + " +
            "2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) " +
            "div (2 * 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) " +
            "AS BIGINT)")).as("auc_ppm"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("(2 * __ap_ppb + 1000) div (2 * 1000)")).as("ap_ppm"))
    // cap guard: every output column carries the raise
    val st = out.schema
    val boom = raise_error(concat(
      lit("binaryEval: group "), col("__g").cast("string"), lit(" has "),
      col("__nb").cast("string"),
      lit(s" non-empty score buckets (cap $maxBuckets) — the " +
        "cross-bucket prefix self-join is buckets-squared; widen " +
        "bucketWidth or raise maxBuckets deliberately")))
    val offenders = bt.groupBy(col("__g"))
      .agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") > maxBuckets)
      .select(st.map(f => boom.cast(f.dataType).as(f.name)): _*)
    out.unionAll(offenders)
  }

  /** Risk–coverage curve (selective classification, Geifman &
    * El-Yaniv 2017) — the relation that turns [[calibratedAbstain]]'s
    * per-row verdict into a THRESHOLD CHOICE: at every distinct score
    * t, `coverage` = the share of examples the gate would accept at
    * threshold t (score ≥ t) and `risk` = the error rate INSIDE that
    * accepted slice. An operator reads the curve to pick the
    * threshold meeting a target risk (or coverage) instead of
    * trusting a default — the selective-risk plot every abstention
    * deployment publishes. Scores must already be oriented
    * higher-is-better (feed `direction · z_micros` from
    * [[calibratedAbstain]] — its whole point is making scores
    * comparable and correctly oriented across classes).
    *
    * Exact integers end to end: per distinct score the accepted
    * count/errors derive from prefix-exclusive sums (accepted = n −
    * C_<s, errors = E − E_<s), coverage/risk as half-up ppm
    * rationals. Null group/score/label rows are excluded — count the
    * always-abstain mass upstream.
    *
    * Scale shape — [[binaryEval]]'s discipline verbatim: ONE hash
    * aggregation to the distinct-score grain, prefix sums via the
    * cap-guarded bucket-grain self-join + bucket-partitioned windows
    * (≤ bucketWidth distinct scores per partition by construction —
    * never a corpus sort). Returns one row per (group, distinct
    * score): `(<groupCol>, score, n, n_accepted, n_errors,
    * coverage_ppm, risk_ppm)`. */
  def riskCoverage(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, bucketWidth: Long = 1024L,
      maxBuckets: Int = 4096): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(maxBuckets >= 1, s"maxBuckets must be >= 1, got $maxBuckets")
    val base = df.filter(col(groupCol).isNotNull &&
        col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(groupCol).as("__g"), col(scoreCol).cast("long").as("__s"),
        when(col(labelCol).cast("boolean"), 0L).otherwise(1L).as("__e"))
    val d = Iterate.checkpoint(base.groupBy(col("__g"), col("__s"))
      .agg(sum(col("__e")).as("__de"), count(lit(1)).as("__dc"))
      .withColumn("__b",
        expr(s"(__s - pmod(__s, ${bucketWidth}L)) div ${bucketWidth}L")))
    val bt = Iterate.checkpoint(d.groupBy(col("__g"), col("__b"))
      .agg(sum(col("__de")).as("__be"), sum(col("__dc")).as("__bc")))
    val preB = bt.as("a")
      .join(bt.as("lo"),
        col("a.__g") === col("lo.__g") && col("lo.__b") < col("a.__b"),
        "left")
      .select(col("a.__g").as("__g"), col("a.__b").as("__b"),
        col("lo.__be").as("__le"), col("lo.__bc").as("__lc"))
      .groupBy(col("__g"), col("__b"))
      .agg(coalesce(sum(col("__le")), lit(0L)).as("__eltB"),
        coalesce(sum(col("__lc")), lit(0L)).as("__cltB"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g"), col("__b")).orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val pre = d.join(preB, Seq("__g", "__b"))
      .withColumn("__elt",
        col("__eltB") + coalesce(sum(col("__de")).over(w), lit(0L)))
      .withColumn("__clt",
        col("__cltB") + coalesce(sum(col("__dc")).over(w), lit(0L)))
    val tot = d.groupBy(col("__g"))
      .agg(sum(col("__dc")).as("n"), sum(col("__de")).as("__etot"))
    val out = pre.join(tot, Seq("__g"))
      .select(col("__g").as(groupCol), col("__s").as("score"), col("n"),
        (col("n") - col("__clt")).as("n_accepted"),
        (col("__etot") - col("__elt")).as("n_errors"))
      .withColumn("coverage_ppm",
        expr("(2 * n_accepted * 1000000 + n) div (2 * n)"))
      .withColumn("risk_ppm",
        expr("(2 * n_errors * 1000000 + n_accepted) div (2 * n_accepted)"))
    val st = out.schema
    val boom = raise_error(concat(
      lit("riskCoverage: group "), col("__g").cast("string"), lit(" has "),
      col("__nb").cast("string"),
      lit(s" non-empty score buckets (cap $maxBuckets) — the " +
        "cross-bucket prefix self-join is buckets-squared; widen " +
        "bucketWidth or raise maxBuckets deliberately")))
    val offenders = bt.groupBy(col("__g"))
      .agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") > maxBuckets)
      .select(st.map(f => boom.cast(f.dataType).as(f.name)): _*)
    out.unionAll(offenders)
  }

  /** Calibrated abstention over a classifier's raw confidence signal —
    * the operator that CONSUMES a [[binaryEval]] finding like q_v30's
    * (the trained LID's argmax margins ANTI-correlate with
    * correctness, AUC 0.024): an anti-calibrated margin must never
    * silently gate data, so the accept/abstain verdict learns its
    * direction from labeled evidence instead of assuming
    * higher-is-better.
    *
    * Per predicted class over ALL rows: the score population's mean
    * (sign-split half-up micros off exact integer sums) and
    * population std (the one sqrt through the 6-dp-round discipline —
    * the [[graft.operators.Preferences.groupAdvantage]] arithmetic,
    * so each row's z-score normalizes per class, never across the
    * classes' incomparable margin scales). Per class over the LABELED
    * slice: the DIRECTION — +1 when correct predictions score higher
    * on average than wrong ones (exact integer cross-multiplied
    * compare, no division), −1 when lower, 0 when equal or when
    * either verdict side is empty (no contrast — a direction assumed
    * would be the exact failure this operator exists to stop). The
    * verdict: accept iff direction ≠ 0 AND direction·z_micros ≥
    * `zThresholdMicros`; abstain otherwise — including every row of a
    * class with no usable direction or no scale (n = 1 / zero
    * variance), which abstains rather than passes. Null class/score
    * rows are unjudgeable — excluded; a null label is simply an
    * UNLABELED row (it shapes the population stats but not the
    * direction).
    *
    * Scale shape: ONE class-keyed hash aggregation (population stats
    * and labeled-slice evidence in the same pass) + one keyed join
    * back — no window, no sort, classes-sized broadcast. Returns
    * `(<idCol>, <classCol>, <scoreCol>, <labelCol>, n_class, n_labeled,
    * n_correct, direction, z_micros, accept)`. */
  def calibratedAbstain(df: DataFrame, idCol: String, classCol: String,
      scoreCol: String, labelCol: String,
      zThresholdMicros: Long = 0L): DataFrame = {
    val base = df.filter(col(classCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(idCol), col(classCol), col(scoreCol).cast("long")
        .as("__s"), col(labelCol).cast("boolean").as("__lab"))
    val stats = base.groupBy(col(classCol))
      .agg(count(lit(1)).as("n_class"),
        sum(col("__s")).as("__sr"),
        sum(expr("CAST(__s AS DECIMAL(38,0)) * __s")).as("__srr"),
        count(col("__lab")).as("n_labeled"),
        sum(when(col("__lab"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("__lab"), col("__s"))).as("__sc"),
        sum(when(not(col("__lab")), col("__s"))).as("__sw"))
      .select(col(classCol), col("n_class"), col("n_labeled"),
        col("n_correct"), col("__sr"),
        expr("sqrt(CAST(__srr AS DOUBLE) / n_class " +
          "- (CAST(__sr AS DOUBLE) / n_class) " +
          "* (CAST(__sr AS DOUBLE) / n_class))").as("__std"),
        // direction: exact cross-multiplied mean compare over the
        // labeled slice; 0 when either verdict side has no evidence
        expr("CAST(CASE WHEN n_correct > 0 " +
          "AND n_labeled - n_correct > 0 THEN " +
          "CASE WHEN CAST(__sc AS DECIMAL(38,0)) * (n_labeled - n_correct) " +
          "> CAST(__sw AS DECIMAL(38,0)) * n_correct THEN 1 " +
          "WHEN CAST(__sc AS DECIMAL(38,0)) * (n_labeled - n_correct) " +
          "< CAST(__sw AS DECIMAL(38,0)) * n_correct THEN -1 " +
          "ELSE 0 END ELSE 0 END AS INT)").as("direction"))
    base.join(stats, Seq(classCol))
      .withColumn("z_micros",
        when(col("n_class") > 1 && col("__std") > 0, expr(
          "CAST(ROUND(ROUND((CAST(__s AS DOUBLE) " +
            "- CAST(__sr AS DOUBLE) / n_class) / __std, 6) * 1e6) " +
            "AS BIGINT)")))
      .select(col(idCol), col(classCol), col("__s").as(scoreCol),
        col("__lab").as(labelCol), col("n_class"), col("n_labeled"),
        col("n_correct"), col("direction"), col("z_micros"),
        coalesce(col("direction") =!= 0 &&
          col("direction").cast("long") * col("z_micros") >=
            zThresholdMicros, lit(false)).as("accept"))
  }
}
