package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Numeric feature conditioning — the scaling/clipping prep a training
  * pipeline runs before features leave the warehouse. Both operators are
  * the [[Anomaly]] two-pass shape: one hash aggregation for the
  * per-group statistics, one equi-join back (broadcast while the group
  * side is keys-sized), map-side arithmetic — never a `PARTITION BY`
  * window re-sorting the observation stream.
  *
  * Numerics: statistics round to 6 dp before the arithmetic, outputs
  * round to 6 dp — every op between is a single IEEE double operation,
  * so results replay bit-for-bit in a relational oracle.
  */
object Features {

  /** Per-group min-max scaling: `scaled = (x − min) / (max − min)` onto
    * [0, 1]. Degenerate groups (min = max, a constant feature) scale to
    * null rather than dividing by zero — a constant carries no signal
    * and flagging that beats inventing a midpoint. Null keys form their
    * own cohort (null-safe join); null values pass through as null.
    * Returns the input plus `<valueCol>_scaled`. */
  def minMaxScale(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val stats = df.groupBy(col(keyCol))
      .agg(round(min(col(valueCol)), 6).as("__lo"),
        round(max(col(valueCol)), 6).as("__hi"))
      .withColumnRenamed(keyCol, "__sk")
    df.join(broadcast(stats), col(keyCol) <=> col("__sk"), "left")
      .withColumn(s"${valueCol}_scaled",
        when(col("__hi") > col("__lo"),
          round((col(valueCol) - col("__lo")) / (col("__hi") - col("__lo")), 6)))
      .drop("__sk", "__lo", "__hi")
  }

  /** Winsorize: clip `valueCol` at the exact [pLo, pHi] corpus
    * percentiles — the standard outlier-damping transform (heavy-tailed
    * rewards, response times) that preserves ranks while bounding
    * leverage. Exact interpolated percentiles via one global aggregate
    * (two doubles broadcast — never a sort of the corpus). Cutoffs and
    * output round to 6 dp. Returns the input plus `<valueCol>_wins`. */
  def winsorize(df: DataFrame, valueCol: String,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got $pLo / $pHi")
    // backticked: the spliced name must stay a column reference even for
    // non-identifier names ("my col", "a.b") — everywhere else col() does
    // this; percentile has no Column-API exact form
    val cuts = df.select(
      round(expr(s"percentile(`$valueCol`, $pLo)"), 6).as("__lo"),
      round(expr(s"percentile(`$valueCol`, $pHi)"), 6).as("__hi"))
    df.crossJoin(broadcast(cuts))
      .withColumn(s"${valueCol}_wins",
        round(least(greatest(col(valueCol), col("__lo")), col("__hi")), 6))
      .drop("__lo", "__hi")
  }

  /** Deterministic categorical index — the StringIndexer shape a
    * training pipeline needs before categorical features leave the
    * warehouse: labels rank by frequency desc, label asc (a total
    * order, so the id assignment replays in any engine), dense ids
    * from 0. The ranking happens on the DRIVER over the collected
    * label counts (≤ `maxLabels` rows with a loud fail-fast — the
    * vocab/codebook bounded-collect pattern, NOT an unpartitioned rank
    * window, which the global plan audit forbids). Null labels are
    * excluded from the index (they encode to null, not to an id).
    * Returns `(label: string, cat_id: int)`. */
  def buildCategoryIndex(df: DataFrame, labelCol: String,
      maxLabels: Int = 65536): DataFrame = {
    val counts = df.filter(col(s"`$labelCol`").isNotNull)
      .groupBy(col(s"`$labelCol`").cast("string").as("label"))
      .agg(count(lit(1)).as("cnt"))
      .limit(maxLabels + 1).collect()
    require(counts.length <= maxLabels,
      s"more than maxLabels=$maxLabels distinct labels in '$labelCol' — " +
        "an index that big should be a hashed feature, not a dictionary")
    val spark = df.sparkSession
    import spark.implicits._
    counts.map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (l, n) => (-n, l) }
      .zipWithIndex.map { case ((l, _), i) => (l, i) }
      .toSeq.toDF("label", "cat_id")
  }

  /** Persist / restore the index — train once, encode nightly batches
    * against the STORE (the tokenizer-vocab discipline). */
  def writeCategoryIndex(df: DataFrame, labelCol: String, path: String,
      maxLabels: Int = 65536): Unit =
    buildCategoryIndex(df, labelCol, maxLabels)
      .write.mode("overwrite").parquet(path)

  /** Encode a label column to its dense id via a broadcast join against
    * the (vocab-sized) index: `<labelCol>_id`, with the unk sentinel −1
    * for labels ABSENT from the index (a new batch against a stored
    * index — never silently dropped) and null for null labels. The
    * index columns join under `__`-prefixed temp names so a caller
    * frame that happens to carry `label`/`cat_id` columns neither
    * breaks resolution nor loses its own columns. */
  def encodeCategories(df: DataFrame, labelCol: String,
      index: DataFrame): DataFrame =
    df.join(broadcast(index.select(col("label").as("__ci_label"),
        col("cat_id").as("__ci_id"))),
        col(s"`$labelCol`").cast("string") === col("__ci_label"), "left")
      .withColumn(s"${labelCol}_id",
        when(col(s"`$labelCol`").isNotNull,
          coalesce(col("__ci_id"), lit(-1))).cast("int"))
      .drop("__ci_label", "__ci_id")

  /** Robust scaling: `scaled = (x − median) / IQR` — the outlier-proof
    * standardization (sklearn's RobustScaler shape): median and
    * interquartile range are insensitive to the heavy tails that wreck
    * mean/stddev z-scores on real feature distributions. Same
    * one-aggregate + broadcast mechanics as [[winsorize]] (exact
    * interpolated percentiles, never a corpus sort); statistics round
    * to 6 dp, output to 6 dp, so the rule replays exactly in a
    * relational oracle. A degenerate column (IQR = 0, at least half the
    * mass on one value) scales to null rather than dividing by zero —
    * the [[minMaxScale]] constant-column convention. Null values pass
    * through as null. Returns the input plus `<valueCol>_robust`. */
  def robustScale(df: DataFrame, valueCol: String): DataFrame = {
    val cuts = df.select(
      round(expr(s"percentile(`$valueCol`, 0.25)"), 6).as("__q1"),
      round(expr(s"percentile(`$valueCol`, 0.5)"), 6).as("__med"),
      round(expr(s"percentile(`$valueCol`, 0.75)"), 6).as("__q3"))
    df.crossJoin(broadcast(cuts))
      .withColumn(s"${valueCol}_robust",
        when(col("__q3") > col("__q1"),
          round((col(valueCol) - col("__med")) / (col("__q3") - col("__q1")), 6)))
      .drop("__q1", "__med", "__q3")
  }

  /** Equi-depth discretization: assign each row to one of `nBins`
    * equal-population buckets bounded by the exact interpolated
    * 1/n … (n−1)/n percentiles (the [[winsorize]] percentile mechanism —
    * one global aggregate, nBins−1 doubles broadcast, never a corpus
    * sort or an `ntile` window over the full stream). Bucket edges are
    * half-open on the left: `bin = #{boundaries b : x > b}`, so a value
    * equal to a boundary lands in the LOWER bucket and heavy ties pile
    * deterministically into one bin rather than splitting
    * engine-dependently. Boundaries round to 6 dp so the rule replays
    * exactly in a relational oracle. Null values get a null bin.
    * Returns the input plus `<valueCol>_bin` (int, 0-based). */
  def equiDepthBins(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = df.select(
      (1 until nBins).map(i =>
        round(expr(s"percentile(`$valueCol`, ${ps(i - 1)})"), 6).as(s"__b$i")): _*)
    val bin = (1 until nBins)
      .map(i => when(col(valueCol) > col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    df.crossJoin(broadcast(cuts))
      .withColumn(s"${valueCol}_bin",
        when(col(valueCol).isNotNull, bin).cast("int"))
      .drop((1 until nBins).map(i => s"__b$i"): _*)
  }
}
