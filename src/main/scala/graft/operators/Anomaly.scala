package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-key z-score anomaly flagging: score every observation against its
  * key's own distribution — `z = (value − mean) / stddev` — and flag
  * |z| ≥ threshold. The two-pass shape (one hash aggregation for per-key
  * moments, one equi-join back to the stream) is deliberate: a windowed
  * `avg/stddev OVER (PARTITION BY key)` computes the same numbers but
  * re-shuffles and SORTS every observation, while the agg+join plan
  * partial-aggregates map-side and re-joins with a plain hash join —
  * and at 100 TB the moments side is keys-sized, usually broadcastable.
  *
  * Numerics: moments round to 6 dp before the z computation (two-pass
  * variance here, Welford inside some engines — agreeing on rounded
  * moments makes the downstream z bit-stable), z rounds to 6 dp, and
  * keys with stddev 0 or a single observation flag nothing (z = null).
  * Null keys form their own cohort (the join is null-safe), so every
  * input row comes back — the output is exactly the input plus
  * `(z, is_anomaly)`.
  *
  * Every per-key statistics side is broadcast: it is keys-sized, and a
  * key space too large to ship to each executor is past what these
  * operators serve (a billion-key side should shuffle-join, which means
  * dropping the hint here, not a per-call switch).
  */
object Anomaly {

  /** The per-key moments relation `(<keyCol>, mean, sd)` — 6-dp-rounded,
    * null keys aggregated as their own cohort. Persist or snapshot this
    * to score a LATER stream against history ([[scoreAgainstMoments]],
    * `EventStreams.anomalyFlags`). */
  def moments(obs: DataFrame, keyCol: String, valueCol: String): DataFrame =
    obs.groupBy(col(keyCol))
      .agg(round(avg(col(valueCol)), 6).as("mean"),
        round(stddev_samp(col(valueCol)), 6).as("sd"))

  /** Score observations against an EXPLICIT `(<keyCol>, mean, sd)`
    * moments relation — the scoring half of [[zscores]], shared with the
    * streaming path (it is one broadcast join + map-side arithmetic, so
    * it runs unchanged under Structured Streaming). Keys with no moments
    * row (cold start), sd = 0, or a single observation get z = null and
    * flag nothing; every input row comes back. */
  def scoreAgainstMoments(obs: DataFrame, mom: DataFrame, keyCol: String,
      valueCol: String, threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val m = mom.select(col(keyCol).as("__mk"), col("mean").as("__mean"),
      col("sd").as("__sd"))
    val z = round((col(valueCol) - col("__mean")) / col("__sd"), 6)
    obs.join(broadcast(m), col(keyCol) <=> col("__mk"), "left")
      .withColumn("z", when(col("__sd") > 0, z))
      .withColumn("is_anomaly", coalesce(abs(col("z")) >= threshold, lit(false)))
      .drop("__mk", "__mean", "__sd")
  }

  def zscores(obs: DataFrame, keyCol: String, valueCol: String,
      threshold: Double): DataFrame =
    scoreAgainstMoments(obs, moments(obs, keyCol, valueCol), keyCol,
      valueCol, threshold)

  /** Tukey-fence outlier flags — the ROBUST complement to [[zscores]]:
    * a value is anomalous when it falls outside `[q1 − k·IQR,
    * q3 + k·IQR]` (k = 1.5, the boxplot standard). Quartiles are exact
    * interpolated percentiles per key (6-dp rounded, oracle-exact) —
    * unlike mean/stddev they don't move when the outliers themselves
    * get bigger, which is precisely the failure mode that makes z-score
    * thresholds drift on heavy-tailed data. Same two-pass shape: one
    * per-key aggregate, broadcast join back, map-side flag. A zero-IQR
    * key (at least half the mass on one value) flags anything off that
    * value — the fences collapse to the quartiles, which is the
    * standard behavior. Null values never flag. */
  def tukeyFences(obs: DataFrame, keyCol: String, valueCol: String,
      k: Double = 1.5): DataFrame = {
    require(k > 0, s"fence multiplier must be positive, got $k")
    val q = obs.groupBy(col(keyCol).as("__tk"))
      .agg(round(expr(s"percentile(`$valueCol`, 0.25)"), 6).as("__q1"),
        round(expr(s"percentile(`$valueCol`, 0.75)"), 6).as("__q3"))
    val lo = round(col("__q1") - lit(k) * (col("__q3") - col("__q1")), 6)
    val hi = round(col("__q3") + lit(k) * (col("__q3") - col("__q1")), 6)
    obs.join(broadcast(q), col(keyCol) <=> col("__tk"), "left")
      .withColumn("is_anomaly",
        coalesce(col(valueCol) < lo || col(valueCol) > hi, lit(false)))
      .drop("__tk", "__q1", "__q3")
  }

  /** Median/MAD robust z-score — the third member of the outlier trio
    * ([[zscores]] drifts when outliers fatten the stddev; [[tukeyFences]]
    * is robust but unitless; the MAD z is the robust score with the
    * z-score's INTERPRETABILITY — "how many robust sigmas out"):
    * `rz = 0.6745 · (x − median) / MAD`, MAD = median(|x − median|),
    * the 0.6745 consistency constant making rz ≈ z on Gaussian data.
    * Two per-key percentile aggregations (median, then MAD over the
    * joined-back deviations — MAD is not expressible in one pass),
    * broadcast join back, map-side score rounded to 6 dp. A zero-MAD
    * key (at least half the mass on one value) has no defined scale:
    * off-median values flag with a NULL rz (the verdict survives, the
    * score is honestly undefined), on-median values pass. Null values
    * never flag. Returns the input plus `(rz, is_anomaly)`. */
  def robustZ(obs: DataFrame, keyCol: String, valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val med = obs.groupBy(col(keyCol).as("__rk"))
      .agg(round(expr(s"percentile(`$valueCol`, 0.5)"), 6).as("__med"))
    val mad = obs.join(broadcast(med), col(keyCol) <=> col("__rk"))
      .groupBy(col("__rk"))
      .agg(round(expr(s"percentile(abs(`$valueCol` - __med), 0.5)"), 6)
        .as("__mad"))
    val stats = med.join(mad.withColumnRenamed("__rk", "__rk2"),
        col("__rk") <=> col("__rk2"))
      .drop("__rk2")
    val rz = round(lit(0.6745) * (col(valueCol) - col("__med")) /
      col("__mad"), 6)
    obs.join(broadcast(stats), col(keyCol) <=> col("__rk"), "left")
      .withColumn("rz",
        when(col("__mad") > 0, rz))
      .withColumn("is_anomaly",
        when(col(valueCol).isNull, lit(false))
          .when(col("__mad") > 0, coalesce(abs(col("rz")) > threshold,
            lit(false)))
          .otherwise(coalesce(
            round(col(valueCol), 6) =!= col("__med"), lit(false))))
      .drop("__rk", "__med", "__mad")
  }
}
