package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs, built from the already-verified stages:
  *
  *   1. '''quality gate''' — token-count / avg-token-length / stopword
  *      ratio thresholds (the q_x2 metrics), all map-only;
  *   2. '''exact dedup''' — keep the min-id document per content hash
  *      (one keyed shuffle);
  *   3. '''verified near-dup dedup''' — [[Dedup.verifiedClusters]] over
  *      the survivors (map-only MinHash banding → band equi-join → exact
  *      Jaccard rescore → connected components), keep each cluster's
  *      min-id keeper;
  *   4. '''deterministic split''' — md5-bucket train/val/test labels
  *      ([[Sampling.splitLabel]]), map-only and engine-stable.
  *
  * Every stage is either map-only or a keyed equi-join/aggregation, so
  * the composition inherits the 100 TB shape of its parts. Ordering of
  * stages matters and is the production order: quality first (cheapest,
  * biggest reduction), exact dedup before near-dup (hash groupBy is far
  * cheaper than LSH), split last (labels only for what survives).
  */
object Curation {

  /** The quality gate over a token array — identical expressions (incl.
    * 4-dp rounding) to the oracle-checked q_x2 metrics. */
  private def qualityGate(toks: Column, minTokens: Int): Column = {
    val nTok = size(toks)
    val avgLen = round(length(array_join(toks, "")).cast("double") / nTok, 4)
    val stopRatio = round(
      TextAnalysis.hitCount(toks, TextAnalysis.langStopwords.head._2)
        .cast("double") / nTok, 4)
    nTok >= minTokens && avgLen >= 2.0 && avgLen <= 10.0 && stopRatio >= 0.02
  }

  /** The complete (stage, stage_name, source, docs) grid over `stages`,
    * after the raw stage 0: sources × stages cross the (bounded,
    * broadcast) stage table, zero-count cells included. A null source
    * groups under the literal `'<null>'`. */
  private def funnelGrid(docs: DataFrame, sourceCol: String, idCol: String,
      stages: Seq[(String, DataFrame)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val src = docs.select(col(idCol),
      coalesce(col(sourceCol), lit("<null>")).as("source"))
    val named = ("raw" -> src) +: stages
    val counts = named.zipWithIndex.map { case ((_, ids), stage) =>
      ids.select(col(idCol)).join(src, Seq(idCol))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .select(lit(stage).as("stage"), col("source"), col("n"))
    }.reduce(_ unionAll _)
    val stageTable = named.zipWithIndex.map { case ((name, _), stage) =>
      (stage, name) }.toDF("stage", "stage_name")
    src.select(col("source")).distinct()
      .crossJoin(broadcast(stageTable))
      .join(counts, Seq("source", "stage"), "left")
      .select(col("stage"), col("stage_name"), col("source"),
        coalesce(col("n"), lit(0L)).as("docs"))
  }

  /** The shared stage chain: (quality survivors, exact-dedup survivors,
    * near-dup survivors) — [[curate]] labels the last; [[curationFunnel]]
    * counts all three. */
  private def stageFrames(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int): (DataFrame, DataFrame, DataFrame) = {
    // 1. quality gate
    val quality = docs.select(col(idCol), col(textCol),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(qualityGate(col("toks"), minTokens))
      .select(col(idCol), col(textCol))

    // 2. exact dedup: min-id keeper per content hash
    val exactKeepers = quality
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    // three downstream consumers read this frame (band generation, the
    // Jaccard-rescore shingle relation, and the survivor anti-join) — an
    // unmaterialized plan would re-run scan → tokenize → hash-dedup for
    // each. This is the pipeline's natural stage boundary: at cluster
    // scale you'd persist the exact-dedup survivors to a staging table
    // for exactly the same reason; localCheckpoint is the in-session
    // equivalent (and truncates the lineage the CC iterations would
    // otherwise re-plan every round).
    val exact = Iterate.checkpoint(
      quality.join(exactKeepers, Seq(idCol), "left_semi"))

    // 3. verified near-dup dedup: drop every non-keeper cluster member
    val clusters = Dedup.verifiedClusters(exact, textCol, idCol)
    val dropIds = clusters.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    val survivors = exact.join(dropIds, Seq(idCol), "left_anti")
    (quality, exact, survivors)
  }

  def curate(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      minTokens: Int = 20, seed: String = "exp1",
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val (_, _, survivors) = stageFrames(docs, textCol, idCol, minTokens)
    // 4. deterministic split labels for the survivors
    survivors.select(col(idCol),
      Sampling.splitLabel(col(idCol), seed, trainPct, valPct).as("split"))
  }

  /** Per-source curation funnel — the pipeline report card: for every
    * (source, stage) cell, how many documents survive raw → quality →
    * exact dedup → near-dup dedup. This is the observability query every
    * production corpus run publishes (which crawl went from 2M docs to
    * 40k and why), and the input to rebalancing decisions — a source
    * that loses 95% at the quality gate is a crawler bug, not a
    * mixture-weight problem.
    *
    * The grid is COMPLETE: sources × stages cross the (bounded,
    * broadcast) 4-row stage table, zero-count cells included — a funnel
    * chart never silently loses its tail (the [[Behavior.funnel]]
    * contract). A null source groups under the literal `'<null>'` so
    * its documents stay visible. Shape: the stage chain itself plus one
    * keyed count per stage and one broadcast grid join. */
  def curationFunnel(docs: DataFrame, sourceCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id",
      minTokens: Int = 20): DataFrame = {
    val (quality, exact, survivors) =
      stageFrames(docs, textCol, idCol, minTokens)
    funnelGrid(docs, sourceCol, idCol, Seq("quality" -> quality,
      "exact_dedup" -> exact, "near_dup" -> survivors))
  }

  /** [[curationFunnel]] + the web-graph host-rank gate as stage 4 — the
    * RefinedWeb-shaped funnel where corpus-level host centrality
    * ([[TextAnalysis.hostRankFeature]]: canonicalUrl → host link graph
    * → PageRank) gates what document-level filters passed: near-dup
    * survivors on a host ranking BELOW `minHostRank` drop wholesale
    * (an uncited host farm's clean-looking pages go with the farm).
    * Docs with no parseable/ranked host KEEP — absence of evidence
    * never drops data (the [[TextAnalysis.hostQualityGate]] stance).
    * `urls` maps ids to the doc's own URL; `links` carries out-link
    * URLs. Same per-source grid contract as [[curationFunnel]], one
    * more stage row. */
  def curationFunnelHostGate(docs: DataFrame, urls: DataFrame,
      links: DataFrame, minHostRank: Double,
      urlCol: String = "url", linkUrlCol: String = "link_url",
      sourceCol: String = "source", textCol: String = "text",
      idCol: String = "doc_id", minTokens: Int = 20,
      prIters: Int = 3): DataFrame = {
    val (quality, exact, survivors) =
      stageFrames(docs, textCol, idCol, minTokens)
    val hr = TextAnalysis.hostRankFeature(urls, urlCol, links, linkUrlCol,
      prIters, idCol)
    val hostGated = survivors.select(col(idCol))
      .join(hr.select(col(idCol), col("host_rank")), Seq(idCol), "left")
      .filter(col("host_rank").isNull || col("host_rank") >= minHostRank)
    funnelGrid(docs, sourceCol, idCol, Seq("quality" -> quality,
      "exact_dedup" -> exact, "near_dup" -> survivors,
      "host_rank" -> hostGated))
  }

  /** Joint text+embedding curation: the cross-modal composition a corpus
    * with per-document embeddings runs — quality-gate on TEXT signals,
    * drop near-duplicates by EMBEDDING cosine (bucketed candidates +
    * exact rescore, [[Similarity.nearDupByCosine]]), then label splits.
    * Drop rule: within the quality survivors, every pair at cosine ≥
    * `minScore` drops its higher id — both pair endpoints must themselves
    * be survivors, so an already-rejected document can never knock out a
    * surviving one. Every stage is map-only or a keyed equi-join. */
  def curateJoint(docs: DataFrame, emb: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      minTokens: Int = 20, numPlanes: Int = 4, minScore: Double = 0.35,
      seed: String = "exp1", trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val quality = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(qualityGate(col("toks"), minTokens))
      .select(col(idCol))
    val pairs = Similarity.nearDupByCosine(emb, numPlanes, minScore)
    val dropIds = pairs
      .join(quality.select(col(idCol).as("a_id")), Seq("a_id"), "left_semi")
      .join(quality.select(col(idCol).as("b_id")), Seq("b_id"), "left_semi")
      .select(col("b_id").as(idCol)).distinct()
    quality.join(dropIds, Seq(idCol), "left_anti")
      .select(col(idCol),
        Sampling.splitLabel(col(idCol), seed, trainPct, valPct).as("split"))
  }
}
