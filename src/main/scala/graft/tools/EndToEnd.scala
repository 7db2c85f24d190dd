package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Packing, TextAnalysis}
import graft.sources.Tables

/** Runnable end-to-end PRETRAINING DATA BUILD — the adoption story in
  * one main: every stage is one of the library's oracle-checked
  * operators, composed the way a production corpus build composes them.
  *
  *   documents ─ curate (quality gate → exact dedup → verified near-dup
  *   clusters → split labels) ─ DLP quarantine (Luhn PAN + high-entropy
  *   secrets, the q_x95 verdict) ─ decontaminate vs the held-out benchmark
  *   slice (13-gram overlap) ─ tokenize against the PERSISTED
  *   merges+vocab stores (zero learning in the scoring pass) ─ pack into
  *   token-budget training sequences ─ land packs + a stage manifest
  *   (with the web-graph host-rank gate between DLP and
  *   decontamination — the q_x103 funnel stage).
  *
  * `runMain graft.tools.EndToEnd [sfDir] [outDir]` — prints one JSON
  * line of per-stage row counts (the manifest also lands as parquet, so
  * a scheduler can diff successive runs). EndToEndSpec drives it at
  * sf0.001 and pins the stage monotonicity + output shapes. */
object EndToEnd {

  final case class Result(
      nDocs: Long, nCurated: Long, nTrain: Long, nSafe: Long,
      nHostKept: Long, nClean: Long, nPacked: Long, nPacks: Long,
      outDir: String)

  def run(spark: SparkSession, sfDir: String, outDir: String): Result = {
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()

    // the held-out benchmark slice plays the role of the eval set a real
    // build must never leak into training data
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)

    // 1. curation chain: quality gate -> exact dedup -> verified
    // near-dup clusters -> deterministic split labels
    val splits = Curation.curate(corpus)
    val nCurated = splits.count()
    // stage boundary: TWO consumers read train (the contamination
    // shingles and the clean anti-join) — pin it once; Iterate picks
    // reliable checkpointing when the deployment set a checkpoint dir
    val train = graft.operators.Iterate.checkpoint(corpus.join(
      splits.filter(col("split") === "train").select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    val nTrain = train.count()

    // 2. DLP quarantine: the two leaked-credential detectors under one
    // verdict (the q_x95 composition) — a pretraining corpus must not
    // memorize card numbers or live keys, so quarantined docs leave the
    // build BEFORE tokenization, not after
    val quarantined = TextAnalysis.panAudit(train, "text")
      .select(col("doc_id"), col("has_pan"))
      .join(TextAnalysis.secretAudit(train, "text")
        .select(col("doc_id"), col("n_secrets")), Seq("doc_id"))
      .filter(col("has_pan") || col("n_secrets") > 0)
      .select(col("doc_id"))
    val safe = graft.operators.Iterate.checkpoint(
      train.join(quarantined, Seq("doc_id"), "left_anti"))
    val nSafe = safe.count()

    // 3. web-graph host-quality gate (the q_x102/q_x103 signal): docs on
    // hosts ranking below the uniform cut drop wholesale — the
    // corpus-level spam-farm filter document-level gates can't see.
    // URLs are synthesized from doc ids here (the testdata carries no
    // URL column); a real crawl passes its own (url, out-links) in.
    val ownUrl = concat(lit("http://h"),
      (col("doc_id") % 20).cast("string"), lit(".com/p/"),
      col("doc_id").cast("string"))
    val links = safe.select(col("doc_id"), explode(array(
      concat(lit("http://h"), ((col("doc_id") * 7) % 10).cast("string"),
        lit(".com/l")),
      concat(lit("http://h"), ((col("doc_id") * 13 + 3) % 20)
        .cast("string"), lit(".com/l2")))).as("link_url"))
    val lowHosts = TextAnalysis.hostRankFeature(
        safe.select(col("doc_id"), ownUrl.as("url")), "url",
        links, "link_url", iters = 3)
      .filter(col("host_rank").isNotNull && col("host_rank") < 0.05)
      .select(col("doc_id"))
    val hostKept = graft.operators.Iterate.checkpoint(
      safe.join(lowHosts, Seq("doc_id"), "left_anti"))
    val nHostKept = hostKept.count()

    // 4. decontamination: drop training docs sharing too many 13-gram
    // shingles with the benchmark slice
    val contam = Dedup.contaminationReport(
        Dedup.docShingles(hostKept, "text", "doc_id", k = 13),
        Dedup.docShingles(bench, "text", "doc_id", k = 13))
      .filter(col("contamination") > 0.5)
      .select(col("sid").as("doc_id"))
    val clean = graft.operators.Iterate.checkpoint(
      hostKept.join(contam, Seq("doc_id"), "left_anti"))
    val nClean = clean.count()

    // 4b. mixture report: the per-source token budget a mixture planner
    // reads from the build (raw vs dedup-discounted effective tokens,
    // the q_d31 number) — landed next to the packs so reweighting runs
    // off the SAME corpus the packs were cut from
    Dedup.effectiveTokens(clean, "text", "doc_id", "lang")
      .write.mode("overwrite").parquet(s"$outDir/mixture_report")

    // 5. tokenizer stores: train once, then the scoring pass reads ONLY
    // the persisted merges + vocab (the q_x42 nightly shape)
    val merges = TextAnalysis.learnBpeMerges(clean, "text")
    TextAnalysis.writeBpeMerges(spark, merges, s"$outDir/bpe/merges")
    TextAnalysis.writeBpeVocab(clean, merges, s"$outDir/bpe/vocab")
    val tokens = TextAnalysis.encodeTokenIds(clean,
      TextAnalysis.readBpeMerges(spark, s"$outDir/bpe/merges"),
      spark.read.parquet(s"$outDir/bpe/vocab"))
    tokens.write.mode("overwrite").parquet(s"$outDir/tokens")

    // 6. pack the tokenized docs into training sequences
    val packed = Packing.packByCount(
      spark.read.parquet(s"$outDir/tokens").filter(col("n_tokens") > 0),
      budget = 512, shards = 8, salt = "e2e")
    packed.write.mode("overwrite").parquet(s"$outDir/packs")
    val nPacked = spark.read.parquet(s"$outDir/packs").count()
    val nPacks = spark.read.parquet(s"$outDir/packs")
      .select(col("shard"), col("pack")).distinct().count()

    val res = Result(nDocs, nCurated, nTrain, nSafe, nHostKept, nClean,
      nPacked, nPacks, outDir)
    manifest(spark, res).write.mode("overwrite").parquet(s"$outDir/manifest")
    // NOTE: train/safe/hostKept/clean are one-off Iterate.checkpoint
    // pins, not fixpoint rounds, so nothing here releases them; a
    // Dataset.unpersist would free nothing (a checkpoint's blocks sit
    // under its LogicalRDD's RDD — GraftSqlBridge.releaseCheckpoint).
    // Local-mode blocks free when the context cleaner collects those
    // RDDs after this method's references drop; reliable-mode files
    // need the cleaner flag (see Iterate's doc on who releases what).
    res
  }

  private def manifest(spark: SparkSession, r: Result): DataFrame = {
    import spark.implicits._
    Seq(("docs", r.nDocs), ("curated", r.nCurated), ("train", r.nTrain),
      ("dlp_safe", r.nSafe), ("host_ranked", r.nHostKept),
      ("clean", r.nClean),
      ("packed_docs", r.nPacked), ("packs", r.nPacks))
      .toDF("stage", "rows")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-e2e").toString)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = run(spark, sfDir, outDir)
    println(s"""{"docs":${r.nDocs},"curated":${r.nCurated},""" +
      s""""train":${r.nTrain},"clean":${r.nClean},""" +
      s""""packed_docs":${r.nPacked},"packs":${r.nPacks},""" +
      s""""out":"${r.outDir}"}""")
    spark.stop()
  }
}
