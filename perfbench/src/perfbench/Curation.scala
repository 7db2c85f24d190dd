package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Dedup, TextAnalysis}

/** The registered funnel query over the generated corpus in `dataDir`
  * (`documents.parquet`). Every execution's rows must equal the DuckDB
  * oracle's rows in `expected.tsv`. */
final class CurationWorkload(spark: SparkSession, dataDir: String) extends Workload {
  val query = "q_x103_funnel_host_gate"

  private val expected: Seq[String] =
    Files.readAllLines(Paths.get(dataDir, "expected.tsv"), UTF_8).asScala.toSeq.sorted

  private lazy val docs = spark.read.parquet(s"$dataDir/documents.parquet")
  val items: Long = Files.readString(Paths.get(dataDir, "documents.count")).trim.toLong

  def execute(i: Int): Any = SparkEntry.queries(query)(spark, dataDir).collect()

  def check(result: Any, i: Int): Seq[String] = {
    val got = result.asInstanceOf[Array[Row]].map(_.toSeq.mkString("\t")).toSeq.sorted
    if (got == expected) Nil
    else Seq(s"$query: ${got.diff(expected).size} rows differ from the oracle, e.g. " +
      got.diff(expected).take(2).mkString(" | "))
  }

  def cleanup(i: Int): Unit = ()

  def executionMetrics(result: Any, engine: Map[String, Double]): Map[String, Double] = Map.empty

  private var candidatePairs = 0L
  private var verifiedPairs = 0L

  /** The operators the funnel chains, called one by one with the query's
    * parameters, each over the cached output of the stage before. */
  def layers(tr: Tracer, i: Int): Seq[String] = {
    val quality = tr.span("curation.quality_gate") {
      val toks = TextAnalysis.tokens(col("text"))
      val n = size(toks)
      val q = docs.select(col("doc_id"), col("text"), toks.as("toks"))
        .filter(n >= 20 &&
          round(length(array_join(col("toks"), "")).cast("double") / n, 4).between(2.0, 10.0) &&
          round(TextAnalysis.hitCount(col("toks"), TextAnalysis.langStopwords.head._2)
            .cast("double") / n, 4) >= 0.02)
        .select(col("doc_id"), col("text")).cache()
      q.count(); q
    }
    val exact = tr.span("dedup.exact") {
      val keepers = Dedup.exactGroups(quality, "text", "doc_id").select(col("keeper_id").as("doc_id"))
      val e = quality.join(keepers, Seq("doc_id"), "left_semi").cache()
      e.count(); e
    }
    val cand = tr.span("dedup.minhash_candidates") {
      val c = Dedup.minhashCandidatesMapOnly(exact, "text", "doc_id")
        .select(col("a_id"), col("b_id")).distinct().cache()
      candidatePairs = c.count(); c
    }
    verifiedPairs = tr.span("dedup.verify_pairs") {
      Dedup.jaccardForPairs(cand, Dedup.docShingles(exact, "text", "doc_id"), 1).count()
    }
    tr.span("dedup.verified_clusters") {
      Dedup.verifiedClusters(exact, "text", "doc_id").count()
    }
    tr.span("graph.host_rank") {
      val urls = docs.select(col("doc_id"), concat(lit("HTTP://H"), (col("doc_id") % 20).cast("string"),
        lit(".COM:80/p/"), col("doc_id").cast("string"), lit("?utm_source=x&a=1")).as("url"))
      val links = docs.select(col("doc_id"), explode(array(
        concat(lit("https://h"), ((col("doc_id") * 7) % 10).cast("string"), lit(".com:443/l?b=2")),
        concat(lit("https://h"), ((col("doc_id") * 13 + 3) % 20).cast("string"), lit(".com/l2#frag"))))
        .as("link_url"))
      TextAnalysis.hostRankFeature(urls, "url", links, "link_url", 3, "doc_id").count()
    }
    Seq(quality, exact, cand).foreach(_.unpersist(blocking = true))
    Nil
  }

  val layerSpans: Seq[(String, String)] = Seq(
    "dedup.exact_ms" -> "dedup.exact",
    "dedup.minhash_candidates_ms" -> "dedup.minhash_candidates",
    "dedup.verified_clusters_ms" -> "dedup.verified_clusters",
    "graph.host_rank_ms" -> "graph.host_rank")

  override def layerCounts: Map[String, Double] = Map(
    "dedup.candidate_pairs" -> candidatePairs.toDouble,
    "dedup.verified_pairs" -> verifiedPairs.toDouble,
    "dedup.candidate_precision" ->
      (if (candidatePairs == 0) 0.0 else verifiedPairs.toDouble / candidatePairs))
}
