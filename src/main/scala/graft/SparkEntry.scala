package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{queries => qpacks}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every QueryPack's operator queries + DuckDB oracles.
  */
object SparkEntry {

  /** All operator packs. Each pack maps rows of SURVEY.md §2 (plus the
    * LLM-pipeline extension surface) to verifiable queries. */
  private def packs: Seq[QueryPack] = Seq(
    qpacks.RelationalQueries,
    qpacks.NestedQueries,
    qpacks.TextQueries,
    qpacks.DedupQueries,
    qpacks.CurationQueries,
    qpacks.SimilarityQueries,
    qpacks.PqQueries,
    qpacks.EventQueries,
    qpacks.MultimodalQueries,
    qpacks.GraphQueries,
    qpacks.ExtraQueries)

  private lazy val qs: Seq[Q] = packs.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.spark).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    qs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** The one session recipe every main (and the test session) builds
    * through. Its only inputs are deployment values: the core count,
    * which also sets the shuffle partitions, and an optional master URL
    * (default `local[cores]`). Everything else is fixed here: the graft
    * extensions (as-of planner strategy, `asof_join` TVF, native SQL
    * functions), AQE, UTC, a codegen cache large enough that a full
    * query pass keeps every generated class resident (the default 100
    * entries evicts classes before their next use), no UI, WARN logs. */
  def session(cores: Int, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
