package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.GraftSqlBridge

import graft.SparkEntry
import graft.etl.{MigrationFixture, MigrationPipeline}
import graft.operators.TextAnalysis

/** Dev probe harness: times, traces and inspects registered queries and
  * the migration ETL in a fresh JVM, through the same session recipe as
  * Bench (`SparkEntry.session`, 32 cores). Queries read
  * `SPARK_GRAFT_SF_DIR` (default sf0.1); `<queries>` is a comma list.
  *
  *   runMain graft.tools.ScaleProbe iso <queries>    each query alone:
  *       warmup, then min / median / max of the timed runs — the arbiter
  *       for Bench movers (Bench times a query after ~110 others have
  *       churned the heap and the OS page cache)
  *   runMain graft.tools.ScaleProbe jobs <query|etl> per-job wall times of
  *       one warm run, each job labelled by its last stage's operator
  *       scopes and task count: where the time goes. `etl` is one
  *       MigrationPipeline.run with the RunMigration defaults (strict,
  *       single file) on the 25k-customer fixture
  *   runMain graft.tools.ScaleProbe [<queries>]      corpus growth: sf0.1
  *       documents/events/orders amplified ×1/×4/×16, warmup + min-of-2
  *   runMain graft.tools.ScaleProbe vec [<queries>]  vector growth: sf0.1
  *       embeddings amplified ×1/×10/×100, warmup + min-of-2
  *   runMain graft.tools.ScaleProbe etl              MigrationPipeline.run
  *       at 12.5k/25k/100k customers (distributed mode)
  *   runMain graft.tools.ScaleProbe plan <queries>   formatted physical plans
  *   runMain graft.tools.ScaleProbe audit            every registered query's
  *       plan: Exchange count and Cartesian/BNLJ/SMJ red flags
  *
  * Measurements of the one-off probes this harness used to carry are in
  * SCALE.md, which names the commit whose harness re-runs them.
  */
object ScaleProbe {
  /** Timed runs per query in `iso` (after one warmup run). */
  private val isoRuns = 3

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(32)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def list(i: Int, default: String = ""): Seq[String] =
      args.lift(i).getOrElse(default).split(",").toSeq.filter(_.nonEmpty)
    args.headOption match {
      case Some("iso") => list(1).foreach { q =>
        run(spark, q, sf) // warmup
        val ts = Seq.fill(isoRuns)(run(spark, q, sf)).sorted
        println(f"[scaleprobe] iso $q%-28s min ${ts.head}%.2f  med ${ts(ts.size / 2)}%.2f  max ${ts.last}%.2f s   ($sf)")
      }
      case Some("jobs") => args(1) match {
        case "etl" => jobs(spark, "etl 25k", migrate(spark, 25000, distributed = false))
        case q => jobs(spark, s"$q ($sf)", run(spark, q, sf))
      }
      case Some("etl") => etl(spark)
      case Some("plan") => list(1).foreach { q =>
        println(s"########## $q ##########")
        SparkEntry.queries(q)(spark, sf).explain("formatted")
      }
      case Some("audit") => audit(spark, sf)
      case Some("vec") =>
        grow(spark, Seq(1, 10, 100), "v", amplifyVec, list(1, "q_sim1_cosine_topk"))
      case _ => grow(spark, Seq(1, 4, 16), "x", amplify, list(0, "q_d14_span_dedup"))
    }
    spark.stop()
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** One full execution of a registered query into the noop sink. */
  private def run(spark: SparkSession, q: String, dir: String): Double = time {
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
  }

  /** Warmup, then one recorded run of `once` with a listener printing
    * every Spark job's start offset, wall time, and its last stage's
    * operator scopes (AQE stage jobs carry no call site) and task count. */
  private def jobs(spark: SparkSession, what: String, once: => Double): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var record = false
    @volatile var t0ns = System.nanoTime()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val last = js.stageInfos.maxBy(_.stageId)
          val scopes = last.rddInfos.sortBy(-_.id)
            .flatMap(GraftSqlBridge.scopeName).map(_.replaceAll(" \\(\\d+\\)$", "")).distinct
          starts.put(js.jobId, (System.nanoTime(),
            s"${scopes.mkString("[", ",", "]")} ${last.numTasks} tasks"))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = starts.remove(je.jobId)
          if (record && st != null)
            println(f"[jobs] #${je.jobId}%-4d @${(st._1 - t0ns) / 1e9}%8.3f ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2}")
        }
      })
    once // warmup
    record = true
    t0ns = System.nanoTime()
    val t = once
    println(f"[jobs] total $what $t%.2f s")
  }

  /** One MigrationPipeline.run on the n-customer fixture in 8 shards:
    * the RunMigration defaults, or the distributed fast path. */
  private def migrate(spark: SparkSession, n: Int, distributed: Boolean): Double = {
    val fx = MigrationFixture.ensure(s"target/scaleprobe/etl$n", n, files = 8)
    time {
      MigrationPipeline.run(spark, MigrationPipeline.MigrationConfig(
        csvPath = fx.csvPath, xmlPath = fx.xmlDir,
        outDir = s"target/scaleprobe/etl$n-out", runId = "probe",
        runDate = "2026-01-01", todayIso = "2026-01-01T00:00:00+00:00",
        strictDuplicateSemantics = !distributed, singleFile = !distributed))
    }
  }

  private def etl(spark: SparkSession): Unit =
    Seq(12500, 25000, 100000).foreach { n =>
      migrate(spark, n, distributed = true) // warmup
      val t = math.min(migrate(spark, n, distributed = true), migrate(spark, n, distributed = true))
      println(f"[scaleprobe] etl n=$n%-7d $t%.2f s")
    }

  /** Plans every registered query (no execution) and flags the shapes
    * that do not scale. Under AQE the pre-execution plan string hides
    * WholeStageCodegen spans, so codegen is not audited here. */
  private def audit(spark: SparkSession, sf: String): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BNLJ" -> plan.contains("BroadcastNestedLoopJoin"),
          "SMJ" -> plan.contains("SortMergeJoin")
        ).collect { case (f, true) => f }
        val nEx = "Exchange".r.findAllIn(plan).size
        println(f"$name%-28s exchanges=$nEx%-3d ${flags.mkString(",")}")
      } catch { case e: Throwable => println(s"$name ERROR ${e.getMessage.take(80)}") }
    }

  /** Amplifies sf0.1 by each factor into `target/scaleprobe/<tag><f>`
    * (once; a marker file records a finished copy), then times each query
    * on every copy: warmup + min-of-2. */
  private def grow(spark: SparkSession, factors: Seq[Int], tag: String,
      amplifyTo: (SparkSession, String, String, Int) => Unit,
      queries: Seq[String]): Unit = {
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not a mode or a registered query: ${unknown.mkString(",")}")
    factors.foreach { f =>
      val dir = s"target/scaleprobe/$tag$f"
      // versioned marker: copies made before events/orders were amplified
      // carry only `.done` and regenerate instead of crashing those probes
      val done = new java.io.File(s"$dir/.done_v2")
      if (!done.exists) {
        amplifyTo(spark, "/root/testdata/sf0.1", dir, f)
        done.createNewFile()
      }
      queries.foreach { q =>
        run(spark, q, dir) // warmup
        println(f"[scaleprobe] x$f%-3d $q%-28s ${math.min(run(spark, q, dir), run(spark, q, dir))}%.2f s")
      }
    }
  }

  /** Token-salted ×`f` amplification of `src/documents.parquet` (copy k
    * prefixes every non-stopword token with `c<k>`, so cross-copy
    * shingles and spans do not collide and the duplicate structure stays
    * constant; plain copies would grow candidate pairs quadratically), plus
    * key-shifted copies of `events` (new user ids per copy — per-key row
    * counts stay constant, the realistic growth axis) and `orders`, so
    * corpus-mode probes can run any documents/events/orders query. */
  private def amplify(spark: SparkSession, src: String, dst: String, f: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // stopwords stay unsalted: language ID and the quality gates read
    // stopword ratios, which a salted "c3the" would zero in every copy
    val stop =
      array(TextAnalysis.langStopwords.flatMap(_._2).distinct.map(lit): _*)
    (0 until f).map { k =>
      docs.select(
        (col("doc_id") + lit(k * n)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), "\\s+"),
          t => when(array_contains(stop, t), t)
            .otherwise(concat(lit(s"c$k"), t)))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // events.ts passes through untouched whatever its physical type
    // (long nanos under the legacy flag, or native TIMESTAMP_NTZ) — the
    // copy round-trips it and Tables.normalizeTs adapts on read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val (en, eu) = {
      val r = ev.agg(max(col("event_id")), max(col("user_id"))).head()
      (r.getLong(0) + 1, r.getLong(1) + 1)
    }
    (0 until f).map { k =>
      ev.select((col("event_id") + lit(k * en)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * eu)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val on = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    (0 until f).map { k =>
      ord.select((col("o_orderkey") + lit(k * on)).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
  }

  /** Id-remapped ×`f` amplification of `src/embeddings.parquet`. */
  private def amplifyVec(spark: SparkSession, src: String, dst: String, f: Int): Unit = {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val n = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    (0 until f).map { k =>
      emb.select((col("vec_id") + lit(k * n)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }
}
