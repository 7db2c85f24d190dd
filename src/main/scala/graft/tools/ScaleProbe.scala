package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
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
  *   runMain graft.tools.ScaleProbe jobs <query>     per-job wall times of
  *       one warm run (job description, else call site): where the time goes
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
      case Some("jobs") => jobs(spark, args(1), sf)
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

  /** Warmup, then one recorded run with a listener printing every Spark
    * job's start offset and wall time. */
  private def jobs(spark: SparkSession, q: String, sf: String): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var record = false
    @volatile var t0ns = System.nanoTime()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")
          val site = Option(js.properties)
            .map(_.getProperty("callSite.short", "")).getOrElse("")
          starts.put(js.jobId, (System.nanoTime(),
            if (desc.nonEmpty) desc else site))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = starts.remove(je.jobId)
          if (record && st != null)
            println(f"[jobs] #${je.jobId}%-4d @${(st._1 - t0ns) / 1e9}%8.3f ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2}")
        }
      })
    run(spark, q, sf) // warmup
    record = true
    t0ns = System.nanoTime()
    val t = run(spark, q, sf)
    println(f"[jobs] total $q $t%.2f s   ($sf)")
  }

  private def etl(spark: SparkSession): Unit = {
    import graft.etl.{MigrationFixture, MigrationPipeline}
    Seq(12500, 25000, 100000).foreach { n =>
      val fx = MigrationFixture.ensure(s"target/scaleprobe/etl$n", n, files = 8)
      def once(): Double = time {
        MigrationPipeline.run(spark, MigrationPipeline.MigrationConfig(
          csvPath = fx.csvPath, xmlPath = fx.xmlDir,
          outDir = s"target/scaleprobe/etl$n-out", runId = "probe",
          runDate = "2026-01-01", todayIso = "2026-01-01T00:00:00+00:00",
          strictDuplicateSemantics = false, singleFile = false))
      }
      once() // warmup
      println(f"[scaleprobe] etl n=$n%-7d ${math.min(once(), once())}%.2f s")
    }
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
