package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Iterate, TextAnalysis}

/** Dev tool: empirical scaling probe (the SCALE.md "Measured scaling"
  * harness, committed this round so the numbers are reproducible).
  *
  * Corpus mode — `runMain graft.tools.ScaleProbe q_d14_span_dedup,q_x17_pii_redact`:
  * amplifies the sf0.1 documents corpus ×1/×4/×16 with TOKEN-SALTED
  * copies (copy k prefixes every non-stopword token with `c<k>`, so
  * cross-copy shingles/spans do not collide and the dup structure stays
  * constant — plain duplication would grow candidate pairs
  * quadratically in the copy count, an artifact of duplication, not
  * scale; stopwords stay as they are, so every copy keeps the
  * original's stopword ratio and passes the same language-ID and
  * quality gates), then runs each
  * named registered query with a full warmup pass + min-of-2, same
  * protocol as Bench.
  *
  * ETL mode — `runMain graft.tools.ScaleProbe etl`: end-to-end
  * MigrationPipeline.run over generated fixtures at 12.5k/25k/100k
  * customers (distributed mode, unique-id fast path).
  *
  * Vector mode — `runMain graft.tools.ScaleProbe vec q_sim1_cosine_topk`:
  * amplifies the sf0.1 embeddings ×1/×10/×100 (2k → 200k vectors; exact
  * copies with remapped ids — per-vector work, no pair structure to
  * distort), the round-4 ANN-scaling protocol.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Iso mode — `runMain graft.tools.ScaleProbe iso q_x10_repetition,...`:
    // each named registered query alone against sf0.1 in THIS fresh JVM,
    // full warmup + min-of-2. This is the arbiter for cross-run Bench
    // movers: Bench times a query after ~110 others have churned the heap
    // and the OS page cache, so a suite-order-sensitive query can read
    // 2-4x its isolated cost there. If the iso number reproduces the old
    // call-site A/B, the box (or suite order) is the cause, not the code.
    if (args.headOption.contains("iso")) {
      val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      args.drop(1).headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
        .foreach { q =>
          def run(): Double = time {
            graft.SparkEntry.queries(q)(spark, sf)
              .write.format("noop").mode("overwrite").save()
          }
          run() // warmup
          val best = Seq(run(), run(), run()).min // min-of-3 (round-8 verdict's arbitration bar)
          println(f"[scaleprobe] iso $q%-28s $best%.2f s   ($sf)")
        }
      spark.stop(); return
    }

    // Jobs mode — `runMain graft.tools.ScaleProbe jobs q_m12_audio_clusters`:
    // one named query (warmup + 1 measured run) with a listener printing
    // every Spark job's wall time — the dev lens for stage-overhead-bound
    // queries (guide §1.1: decide WHERE the time goes before touching
    // anything). Job description = whatever the operator set, else the
    // call site.
    if (args.headOption.contains("jobs")) {
      val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val q = args(1)
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
      def run(): Double = time {
        graft.SparkEntry.queries(q)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      run() // warmup
      record = true
      t0ns = System.nanoTime()
      val t = run()
      println(f"[jobs] total $q $t%.2f s   ($sf)")
      spark.stop(); return
    }

    // Graph tier — `runMain graft.tools.ScaleProbe graph`: the five
    // iterative graph queries (the recurring bench-churn arbitration
    // customers — r13/r14 showed driver in-suite readings up to ~5x
    // their fresh-JVM floors on unchanged code) as ONE fixed fresh-JVM
    // iso table per round: warmup + min-of-3 each, sf0.1. Paste the
    // table into SCALE.md; a real regression is a mover HERE, not in
    // the suite-order-sensitive Bench reading.
    if (args.headOption.contains("graph")) {
      val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      Seq("q_g1_pagerank", "q_g3_hits", "q_g7_triangles",
        "q_g10_adamic_adar", "q_g11_shortest_paths").foreach { q =>
        def run(): Double = time {
          graft.SparkEntry.queries(q)(spark, sf)
            .write.format("noop").mode("overwrite").save()
        }
        run()
        val best = Seq(run(), run(), run()).min
        println(f"[scaleprobe] graph $q%-26s $best%.2f s   ($sf)")
      }
      spark.stop(); return
    }

    // Flagship mode — `runMain graft.tools.ScaleProbe flagship`: the five
    // headline queries at x4-amplified sf0.1 (documents token-salted,
    // embeddings id-remapped, lineitem key-shifted) + the 400k-customer
    // ETL, each min-of-3 after a warmup. One fresh-JVM table per round in
    // SCALE.md, insulated from suite-order effects and big enough that
    // the box's 20-30% noise band doesn't swamp a real regression.
    if (args.headOption.contains("flagship")) {
      val dir = "target/scaleprobe/flagship"
      val marker = new java.io.File(s"$dir/.done")
      if (!marker.exists) {
        amplify(spark, "/root/testdata/sf0.1", dir, 4)
        amplifyVec(spark, "/root/testdata/sf0.1", dir, 4)
        val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        val n = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1
        (0 until 4).map(k => li.withColumn("l_orderkey", col("l_orderkey") + lit(k * n)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        marker.createNewFile()
      }
      def min3(f: => Double): Double = { f /* warmup */; Seq(f, f, f).min }
      Seq("q1_agg", "q_d7_verified_clusters", "q_sim5_ivf_topk",
          "q_pq4_ivfpq_topk").foreach { q =>
        val t = min3(time {
          graft.SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        })
        println(f"[scaleprobe] flagship $q%-24s $t%.2f s   (x4 sf0.1, min-of-3)")
      }
      import graft.etl.{MigrationFixture, MigrationPipeline}
      val fx = MigrationFixture.ensure(s"$dir/etl400k", 400000, files = 8)
      val tEtl = min3(time {
        MigrationPipeline.run(spark, MigrationPipeline.MigrationConfig(
          csvPath = fx.csvPath, xmlPath = fx.xmlDir,
          outDir = s"$dir/etl400k-out", runId = "probe",
          runDate = "2026-01-01", todayIso = "2026-01-01T00:00:00+00:00",
          strictDuplicateSemantics = false, singleFile = false))
      })
      println(f"[scaleprobe] flagship etl_migration_400k       $tEtl%.2f s   (min-of-3)")
      spark.stop(); return
    }

    // pHash dedup scaling — `runMain graft.tools.ScaleProbe phash`:
    // (a) the decode+hash stage over ×1/×4/×16 media counts (map-only,
    // expect ~linear), and (b) the banded match + CC stage over a
    // WELL-DISTRIBUTED 32-bit hash with planted 1-bit twins every 10th
    // id — the real-pHash shape. The registered q_m9/q_m10 fixture
    // deliberately SATURATES its hash space (206 distinct values) to
    // exercise the bucket-skew path; scaling that fixture would measure
    // cluster pathology, not the operator, so the probe separates them.
    if (args.headOption.contains("phash")) {
      import org.apache.spark.sql.functions._
      Seq(5000, 20000, 80000).foreach { n =>
        val ids = spark.range(1, n + 1).select(col("id").as("media_id"))
        def runHash(): Double = time {
          graft.operators.Multimodal.imageAHash(spark,
            graft.operators.Multimodal.synthesizeImages(spark, ids, 16, 8),
            8, 4).write.format("noop").mode("overwrite").save()
        }
        runHash()
        val tH = Seq(runHash(), runHash()).min
        val base = spark.range(1, n + 1).select(col("id").as("media_id"),
          conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
            .cast("long").as("ahash"))
        val twins = base.where(col("media_id") % 10 === 0)
          .select((col("media_id") + 100000000L).as("media_id"),
            expr("ahash ^ (CAST(1 AS BIGINT) << CAST(media_id % 32 AS INT))")
              .as("ahash"))
        val hashes = Iterate.checkpoint(base.unionAll(twins))
        def runMatch(): Double = time {
          graft.operators.Dedup.connectedComponents(
            graft.operators.Multimodal.hashNearDupPairs(hashes, 4, 8, 3))
            .write.format("noop").mode("overwrite").save()
        }
        runMatch()
        val tM = Seq(runMatch(), runMatch()).min
        println(f"[scaleprobe] phash n=$n%-6d hash $tH%.2f s   match+cc $tM%.2f s")
      }
      spark.stop(); return
    }

    // Audio dedup scaling — `runMain graft.tools.ScaleProbe audio`:
    // (a) WAV decode + chromaprint-lite fingerprint over ×1/×4/×16 media
    // counts (map-only, expect ~linear), and (b) the distinct-collapse
    // match + cluster stages over the SAME dup-heavy regime the
    // registered q_m11/q_m12 run in (the synth signal space folds to
    // ~100 distinct fingerprints, so media-level pair work would be
    // Θ(dup²) — the collapse is what keeps this flat-ish while media
    // grow; the hash-graph size stays constant by construction).
    if (args.headOption.contains("audio")) {
      import org.apache.spark.sql.functions._
      import graft.operators.Multimodal
      Seq(5000, 20000, 80000).foreach { n =>
        val ids = spark.range(1, n + 1).select(col("id").as("media_id"))
        lazy val origs = Multimodal.synthesizeAudio(spark, ids, 160)
        lazy val varts = Multimodal.transformMedia(spark, origs,
          Multimodal.SampleShift(5, 700))
        def runFp(): Double = time {
          Multimodal.audioFingerprint(spark, origs)
            .write.format("noop").mode("overwrite").save()
        }
        runFp()
        val tF = Seq(runFp(), runFp()).min
        val fo = Iterate.checkpoint(Multimodal.audioFingerprint(spark, origs))
        val fv = Iterate.checkpoint(Multimodal.audioFingerprint(spark, varts))
        def runMatch(): Double = time {
          Multimodal.matchByHashDistinct(fo, fv, 4, 8, 3)
            .write.format("noop").mode("overwrite").save()
        }
        runMatch()
        val tM = Seq(runMatch(), runMatch()).min
        val fps = fo.unionAll(fv.select(
          (col("media_id") + 100000000L).as("media_id"), col("ahash")))
        def runCc(): Double = time {
          Multimodal.hashDedupClusters(fps, 4, 8, 3)
            .write.format("noop").mode("overwrite").save()
        }
        runCc()
        val tC = Seq(runCc(), runCc()).min
        println(f"[scaleprobe] audio n=$n%-6d fp $tF%.2f s   match $tM%.2f s   clusters $tC%.2f s")
      }
      spark.stop(); return
    }

    // Video dedup scaling — `runMain graft.tools.ScaleProbe video`: the
    // audio probe's protocol on the video axis (GVID parse + 2 sampled-
    // frame PNG decodes per medium; match/clusters via the distinct
    // collapse in the same dup-heavy regime).
    if (args.headOption.contains("video")) {
      import org.apache.spark.sql.functions._
      import graft.operators.Multimodal
      Seq(5000, 20000, 80000).foreach { n =>
        val ids = spark.range(1, n + 1).select(col("id").as("media_id"))
        lazy val origs = Multimodal.synthesizeVideos(spark, ids, 16, 8,
          nFrames = 6)
        lazy val varts = Multimodal.transformMedia(spark, origs,
          Multimodal.FramePixelShift(0, 1, 128))
        def runFp(): Double = time {
          Multimodal.videoFingerprint(spark, origs, 4, 4, 4, 2)
            .write.format("noop").mode("overwrite").save()
        }
        runFp()
        val tF = Seq(runFp(), runFp()).min
        val fo = Iterate.checkpoint(
          Multimodal.videoFingerprint(spark, origs, 4, 4, 4, 2))
        val fv = Iterate.checkpoint(
          Multimodal.videoFingerprint(spark, varts, 4, 4, 4, 2))
        def runMatch(): Double = time {
          Multimodal.matchByHashDistinct(fo, fv, 4, 8, 3)
            .write.format("noop").mode("overwrite").save()
        }
        runMatch()
        val tM = Seq(runMatch(), runMatch()).min
        val fps = fo.unionAll(fv.select(
          (col("media_id") + 100000000L).as("media_id"), col("ahash")))
        def runCc(): Double = time {
          Multimodal.hashDedupClusters(fps, 4, 8, 3)
            .write.format("noop").mode("overwrite").save()
        }
        runCc()
        val tC = Seq(runCc(), runCc()).min
        println(f"[scaleprobe] video n=$n%-6d fp $tF%.2f s   match $tM%.2f s   clusters $tC%.2f s")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("etl")) {
      import graft.etl.{MigrationFixture, MigrationPipeline}
      Seq(12500, 25000, 100000).foreach { n =>
        val fx = MigrationFixture.ensure(s"target/scaleprobe/etl$n", n, files = 8)
        def run(): Double = time {
          MigrationPipeline.run(spark, MigrationPipeline.MigrationConfig(
            csvPath = fx.csvPath, xmlPath = fx.xmlDir,
            outDir = s"target/scaleprobe/etl$n-out", runId = "probe",
            runDate = "2026-01-01", todayIso = "2026-01-01T00:00:00+00:00",
            strictDuplicateSemantics = false, singleFile = false))
        }
        run() // warmup
        println(f"[scaleprobe] etl n=$n%-7d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // A/B the per-query top-k primitive in isolation: identical scored
    // relation (8 queries × N/8 candidates each), (a) the former
    // row_number window, (b) the bounded TopKAggregator shape shipped in
    // Similarity.perQueryTopK. The window must shuffle ALL N rows into 8
    // reducer groups and sort each; the bounded buffer partial-combines
    // to ≤k rows per (query, map task).
    // Streaming-operator throughput — `runMain graft.tools.ScaleProbe
    // stream`: N synthetic events through MemoryStream micro-batches
    // into (a) the tumbling-window aggregation, (b) event-level
    // sessionTags, (c) funnelReach; wall-clock over processAllAvailable,
    // reported as events/sec. The state-store paths get a measured
    // number instead of an assumed one.
    if (args.headOption.contains("stream")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.col
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val n = 400000
      val batches = 8
      val users = 5000
      val types = Array("view", "cart", "buy", "noise")
      def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
        (i.toLong % users, i.toLong, types(i % types.length),
          new java.sql.Timestamp(1704067200000L + (i.toLong * 7919) % 86400000L))
      }
      def drive(name: String, mk: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame): Unit = {
        val input = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
        val q = mk(input.toDF().toDF("user_id", "event_id", "event_type", "ts"))
          .writeStream.outputMode(
            if (name == "tumbling") "complete" else "append")
          .format("memory").queryName(s"probe_$name").start()
        try {
          val t0 = System.nanoTime()
          (0 until batches).foreach { b =>
            input.addData(rows(b * n / batches, (b + 1) * n / batches))
            q.processAllAvailable()
          }
          // sentinel flush for the finalized-prefix operators
          input.addData(Seq((999999L, 999999999L, "view",
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))))
          q.processAllAvailable()
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"[scaleprobe] stream $name%-10s $n events / $batches batches: " +
            f"$secs%6.2f s  (${n / secs}%,.0f ev/s)")
        } finally q.stop()
      }
      drive("tumbling", df => graft.streaming.EventStreams.tumblingCounts(
        df.withColumn("value", col("event_id").cast("double"))))
      drive("sessionize", df => graft.streaming.EventStreams
        .sessionTags(spark, df, watermark = "2 hours").toDF())
      drive("funnel", df => graft.streaming.EventStreams
        .funnelReach(spark, df, Seq("view", "cart", "buy"),
          watermark = "2 hours").toDF())
      spark.stop(); return
    }

    // Continuous-ingest throughput — `runMain graft.tools.ScaleProbe
    // ingest`: the documents corpus (×1 then ×4 token-salted) split into
    // 4 sequential batches through Dedup.ingestBatch — measures what the
    // streaming loop actually pays per trigger, and how the per-batch
    // cost moves as the signature STORE accumulates the prior batches
    // (batch 3 classifies against 3 batches of signatures).
    if (args.headOption.contains("ingest")) {
      Seq(1, 4).foreach { f =>
        val dir = s"target/scaleprobe/x$f"
        val marker = new java.io.File(s"$dir/.done_v2")
        if (!marker.exists) {
          amplify(spark, "/root/testdata/sf0.1", dir, f)
          marker.createNewFile()
        }
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val root = java.nio.file.Files.createTempDirectory(s"ingest-x$f")
        val times = (0 until 4).map { b =>
          val batch = docs.filter(col("doc_id") % 4 === b)
          val t0 = System.nanoTime()
          // the call's internal writes ARE the per-trigger work; writing
          // the RETURNED status frame would re-run the classification a
          // second time (it is deliberately recomputable) and inflate
          // the number — the streaming loop discards it too
          graft.operators.Dedup.ingestBatch(batch, b.toLong,
            s"$root/sigs", s"$root/out", "text", "doc_id")
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[scaleprobe] ingest x$f%-3d " +
          times.zipWithIndex.map { case (t, b) => f"b$b ${t}%.2f s" }
            .mkString("   "))
      }
      spark.stop(); return
    }

    // Checkpoint-mode tax — `runMain graft.tools.ScaleProbe ckpt`: the
    // iterative graph queries under (a) localCheckpoint (the local[32]
    // default) and (b) a RELIABLE checkpoint dir (what a cluster
    // deployment sets for executor-loss recovery — Iterate.checkpoint
    // switches on the dir). Quantifies the fault-tolerance tax so the
    // 100 TB knob is a measured trade, not a guess.
    if (args.headOption.contains("ckpt")) {
      val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      Seq("q_g1_pagerank", "q_g6_label_prop").foreach { q =>
        def run(): Double = time {
          graft.SparkEntry.queries(q)(spark, sf)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        val tLocal = math.min(run(), run())
        val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-probe")
        spark.sparkContext.setCheckpointDir(dir.toString)
        val tReliable =
          try { run(); math.min(run(), run()) }
          finally spark.sparkContext.setCheckpointDir(null)
        println(f"[scaleprobe] ckpt $q%-20s local $tLocal%5.2f s   reliable $tReliable%5.2f s   (${tReliable / tLocal}%.2fx)")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("topk")) {
      import org.apache.spark.sql.expressions.Window
      // third contender: Spark's native CollectTopK (the internal
      // window-group-limit aggregate — expression-only, so register it
      // as a temp function here) over struct(score, -id) so the
      // (score desc, id asc) tiebreak contract matches the bounded
      // TopKAggregator exactly
      // CollectTopK is private[sql] — probe-only reflection (NOT a shape
      // used by the shipped operators; this A/B decides whether it should)
      val ctkCtor = Class
        .forName("org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK")
        .getConstructor(
          classOf[org.apache.spark.sql.catalyst.expressions.Expression],
          java.lang.Integer.TYPE, java.lang.Boolean.TYPE,
          java.lang.Integer.TYPE, java.lang.Integer.TYPE)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "collect_top_k",
        exprs => ctkCtor.newInstance(exprs(0),
            Int.box(exprs(1).eval().asInstanceOf[Int]),
            Boolean.box(exprs(2).eval().asInstanceOf[Boolean]),
            Int.box(0), Int.box(0))
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression],
        "internal")
      def native(scored: org.apache.spark.sql.DataFrame, k: Int) =
        scored.groupBy(col("query_id"))
          .agg(expr(s"collect_top_k(struct(score, -neighbor_id AS nid), $k, false)")
            .as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("query_id"), (-col("t.nid")).as("neighbor_id"),
            col("t.score").as("score"), (col("pos") + lit(1)).as("rnk"))
      // correctness gate before any timing: native == bounded-agg on a
      // small relation (ordering AND tiebreak)
      val small = spark.range(1000).select(
        (col("id") % 8).as("query_id"), col("id").as("neighbor_id"),
        (pmod(hash(col("id")), lit(100)) / 1e2).as("score"))
      val a = graft.operators.Similarity.perQueryTopK(small, 10).collect().toSet
      val b = native(small, 10).collect().toSet
      require(a == b, s"collect_top_k contender diverged from TopKAggregator:\n${(a -- b)}\n${(b -- a)}")
      Seq(1000000L, 10000000L, 100000000L).foreach { n =>
        def scored = spark.range(n).select(
          (col("id") % 8).as("query_id"), col("id").as("neighbor_id"),
          (pmod(hash(col("id")), lit(1000000)) / 1e6).as("score"))
        def run(f: => Unit): Double = { f /* warmup */; math.min(time(f), time(f)) }
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))
        val tWin = run(scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .write.format("noop").mode("overwrite").save())
        val tAgg = run(graft.operators.Similarity.perQueryTopK(scored, 10)
          .write.format("noop").mode("overwrite").save())
        val tNat = run(native(scored, 10)
          .write.format("noop").mode("overwrite").save())
        println(f"[scaleprobe] topk n=$n%-10d window $tWin%6.2f s   bounded-agg $tAgg%6.2f s   collect_top_k $tNat%6.2f s")
      }
      spark.stop(); return
    }

    // Graph-edge growth — `runMain graft.tools.ScaleProbe graph`: the
    // weighted-PageRank query (and HITS as its comparator) at ×1/×4/×16
    // EDGE amplification. Orders AND lineitem copy with consistently
    // shifted order keys (the join key) and shifted customer/supplier
    // ids, so each copy is a disjoint subgraph: nodes and edges grow ×f
    // while degree structure stays constant — the realistic growth axis
    // for a trade graph (more entities, not denser ones).
    if (args.headOption.contains("graph")) {
      val src = "/root/testdata/sf0.1"
      Seq(1, 4, 16).foreach { f =>
        val dir = if (f == 1) src else s"target/scaleprobe/g$f"
        if (f > 1) {
          val marker = new java.io.File(s"$dir/.done")
          if (!marker.exists) {
            val ord = spark.read.parquet(s"$src/orders.parquet")
            val li = spark.read.parquet(s"$src/lineitem.parquet")
            val r = ord.agg(max(col("o_orderkey")), max(col("o_custkey"))).head()
            val (on, cn) = (r.getLong(0) + 1, r.getLong(1) + 1)
            val sn = li.agg(max(col("l_suppkey"))).head().getLong(0) + 1
            (0 until f).map(k => ord
                .withColumn("o_orderkey", col("o_orderkey") + lit(k * on))
                .withColumn("o_custkey", col("o_custkey") + lit(k * cn)))
              .reduce(_ unionByName _)
              .write.mode("overwrite").parquet(s"$dir/orders.parquet")
            (0 until f).map(k => li
                .withColumn("l_orderkey", col("l_orderkey") + lit(k * on))
                .withColumn("l_suppkey", col("l_suppkey") + lit(k * sn)))
              .reduce(_ unionByName _)
              .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
            marker.createNewFile()
          }
        }
        Seq("q_g4_wpagerank", "q_g3_hits").foreach { q =>
          def run(): Double = time {
            graft.SparkEntry.queries(q)(spark, dir)
              .write.format("noop").mode("overwrite").save()
          }
          run() // warmup
          println(f"[scaleprobe] graph x$f%-3d $q%-18s ${math.min(run(), run())}%.2f s")
        }
      }
      spark.stop(); return
    }

    // Triangle growth — `runMain graft.tools.ScaleProbe tri`: q_g7 at
    // ×1/×4/×16 EDGE amplification (lineitem copies with shifted order
    // AND part keys, so each copy is a disjoint co-occurrence subgraph:
    // nodes and edges grow ×f, degree structure constant), plus a
    // HUB-SKEW variant — ×1 lineitem with ONE part injected into every
    // ~101st order (~1.5k baskets → a raw co-occurrence degree in the
    // thousands, the celebrity node). Next to each runtime the probe
    // counts the ORIENTED wedge relation (Σ_y inOri(y)·outOri(y), the
    // exact row count of the o1⋈o2 join Graph.triangles executes)
    // against the naive direction-blind count (Σ_y deg·(deg−1)/2) — the
    // O(m^1.5) orientation claim (Graph.scala) made measurable: the hub
    // explodes the naive count and barely moves the oriented one.
    if (args.headOption.contains("tri")) {
      val src = "/root/testdata/sf0.1"
      def liVariant(dir: String)(make: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame): Unit = {
        val marker = new java.io.File(s"$dir/.done")
        if (marker.exists) return
        make(spark.read.parquet(s"$src/lineitem.parquet"))
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        marker.createNewFile()
      }
      def wedgeCounts(dir: String): (Long, Long) = {
        val und = graft.operators.Graph.coOccurrenceEdges(
          spark.read.parquet(s"$dir/lineitem.parquet"),
          "l_orderkey", "l_partkey")
        val deg = und.select(col("src").as("node"))
          .unionAll(und.select(col("dst").as("node")))
          .groupBy("node").agg(count(lit(1)).as("degree"))
        val naive = deg
          .agg(sum(col("degree") * (col("degree") - 1)))
          .head().getLong(0) / 2
        // the same (degree, node) total order Graph.triangles orients by
        val oriented = und
          .join(deg.select(col("node").as("src"), col("degree").as("__da")), "src")
          .join(deg.select(col("node").as("dst"), col("degree").as("__db")), "dst")
          .select(
            when(col("__da") <= col("__db"), col("src")).otherwise(col("dst")).as("u"),
            when(col("__da") <= col("__db"), col("dst")).otherwise(col("src")).as("v"))
        val outd = oriented.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("o"))
        val ind = oriented.groupBy(col("v").as("node"))
          .agg(count(lit(1)).as("i"))
        val wedgeRows = outd.join(ind, Seq("node"))
          .agg(coalesce(sum(col("o") * col("i")), lit(0L)))
          .head().getLong(0)
        (naive, wedgeRows)
      }
      def measure(tag: String, dir: String): Unit = {
        def run(): Double = time {
          graft.SparkEntry.queries("q_g7_triangles")(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        val t = math.min(run(), run())
        val (naive, ori) = wedgeCounts(dir)
        println(f"[scaleprobe] tri $tag%-6s q_g7_triangles ${t}%6.2f s   " +
          f"wedges oriented=$ori%,d naive=$naive%,d (x${naive.toDouble / math.max(ori, 1)}%.1f)")
      }
      Seq(1, 4, 16).foreach { f =>
        val dir = if (f == 1) src else s"target/scaleprobe/tri$f"
        if (f > 1) liVariant(dir) { li =>
          val r = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
          val (on, pn) = (r.getLong(0) + 1, r.getLong(1) + 1)
          (0 until f).map(k => li
              .withColumn("l_orderkey", col("l_orderkey") + lit(k * on))
              .withColumn("l_partkey", col("l_partkey") + lit(k * pn)))
            .reduce(_ unionByName _)
        }
        measure(s"x$f", dir)
      }
      val hubDir = "target/scaleprobe/trihub"
      liVariant(hubDir) { li =>
        val hubId = li.agg(max(col("l_partkey"))).head().getLong(0) + 1
        li.unionByName(li
          .filter(pmod(col("l_orderkey"), lit(101)) === 0)
          .dropDuplicates("l_orderkey")
          .withColumn("l_partkey", lit(hubId)))
      }
      measure("x1+hub", hubDir)
      spark.stop(); return
    }

    // Adamic-Adar growth + cap sweep — `runMain graft.tools.ScaleProbe aa`:
    // (1) the registered q_g10 (even-catalog slice, cap 80) at ×1/×4/×16
    // disjoint-copy growth (reuses the `tri` dirs — build them first or
    // this mode rebuilds them); (2) the CAP SWEEP on the FULL unsliced
    // sf0.1 co-occurrence graph: runtime + the exact wedge-row count
    // Σ C(min(deg,cap),2) at cap 40/80/160/∞ — the knob that bounds the
    // operator's inherently-quadratic common-neighbor work, measured.
    if (args.headOption.contains("aa")) {
      val src = "/root/testdata/sf0.1"
      Seq(1, 4, 16).foreach { f =>
        val dir = if (f == 1) src else s"target/scaleprobe/tri$f"
        if (f > 1) {
          val marker = new java.io.File(s"$dir/.done")
          if (!marker.exists) {
            val li = spark.read.parquet(s"$src/lineitem.parquet")
            val r = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
            val (on, pn) = (r.getLong(0) + 1, r.getLong(1) + 1)
            (0 until f).map(k => li
                .withColumn("l_orderkey", col("l_orderkey") + lit(k * on))
                .withColumn("l_partkey", col("l_partkey") + lit(k * pn)))
              .reduce(_ unionByName _)
              .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
            marker.createNewFile()
          }
        }
        def run(): Double = time {
          graft.SparkEntry.queries("q_g10_adamic_adar")(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] aa x$f%-3d q_g10_adamic_adar ${math.min(run(), run())}%6.2f s")
      }
      val edges = graft.operators.Graph.coOccurrenceEdges(
        spark.read.parquet(s"$src/lineitem.parquet"),
        "l_orderkey", "l_partkey")
      Seq(40, 80, 160, 1000000).foreach { cap =>
        val nb = edges.select(col("src").as("z"))
          .unionAll(edges.select(col("dst").as("z")))
          .groupBy("z").agg(count(lit(1)).as("d"))
          .filter(col("d") >= 2 && col("d") <= cap)
        val wedgeRows = nb.agg(coalesce(sum(col("d") * (col("d") - 1)),
          lit(0L))).head().getLong(0) / 2
        def run(): Double = time {
          graft.operators.Graph.adamicAdar(edges, k = 5, maxDegree = cap)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] aa cap=$cap%-8d full-graph ${math.min(run(), run())}%6.2f s   wedges=$wedgeRows%,d")
      }
      spark.stop(); return
    }

    // Privacy-grid cardinality — `runMain graft.tools.ScaleProbe
    // privacy`: privacyReport's TVD grid is classes × DISTINCT
    // sensitive values (the broadcast crossJoin term); amplify the
    // sensitive cardinality ×1/×4/×16 (3 → 12 → 48 values via a
    // deterministic key-derived suffix) on the unchanged sf0.1 orders
    // and measure where the keys×values grid stops being free.
    if (args.headOption.contains("privacy")) {
      val ord = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
      Seq(1, 4, 16).foreach { m =>
        val df = ord.withColumn("o_status_x",
          concat(col("o_orderstatus"), lit("#"),
            (col("o_orderkey") % m).cast("string")))
        def run(): Double = time {
          graft.operators.Profile.privacyReport(df,
            Seq("o_orderpriority", "o_year"), "o_status_x",
            k = 400, l = 3, t = 0.2)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        val nv = 3 * m
        println(f"[scaleprobe] privacy x$m%-3d ($nv%2d sensitive values) ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // Streaming state size — `runMain graft.tools.ScaleProbe statesize`:
    // the three behavior twins claim state bounded by the observation
    // span, NOT the event count. Fix the user population, grow events
    // ×1/×4/×16, and read the engine's own state-store metrics
    // (numRowsTotal / memoryUsedBytes from the last progress) — flat
    // state under growing events is the claim, now with a number.
    if (args.headOption.contains("statesize")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val users = 5000
      val types = Array("view", "cart", "buy", "noise")
      Seq(1, 4, 16).foreach { f =>
        val n = 100000 * f
        def rows(lo: Int, hi: Int) = (lo until hi).map { i =>
          (i.toLong % users, i.toLong, types(i % types.length),
            new java.sql.Timestamp(1704067200000L + (i.toLong * 7919) % 86400000L))
        }
        def drive(name: String, mk: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame): Unit = {
          val input = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
          val q = mk(input.toDF().toDF("user_id", "event_id", "event_type", "ts"))
            .writeStream.outputMode("append")
            .format("memory").queryName(s"state_${name}_$f").start()
          try {
            (0 until 8).foreach { b =>
              input.addData(rows(b * n / 8, (b + 1) * n / 8))
              q.processAllAvailable()
            }
            // rows from the LAST progress (the settled store); memory as
            // the MAX over recent progresses — the final no-data batch
            // reports only what it re-loaded, not the working size
            val rowsT = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
            val mem = q.recentProgress
              .map(_.stateOperators.map(_.memoryUsedBytes).sum)
              .foldLeft(0L)(math.max)
            println(f"[scaleprobe] statesize x$f%-3d $name%-10s $n%7d events: " +
              f"state rows $rowsT%7d  mem ${mem / 1024.0}%9.1f KiB  " +
              f"(${mem.toDouble / users}%6.1f B/user)")
          } finally q.stop()
        }
        drive("sessionize", df => graft.streaming.EventStreams
          .sessionTags(spark, df, watermark = "2 hours").toDF())
        drive("funnel", df => graft.streaming.EventStreams
          .funnelReach(spark, df, Seq("view", "cart", "buy"),
            watermark = "2 hours").toDF())
        drive("retention", df => graft.streaming.EventStreams
          .retentionCells(spark, df, watermark = "2 hours").toDF())
      }
      spark.stop(); return
    }

    // SemDeDup at scale is only honest with the paper's knob applied: k
    // grows with the corpus (k ~ n / target-cluster-size), keeping the
    // within-cluster quadratic term bounded. Probing the registered
    // query's fixed k=8 at 100x data would measure a deliberately
    // misconfigured operator (10000x the pair work), not the method.
    if (args.headOption.contains("semdedup")) {
      Seq((1, 8), (10, 80), (100, 800)).foreach { case (f, k) =>
        val dir = s"target/scaleprobe/v$f"
        val marker = new java.io.File(s"$dir/.done")
        if (!marker.exists) {
          amplifyVec(spark, "/root/testdata/sf0.1", dir, f)
          marker.createNewFile()
        }
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        def run(): Double = time {
          graft.operators.Similarity.semanticDedup(emb, k, 2, 0.35)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] semdedup x$f%-4d k=$k%-4d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // Pair-alignment mining A/B/C — `runMain graft.tools.ScaleProbe
    // pairmine`: the brute-force broadcast path vs the candidate-driven
    // paths — sign-LSH-blocked (fixed planes: a constant-factor cut of
    // a still-quadratic relation) and IVF-list-blocked (centroid count
    // GROWS with the corpus, so per-query candidate work stays ~list-
    // sized — the scale answer to the round-13 SCALE.md caveat) — over
    // ×1/×10/×100 embeddings (pairs = half the vectors). Brute is
    // skipped at ×100 (1e10 cosines is the point, not a number worth
    // waiting for).
    if (args.headOption.contains("pairmine")) {
      import graft.operators.{Multimodal, Similarity}
      Seq(1, 10, 100).foreach { f =>
        val dir = s"target/scaleprobe/v$f"
        val marker = new java.io.File(s"$dir/.done")
        if (!marker.exists) {
          amplifyVec(spark, "/root/testdata/sf0.1", dir, f)
          marker.createNewFile()
        }
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val pairs = Iterate.checkpoint(emb.filter(col("vec_id") % 2 === 0)
          .select(expr("vec_id div 2").as("pair_id"),
            col("embedding").as("img_emb"))
          .join(emb.filter(col("vec_id") % 2 === 1)
            .select(expr("vec_id div 2").as("pair_id"),
              col("embedding").as("txt_emb")), Seq("pair_id"))
          .withColumn("source",
            concat(lit("s"), (col("pair_id") % 4).cast("string"))))
        def brute(): Double = time {
          Multimodal.pairAlignment(pairs, "pair_id", "source",
            "img_emb", "txt_emb", 100000L, minePred = lit(true))
            .write.format("noop").mode("overwrite").save()
        }
        def blocked(): Double = time {
          // ONE plane set for both sides (buckets must correspond):
          // hash the raw embeddings, split even ids = images, odd = texts
          val bk = Similarity.lshBuckets(emb, 8)
          val ib = bk.filter(col("vec_id") % 2 === 0)
            .select(expr("vec_id div 2").as("query_id"), col("bucket"))
          val tb = bk.filter(col("vec_id") % 2 === 1)
            .select(expr("vec_id div 2").as("cand_id"), col("bucket"))
          Multimodal.pairAlignmentWith(pairs, "pair_id", "source",
            "img_emb", "txt_emb", 100000L,
            candidates = ib.join(tb, Seq("bucket"))
              .select(col("query_id"), col("cand_id")))
            .write.format("noop").mode("overwrite").save()
        }
        def ivf(): Double = time {
          // centroid count scales with the corpus (pairs / 64, floor 8),
          // nProbe fixed at 2: per-query candidates ~ 2 list-sizes, so
          // total candidate work grows ~linearly where LSH stays
          // quadratic-with-a-constant-cut
          val nPairs = pairs.count()
          val nc = math.max(8, (nPairs / 64).toInt)
          Multimodal.pairAlignmentWith(pairs, "pair_id", "source",
            "img_emb", "txt_emb", 100000L,
            candidates = Multimodal.ivfPairCandidates(pairs, "pair_id",
              "img_emb", "txt_emb", nc, 2))
            .write.format("noop").mode("overwrite").save()
        }
        blocked() // warmup
        val bl = math.min(blocked(), blocked())
        ivf() // warmup
        val iv = math.min(ivf(), ivf())
        val br = if (f < 100) { brute(); math.min(brute(), brute()) }
          else Double.NaN
        println(f"[scaleprobe] pairmine x$f%-4d blocked $bl%7.2f s" +
          f"   ivf $iv%7.2f s" +
          (if (f < 100) f"   brute $br%7.2f s" else "   brute skipped"))
      }
      spark.stop(); return
    }

    // KN LM growth — `runMain graft.tools.ScaleProbe knlm`: the q_x75
    // chain (train on half, score all) over ×1/×4/×16 token-salted
    // documents. Salting multiplies the distinct-bigram relation ~×f
    // (every token re-prefixes per copy), so the probe measures BOTH
    // axes at once: count-relation growth and scoring-join growth.
    if (args.headOption.contains("knlm")) {
      import graft.operators.TextAnalysis
      Seq(1, 4, 16).foreach { f =>
        val dir = s"target/scaleprobe/x$f"
        val marker = new java.io.File(s"$dir/.done")
        if (!marker.exists) {
          amplify(spark, "/root/testdata/sf0.1", dir, f)
          marker.createNewFile()
        }
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        def run(): Double = time {
          TextAnalysis.knBigramNll(docs.filter(col("doc_id") % 2 === 0),
            docs, "text", "doc_id")
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] knlm x$f%-4d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // Tokenizer-kernel throughput — `runMain graft.tools.ScaleProbe tok`:
    // the three subword kernels (BPE merges replay, unigram Viterbi,
    // WordPiece greedy longest-match) over ×1/×4/×16 token-salted
    // documents, each learning its table at ×1 and encoding every
    // scale with the SAME table (the production shape: the tokenizer
    // is a fixed artifact, the corpus grows). All three are map-only
    // foldable-literal kernels with per-distinct-word memoization —
    // the probe measures how the memoization absorbs salted (all-
    // distinct) vocabulary growth.
    if (args.headOption.contains("tok")) {
      import graft.operators.TextAnalysis
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .filter(col("text").isNotNull)
      val merges = TextAnalysis.learnBpeMerges(base, "text")
      val pieces = TextAnalysis.learnUnigramPieces(base,
        maxLen = 4, vocabSize = 256)
      val wp = TextAnalysis.learnWordPieceVocab(base,
        maxLen = 4, vocabSize = 256)
      Seq(1, 4, 16).foreach { f =>
        val dir = s"target/scaleprobe/x$f"
        val marker = new java.io.File(s"$dir/.done")
        if (!marker.exists) {
          amplify(spark, "/root/testdata/sf0.1", dir, f)
          marker.createNewFile()
        }
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull)
        def run(body: => org.apache.spark.sql.DataFrame): Double = {
          def once(): Double = time {
            body.write.format("noop").mode("overwrite").save()
          }
          once(); math.min(once(), once())
        }
        val tb = run(TextAnalysis.bpeTokenize(docs, merges, "text"))
        val tu = run(TextAnalysis.unigramTokenize(docs, pieces, "text"))
        val tw = run(TextAnalysis.wordPieceTokenize(docs, wp, "text"))
        // the production split + merge-replay chain (q_x101): two regex
        // passes + the same map-only BPE kernel — expected flat with bpe
        val tp = run(TextAnalysis.bpeTokenizeGpt2(docs, merges, "text"))
        println(f"[scaleprobe] tok x$f%-4d bpe $tb%.2f s  unigram $tu%.2f s  wordpiece $tw%.2f s  pretok+bpe $tp%.2f s")
      }
      spark.stop(); return
    }

    // Bradley-Terry growth — `runMain graft.tools.ScaleProbe bt`:
    // the q_e35 synthesis over ×1/×8/×64 event copies (event_id shifted
    // per copy, so judgments multiply across the SAME 8 candidates —
    // the production shape: corpora grow, candidate sets don't). The
    // plan's one corpus-sized stage is the pairCounts hash aggregation;
    // every MM iteration runs on the candidates²-bounded relation, so
    // growth should track the single aggregation, not the iteration
    // count.
    if (args.headOption.contains("bt")) {
      import graft.operators.Preferences
      val ev0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val span = ev0.agg(max(col("event_id"))).head().getLong(0) + 1
      Seq(1, 8, 64).foreach { f =>
        val ev = (0 until f)
          .map(k => ev0.withColumn("event_id", col("event_id") + lit(k * span)))
          .reduce(_ unionByName _)
        val prefs = ev.filter(col("user_id").isNotNull)
          .select((col("event_id") % 8).as("m1"),
            expr("(event_id div 8) % 8").as("m2"), col("user_id"))
          .filter(col("m1") =!= col("m2"))
          .select(
            when(expr("((m2 - m1) + 8) % 8 between 1 and 3") =!=
              (col("user_id") % 5 === 0), col("m1")).otherwise(col("m2"))
              .as("winner"),
            when(expr("((m2 - m1) + 8) % 8 between 1 and 3") =!=
              (col("user_id") % 5 === 0), col("m2")).otherwise(col("m1"))
              .as("loser"))
        def run(): Double = time {
          Preferences.bradleyTerry(prefs, "winner", "loser")
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] bt x$f%-4d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // KTO-signal growth — `runMain graft.tools.ScaleProbe kto`:
    // the q_e43 thumbs-up/down synthesis over ×1/×8/×64 event copies.
    // The plan is ONE prompt-keyed hash aggregation (map-side
    // combined) + one keyed join back — no window, no sort — so
    // growth should track the corpus scan linearly.
    if (args.headOption.contains("kto")) {
      import graft.operators.Preferences
      val ev0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val span = ev0.agg(max(col("event_id"))).head().getLong(0) + 1
      Seq(1, 8, 64).foreach { f =>
        val ev = (0 until f)
          .map(k => ev0.withColumn("event_id", col("event_id") + lit(k * span)))
          .reduce(_ unionByName _)
        val fb = ev.select((col("event_id") % 40).as("prompt"),
          col("event_id").as("resp"),
          ((col("event_id") * 7919) % 97 < 55).as("d"))
        def run(): Double = time {
          Preferences.ktoSignal(fb, "prompt", "resp", "d")
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] kto x$f%-4d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // Trajectory-GAE growth — `runMain graft.tools.ScaleProbe gae`:
    // the q_e47 backward recursion over ×1/×8/×64 event copies with the
    // EPISODE COUNT scaled by the copy factor and per-episode length
    // held at ~1031 steps (the cap's contract: corpora scale by adding
    // episodes, not by unbounded episodes). The plan is one
    // episode-keyed fold — growth should track the corpus linearly.
    if (args.headOption.contains("gae")) {
      import graft.operators.Preferences
      val ev0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val span = ev0.agg(max(col("event_id"))).head().getLong(0) + 1
      Seq(1, 8, 64).foreach { f =>
        val ev = (0 until f)
          .map(k => ev0.withColumn("event_id", col("event_id") + lit(k * span)))
          .reduce(_ unionByName _)
        val eps = 97L * f
        val st = ev.select(
          (col("event_id") % eps).as("episode"),
          expr(s"event_id div $eps").as("step"),
          expr("(event_id * 7919) % 2000001 - 1000000").as("r"),
          expr("(event_id * 104729) % 2000001 - 1000000").as("v"))
        def run(): Double = time {
          Preferences.trajectoryReturns(st, "episode", "step", "r", "v",
              gammaPpm = 990000L, lambdaPpm = 950000L)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] gae x$f%-4d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // Plackett-Luce growth — `runMain graft.tools.ScaleProbe pl`:
    // the q_e41 3-way-ranking synthesis over ×1/×8/×64 event copies
    // (same 6 candidates throughout — corpora grow, candidate sets
    // don't). The plan's one corpus-sized stage is the reduction to
    // the distinct-ORDERING grain; the orderings of 6 candidates taken
    // 3 at a time are bounded (≤ 120 patterns), so every MM round runs
    // over a fixed-size relation and growth should track the single
    // pattern aggregation — the bt-probe argument at the listwise rung.
    if (args.headOption.contains("pl")) {
      import graft.operators.Preferences
      val ev0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val span = ev0.agg(max(col("event_id"))).head().getLong(0) + 1
      Seq(1, 8, 64).foreach { f =>
        val ev = (0 until f)
          .map(k => ev0.withColumn("event_id", col("event_id") + lit(k * span)))
          .reduce(_ unionByName _)
        val tri = ev.filter(col("user_id").isNotNull)
          .select(col("event_id"), (col("user_id") % 5 === 0).as("noise"),
            (col("event_id") % 6).as("x1"),
            expr("(event_id div 6) % 6").as("x2"),
            expr("(event_id div 36) % 6").as("x3"))
          .filter(col("x1") =!= col("x2") && col("x1") =!= col("x3") &&
            col("x2") =!= col("x3"))
          .select(col("event_id"),
            when(col("noise"),
              reverse(array_sort(array(col("x1"), col("x2"), col("x3")))))
              .otherwise(array_sort(array(col("x1"), col("x2"), col("x3"))))
              .as("lst"))
          .select(col("event_id").as("list"),
            posexplode(col("lst")).as(Seq("p", "cand")))
          .select(col("list"), col("cand"), (col("p") + 1).as("rank"))
        def run(): Double = time {
          Preferences.plackettLuce(tri, "list", "cand", "rank")
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] pl x$f%-4d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // Trained-LID growth — `runMain graft.tools.ScaleProbe langid`:
    // the q_x72 chain (3-language variants, OvR char-gram train +
    // whole-corpus classify) over ×1/×4/×16 token-salted documents.
    // Salting changes the char distribution but not the machinery —
    // the probe measures the training relation's growth (labeled docs
    // × classes × distinct buckets) and the map-only scoring pass.
    if (args.headOption.contains("langid")) {
      import graft.operators.TextAnalysis
      Seq(1, 4, 16).foreach { f =>
        val dir = s"target/scaleprobe/x$f"
        val marker = new java.io.File(s"$dir/.done")
        if (!marker.exists) {
          amplify(spark, "/root/testdata/sf0.1", dir, f)
          marker.createNewFile()
        }
        val v = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, lower(col("text")))
              .when(col("doc_id") % 3 === 1,
                translate(lower(col("text")), "aeiou", "01234"))
              .otherwise(reverse(lower(col("text")))).as("txt"))
        val labeled = v.filter(col("doc_id") % 4 < 2)
          .withColumn("lang",
            concat(lit("l"), (col("doc_id") % 3).cast("string")))
        def run(): Double = time {
          TextAnalysis.langIdTrained(v,
            TextAnalysis.trainLangId(labeled, "lang", dims = 64,
              rounds = 2, nMin = 2, nMax = 3, textCol = "txt"),
            dims = 64, nMin = 2, nMax = 3, textCol = "txt")
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] langid x$f%-4d ${math.min(run(), run())}%.2f s")
      }
      spark.stop(); return
    }

    // PQ encode A/B at PRODUCTION geometry (m=16, k=256): the relational
    // path materializes n·m·k scored rows (819M at ×100 embeddings);
    // the pq_encode kernel is one codegen'd projection. Codebooks train
    // once on the id-prefix sample and are shared by both paths, so the
    // measured delta is purely the encode stage.
    if (args.headOption.contains("pqenc")) {
      import graft.operators.Pq
      Seq(1, 10, 100).foreach { f =>
        val dir = s"target/scaleprobe/v$f"
        val marker = new java.io.File(s"$dir/.done")
        if (!marker.exists) {
          amplifyVec(spark, "/root/testdata/sf0.1", dir, f)
          marker.createNewFile()
        }
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val cb = Iterate.checkpoint(Pq.trainCodebooks(
          emb.filter(col("vec_id") < 1000), 16, 64, 256, 2, metric = "l2"))
        cb.count()
        def rel(): Double = time {
          Pq.encode(emb, cb, 16, 64, metric = "l2")
            .select(col("vec_id"), col("sub_id"), col("code"))
            .write.format("noop").mode("overwrite").save()
        }
        def ker(): Double = time {
          Pq.encodeCodes(emb, cb, 16, 64, metric = "l2")
            .write.format("noop").mode("overwrite").save()
        }
        rel(); ker() // warmup
        println(f"[scaleprobe] pqenc x$f%-4d relational ${math.min(rel(), rel())}%7.2f s" +
          f"   kernel ${math.min(ker(), ker())}%6.2f s")
      }
      spark.stop(); return
    }

    val vecMode = args.headOption.contains("vec")
    val qnames = (if (vecMode) args.drop(1).headOption else args.headOption)
      .map(_.split(",").toSeq)
      .getOrElse(if (vecMode) Seq("q_sim1_cosine_topk")
        else Seq("q_d14_span_dedup"))
    val factors = if (vecMode) Seq(1, 10, 100) else Seq(1, 4, 16)
    factors.foreach { f =>
      val dir = if (vecMode) s"target/scaleprobe/v$f" else s"target/scaleprobe/x$f"
      // marker is VERSIONED: corpus-mode dirs amplified before events/
      // orders were added carry only .done and regenerate instead of
      // crashing the newly-supported events/orders probes
      val marker = new java.io.File(
        if (vecMode) s"$dir/.done" else s"$dir/.done_v2")
      if (!marker.exists) {
        if (vecMode) amplifyVec(spark, "/root/testdata/sf0.1", dir, f)
        else amplify(spark, "/root/testdata/sf0.1", dir, f)
        marker.createNewFile()
      }
      qnames.foreach { q =>
        def run(): Double = time {
          graft.SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        run() // warmup
        println(f"[scaleprobe] x$f%-3d $q%-28s ${math.min(run(), run())}%.2f s")
      }
    }
    spark.stop()
  }

  /** Token-salted ×`f` amplification of `src/documents.parquet`, plus
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
