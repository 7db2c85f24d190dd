package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels
import graft.sources.Tables

/** The raw-SQL user path: every table registered as a view, queries run
  * through spark.sql — joins, windows, grouping sets, and the custom
  * native functions callable from SQL text. */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def registerAll(): Unit =
    Tables.all.foreach { t =>
      // events is TIMESTAMP(NANOS) parquet — needs the typed loader
      val df = if (t == "events") Tables.events(spark, dir)
        else Tables.load(spark, dir, t)
      df.createOrReplaceTempView(t)
    }

  test("relational SQL over registered views: join + window + grouping sets") {
    registerAll()
    val joined = spark.sql(
      """SELECT n.n_name, COUNT(*) AS n_cust
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n_cust DESC, n_name LIMIT 5""".stripMargin)
    assert(joined.count() === 5)

    val windowed = spark.sql(
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |FROM orders""".stripMargin)
    assert(windowed.filter("rn = 1").count() > 0)

    val gsets = spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), ())""".stripMargin)
    assert(gsets.count() >= 2)
  }

  test("native as-of join reachable from SQL via the asof_join TVF") {
    import org.apache.spark.sql.functions.col
    val e = Tables.events(spark, dir)
    e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("clicks_v")
    e.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"))
      .createOrReplaceTempView("errors_v")
    val viaSql = spark.sql(
      """SELECT * FROM asof_join('clicks_v', 'errors_v',
        |  'user_id', 'err_user', 'ts', 'err_ts')""".stripMargin)
    // the SQL path must produce the native exec, not a rewrite (plan
    // strings render the node as "AsOfJoin" — Spark strips the Exec suffix)
    assert(viaSql.queryExecution.executedPlan.toString.contains("AsOfJoin "))
    val viaApi = graft.plans.AsOfJoin.asofJoin(
      e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts")),
      e.filter(col("event_type") === "error")
        .select(col("user_id").as("err_user"), col("ts").as("err_ts")),
      "user_id", "err_user", "ts", "err_ts")
    assert(viaSql.count() === viaApi.count())
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
  }

  test("asof_join TVF accepts comma-separated composite keys") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Seq((1L, "eu", 7L, 100L), (2L, "eu", 8L, 100L), (3L, "us", 7L, 100L))
      .toDF("id", "region", "account", "t").createOrReplaceTempView("mk_l")
    Seq(("eu", 7L, 90L, "a"), ("eu", 8L, 50L, "b"))
      .toDF("r_region", "r_account", "rt", "tag").createOrReplaceTempView("mk_r")
    val out = spark.sql(
      """SELECT id, tag FROM asof_join('mk_l', 'mk_r',
        |  'region, account', 'r_region, r_account', 't', 'rt')""".stripMargin)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out === Map(1L -> "a", 2L -> "b", 3L -> null))
  }

  test("asof_join TVF rejects bad arguments with a helpful message") {
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM asof_join('clicks_v', 'errors_v', 'user_id')").collect()
    }
    assert(err.getMessage.contains("asof_join"))
    val badCol = intercept[Exception] {
      Tables.events(spark, dir).createOrReplaceTempView("ev_v")
      spark.sql(
        """SELECT * FROM asof_join('ev_v', 'ev_v',
          |  'no_such_col', 'user_id', 'ts', 'ts')""".stripMargin).collect()
    }
    assert(badCol.getMessage.contains("no_such_col"))
  }

  test("unicode_normalize resolves via extensions alone (fresh session, no register)") {
    // a FRESH session has the extension-injected entry but no temp
    // registration (other suites' register() calls would shadow it here)
    val fresh = spark.newSession()
    val r = fresh.sql("SELECT unicode_normalize('e\\u0301', 'NFC') AS r")
      .head().getString(0)
    assert(r === "\u00e9")
    // non-literal form fails fast at resolution, not mid-job
    val ex = intercept[Exception](
      fresh.sql("SELECT unicode_normalize('x', concat('NF', 'C'))").collect())
    assert(ex.getMessage.contains("literal"))
  }

  test("dedup kernels callable from SQL via extensions alone (no register call)") {
    registerAll()
    // TestSpark sets spark.sql.extensions=GraftExtensions; the kernels
    // must resolve from there without any DataFrame-side registration
    val sig = spark.sql(
      """SELECT doc_id, simhash64(
        |  filter(split(text, '\\s+'), t -> t != '')) AS sig
        |FROM documents LIMIT 5""".stripMargin).collect()
    assert(sig.forall(_.getString(1).length === 16))
    val bands = spark.sql(
      """SELECT doc_id, minhash_bands(
        |  transform(sequence(0, size(toks) - 3),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])), 8, 2) AS b
        |FROM (SELECT doc_id, filter(split(text, '\\s+'), t -> t != '') AS toks
        |      FROM documents)
        |WHERE size(toks) >= 3 LIMIT 5""".stripMargin).collect()
    assert(bands.forall(_.getSeq[String](1).length === 4))
  }

  test("tokenizer + PQ kernels resolve via extensions alone (fresh session)") {
    val fresh = spark.newSession()
    // bpe_encode against an inlined two-merge table
    val bpe = fresh.sql("SELECT bpe_encode('tea bat', 't e\na b') AS s")
      .head().getString(0)
    assert(bpe === "te a b a t", s"unexpected bpe stream: $bpe")
    // pq_encode against an inlined 1-subspace, 2-centroid codebook:
    // vec (1,0) is closer (cosine) to centroid 0 = (1,0) than 1 = (0,1)
    val code = fresh.sql(
      """SELECT pq_encode(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |  array(CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
        |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT),
        |        CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)),
        |  1, 2, 2, true) AS codes""".stripMargin)
      .head().getSeq[Long](0)
    assert(code === Seq(0L))
  }

  test("custom native functions callable from SQL text") {
    registerAll()
    val dots = spark.sql(
      "SELECT vec_id, vec_dot(embedding, embedding) AS sq FROM embeddings LIMIT 5")
    assert(dots.collect().forall(_.getDouble(1) >= 0.0))
    val ham = spark.sql("SELECT hex_hamming('00', 'ff') AS h").head.getInt(0)
    assert(ham === 8)
  }

  test("every kernel in the table resolves from SQL text in a fresh recipe session") {
    // one call per table entry, no register call anywhere: the names come
    // from GraftExtensions alone, including the kernels only the
    // operators used to register (mmr_select, lcs_tokens, ...)
    val calls = Map(
      "vec_dot" -> "vec_dot(array(1f, 2f), array(3f, 4f))",
      "hex_hamming" -> "hex_hamming('00', 'ff')",
      "jaro_winkler" -> "jaro_winkler('martha', 'marhta')",
      "minhash_bands" -> "minhash_bands(array('a b c', 'b c d'), 8, 2)",
      "simhash64" -> "simhash64(array('a', 'b'))",
      "deflate_len" -> "deflate_len('aaaa')",
      "distinct_count" -> "distinct_count(array('a', 'b', 'a'))",
      "unicode_normalize" -> "unicode_normalize('x', 'NFC')",
      "bpe_encode" -> "bpe_encode('tea bat', 't e\na b')",
      "unigram_encode" -> "unigram_encode('ab', '\u2581ab\t-1000000')",
      "wordpiece_encode" -> "wordpiece_encode('ab', 'ab')",
      "pq_encode" -> ("pq_encode(array(CAST(1.0 AS FLOAT)), array(CAST(0 AS BIGINT)), " +
        "array(CAST(1.0 AS FLOAT)), 1, 1, 1, true)"),
      "chrf_matches" -> "chrf_matches('abc', 'abd')",
      "bleu_matches" -> "bleu_matches('a b c', 'a b d')",
      "char_gram_tf" -> "char_gram_tf('hello', 16, 1, 3)",
      "token_bucket_tf" -> "token_bucket_tf(array('a', 'b'), 16)",
      "token_tf_vec" -> "token_tf_vec(array('a', 'b'), 16)",
      "map_margin" -> "map_margin(map(1L, 2L), map(1L, 3L))",
      "cdc_cuts" -> "cdc_cuts(array('a', 'b', 'c', 'd'), 2, 2)",
      "gae_fold" -> ("gae_fold(array(named_struct('st', 1L, 'r', 2L, 'v', 3L)), " +
        "990000L, 950000L)"),
      "mmr_select" -> ("mmr_select(array(named_struct('id', 1L, 'rel', 5L)), " +
        "array(named_struct('a', 1L, 'b', 2L, 's', 3L)), 1, 5)"),
      "lcs_tokens" -> "lcs_tokens('a b c', 'a c')",
      "edit_dist_tokens" -> "edit_dist_tokens('a b', 'a c')")
    assert(Kernels.all.size === 23)
    assert(calls.keySet === Kernels.all.map(_.name).toSet)
    val fresh = spark.newSession()
    Kernels.all.foreach { k =>
      val df = fresh.sql(s"SELECT ${calls(k.name)} AS r")
      val built = df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case e if k.expressionClass.isInstance(e) => e
      })
      assert(built.nonEmpty, s"${k.name} did not build ${k.expressionClass.getSimpleName}")
      assert(df.collect().length === 1, k.name)
    }
  }
}
