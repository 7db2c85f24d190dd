package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsOfJoin

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def leftDf = {
    import spark.implicits._
    Seq(
      (1L, "u1", 100L), // matches err at 90
      (2L, "u1", 50L),  // no prior err
      (3L, "u2", 200L), // exact tie with err at 200 — inclusive
      (4L, "u3", 10L),  // key with no right rows at all
      (5L, "u1", 300L)  // matches the LATEST prior err (250, not 90)
    ).toDF("id", "k", "t")
  }

  private def rightDf = {
    import spark.implicits._
    Seq(
      ("u1", 90L, "a"), ("u1", 250L, "b"),
      ("u2", 200L, "c"), ("u2", 500L, "d"),
      ("u9", 1L, "e") // key with no left rows
    ).toDF("rk", "rt", "tag")
  }

  test("as-of semantics: latest prior-or-equal right row per key, else null") {
    val out = AsOfJoin.asofJoin(leftDf, rightDf, "k", "rk", "t", "rt")
      .select(col("id"), col("rt"), col("tag"))
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2)))).toMap
    assert(out(1L) === ((90L, "a")))
    assert(out(2L) === ((-1L, null)))
    assert(out(3L) === ((200L, "c"))) // inclusive boundary
    assert(out(4L) === ((-1L, null)))
    assert(out(5L) === ((250L, "b")))
  }

  test("agrees with the SQL formulation on testdata events") {
    val e = sources.Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"))
    val native = AsOfJoin.asofJoin(clicks, errors,
        "user_id", "err_user", "ts", "err_ts")
      .select(col("event_id"), col("err_ts"))

    e.createOrReplaceTempView("asof_events")
    val sql = spark.sql(
      """SELECT c.event_id, max(e.ts) AS err_ts
        |FROM asof_events c LEFT JOIN asof_events e
        |  ON e.event_type = 'error' AND e.user_id = c.user_id
        |    AND e.ts <= c.ts
        |WHERE c.event_type = 'click'
        |GROUP BY c.event_id""".stripMargin)
    assert(native.count() === sql.count())
    assert(native.exceptAll(sql).isEmpty && sql.exceptAll(native).isEmpty)
  }

  test("plan shape: one AsOfJoinExec, clustered exchanges, merge-ready sorts") {
    val out = AsOfJoin.asofJoin(leftDf, rightDf, "k", "rk", "t", "rt")
    val plan = out.queryExecution.executedPlan
    val s = plan.toString // AQE wraps the plan; match textually
    assert(s.contains("AsOfJoin "), s"expected AsOfJoinExec in:\n$s")
    // EnsureRequirements must have inserted hash exchanges + (key, time)
    // sorts under the operator — the sort-merge shape
    assert(s.contains("hashpartitioning(k"), s"left not clustered by key:\n$s")
    assert(s.contains("hashpartitioning(rk"), s"right not clustered by key:\n$s")
    assert(s.contains("Sort ["), s"no sorts inserted:\n$s")
  }

  test("merge loop runs inside whole-stage codegen (no interpreted fallback)") {
    // the '*(n)' prefix only appears on nodes actually fused into a
    // WholeStageCodegen stage; AQE finalizes the plan during execution
    for (fwd <- Seq(false, true); tol <- Seq(None, Some(1000000L))) {
      val out = AsOfJoin.asofJoin(leftDf, rightDf, "k", "rk", "t", "rt",
        tolerance = tol, forward = fwd)
      out.collect()
      val s = out.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) AsOfJoin """.r.findFirstIn(s).isDefined,
        s"AsOfJoin not codegen'd (fwd=$fwd tol=$tol):\n$s")
    }
  }

  test("null keys/times never match, and codegen agrees with the interpreted path") {
    import spark.implicits._
    val l = Seq((1L, Option("u1"), Option(100L)), (2L, None, Option(100L)),
      (3L, Option("u1"), Option.empty[Long])).toDF("id", "k", "t")
    val r = Seq((Option("u1"), Option(90L), "a"), (Option.empty[String], Option(5L), "x"),
      (Option("u1"), Option.empty[Long], "y")).toDF("rk", "rt", "tag")
    def run(): Map[Long, String] =
      AsOfJoin.asofJoin(l, r, "k", "rk", "t", "rt").select(col("id"), col("tag"))
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) null else row.getString(1))).toMap
    val gen = run()
    assert(gen === Map(1L -> "a", 2L -> null, 3L -> null))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() === gen)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("composite keys: matches require ALL key columns equal; null fields match nothing") {
    import spark.implicits._
    val l = Seq(
      (1L, "eu", Option(7L), 100L),  // matches (eu,7,90)
      (2L, "eu", Option(8L), 100L),  // same region, other account: only (eu,8,50)
      (3L, "us", Option(7L), 100L),  // other region, same account: no right row
      (4L, "eu", Option.empty[Long], 100L) // null key field: never matches
    ).toDF("id", "region", "account", "t")
    val r = Seq(
      ("eu", Option(7L), 90L, "a"), ("eu", Option(8L), 50L, "b"),
      ("eu", Option.empty[Long], 1L, "n") // null key field on the right: ignored
    ).toDF("r_region", "r_account", "rt", "tag")
    def run(): Map[Long, String] =
      AsOfJoin.asofJoinMulti(l, r, Seq("region", "account"),
          Seq("r_region", "r_account"), "t", "rt")
        .select(col("id"), col("tag"))
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) null else row.getString(1))).toMap
    // the struct key must compile: without fallback a codegen failure
    // throws instead of silently running the merge interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val gen = try run() finally spark.conf.unset("spark.sql.codegen.fallback")
    assert(gen === Map(1L -> "a", 2L -> "b", 3L -> null, 4L -> null))
    // and the codegen'd merge agrees with the interpreted one on structs
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() === gen)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("tolerance bounds the lookback window") {
    import spark.implicits._
    val l = Seq((1L, "u", 100L), (2L, "u", 300L)).toDF("id", "k", "t")
    val r = Seq(("u", 90L, "near"), ("u", 50L, "far")).toDF("rk", "rt", "tag")
    // unbounded: both left rows match rt=90
    val unb = AsOfJoin.asofJoin(l, r, "k", "rk", "t", "rt")
      .select(col("id"), col("tag")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(unb === Map(1L -> "near", 2L -> "near"))
    // tolerance 50: id=1 (lag 10) matches, id=2 (lag 210) does not
    val tol = AsOfJoin.asofJoin(l, r, "k", "rk", "t", "rt", Some(50L))
      .select(col("id"), col("tag")).collect()
      .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    assert(tol === Map(1L -> Some("near"), 2L -> None))
  }

  test("forward direction matches the nearest at-or-after right row") {
    import spark.implicits._
    val l = Seq((1L, "u", 100L), (2L, "u", 260L), (3L, "u", 999L),
      (4L, "v", 5L)).toDF("id", "k", "t")
    val r = Seq(("u", 100L, "at"), ("u", 250L, "mid"), ("u", 900L, "late"))
      .toDF("rk", "rt", "tag")
    val got = AsOfJoin.asofJoin(l, r, "k", "rk", "t", "rt", forward = true)
      .select(col("id"), col("tag")).collect()
      .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    assert(got === Map(
      1L -> Some("at"),   // inclusive boundary
      2L -> Some("late"), // 250 is in the past; nearest future is 900
      3L -> None,         // nothing at-or-after 999
      4L -> None))        // key with no right rows
    // forward tolerance: id=2's gap to 900 is 640 — a 100-unit bound kills it
    val tol = AsOfJoin.asofJoin(l, r, "k", "rk", "t", "rt", Some(100L), forward = true)
      .select(col("id"), col("tag")).collect()
      .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    assert(tol(1L) === Some("at") && tol(2L) === None)
  }

  test("GraftExtensions wires strategy + functions without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext) // builders register cleanly
  }

  test("property: merge agrees with a brute-force reference on random inputs, all modes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // small key/time domains force duplicates, ties, and empty keys
    val rowGen = Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 20L))
    val sideGen = Gen.listOfN(25, rowGen)
    for (i <- 0 until 8; fwd <- Seq(false, true); tol <- Seq(None, Some(5L))) {
      val lRows = sideGen(Gen.Parameters.default, Seed(i.toLong)).get.zipWithIndex
        .map { case ((k, t), id) => (id.toLong, k, t) }
      val rRows = sideGen(Gen.Parameters.default, Seed(1000L + i)).get.zipWithIndex
        .map { case ((k, t), id) => (k, t, s"tag$id") }
      val got = AsOfJoin.asofJoin(
          lRows.toDF("id", "k", "t"), rRows.toDF("rk", "rt", "tag"),
          "k", "rk", "t", "rt", tolerance = tol, forward = fwd)
        .select(col("id"), col("rt"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      // brute-force reference: per left row, scan every right row. The
      // exec returns the LAST eligible row in (key, time-direction) sort
      // order, so the matched TIME is max (backward) / min (forward).
      val expect = lRows.map { case (id, k, t) =>
        val elig = rRows.filter { case (rk, rt, _) =>
          rk == k && (if (fwd) rt >= t else rt <= t) &&
            tol.forall(tt => (if (fwd) rt - t else t - rt) <= tt)
        }.map(_._2)
        id -> (if (elig.isEmpty) None
               else Some(if (fwd) elig.min else elig.max))
      }.toMap
      assert(got === expect, s"seed=$i fwd=$fwd tol=$tol")
    }
  }

  test("duplicate right timestamps at the match point stay deterministic") {
    import spark.implicits._
    val l = Seq((1L, "u", 100L)).toDF("id", "k", "t")
    val r = Seq(("u", 100L, "x"), ("u", 100L, "y"), ("u", 40L, "z"))
      .toDF("rk", "rt", "tag")
    val got = AsOfJoin.asofJoin(l, r, "k", "rk", "t", "rt")
      .select(col("rt")).collect()
    assert(got.length === 1 && got(0).getLong(0) === 100L)
  }

  test("limit(n) returns the first n rows of the unlimited result") {
    val joined = AsOfJoin.asofJoin(leftDf, rightDf, "k", "rk", "t", "rt")
      .select(col("id"), col("tag"))
    val all = joined.collect().toSeq
    // under spark.testing, Spark raises an internal error when a node that
    // is neither a leaf nor blocking checks the limit in its produce loop
    val prev = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "true")
    try (1 to all.size).foreach { n =>
      assert(joined.limit(n).collect().toSeq === all.take(n), s"n=$n")
    } finally prev.fold(System.clearProperty("spark.testing"))(System.setProperty("spark.testing", _))
  }
}
