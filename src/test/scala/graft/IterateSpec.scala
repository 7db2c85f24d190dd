package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Iterate, Kmeans, Sampling}

/** The checkpoint-mode switch behind every iterative loop: local blocks
  * by default (the local[32] posture), RELIABLE checkpoint files the
  * moment the deployment sets a SparkContext checkpoint dir — the 100 TB
  * posture, where an executor loss mid-iteration must recover from the
  * checkpoint store instead of killing the job. And the round skeleton
  * on top of it: [[Iterate.fixpoint]] frees every round it supersedes
  * and every side frame a step checkpointed, never the caller's `init`,
  * and evaluates its Column probe in the job that materializes the
  * round. */
class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withCheckpointDir[A](body: String => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    try body(dir)
    finally spark.sparkContext.setCheckpointDir(null)
  }

  private def checkpointRdd(df: DataFrame): RDD[_] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      .logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd

  private def checkpointRddId(df: DataFrame): Int = checkpointRdd(df).id

  /** Spark jobs that `body` starts, counted by a job group of its own. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"iterate-spec-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "IterateSpec job count")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  /** Persisted RDDs that `body` creates and leaves behind. */
  private def residueOf(body: => Any): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    (spark.sparkContext.getPersistentRDDs.keySet -- before).size
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  private def embeddings: DataFrame = {
    import spark.implicits._
    (0 until 12).map { i =>
      (i.toLong, Array((i % 3).toFloat + 0.5f, (i % 4).toFloat, 1f))
    }.toDF("vec_id", "embedding")
  }

  private def seeds(emb: DataFrame): DataFrame =
    Iterate.checkpoint(emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv")))

  test("no checkpoint dir: falls back to localCheckpoint (no files written)") {
    import spark.implicits._
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: suite must start without a checkpoint dir")
    val out = Iterate.checkpoint(Seq(1, 2, 3).toDF("x"))
    assert(out.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
  }

  test("checkpoint dir set: rounds write reliable checkpoint files") {
    import spark.implicits._
    withCheckpointDir { dir =>
      val out = Iterate.checkpoint(Seq(1, 2, 3).toDF("x"))
      assert(out.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
      val written = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_))
        .count()
      assert(written > 0, s"reliable checkpoint wrote nothing under $dir")
    }
  }

  test("graph + CC loops produce identical results under the reliable path") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d")
      .toDF("src", "dst")
    val pairs = Seq(("d1", "d2"), ("d2", "d3"), ("d4", "d5"))
      .toDF("a_id", "b_id")
    val weighted = Seq(("a", "b", 4), ("b", "c", 1), ("a", "c", 7),
      ("c", "d", 2)).toDF("src", "dst", "w")
    val from = Seq("a").toDF("node")
    val emb = embeddings
    // the probing loops checkpoint lazily in local mode and eagerly under
    // a checkpoint dir: both paths must stop at the same round
    def runAll() = Map(
      "pageRank" -> Graph.pageRank(edges, 5).collect().toSet,
      "labelPropagation" ->
        Graph.labelPropagation(edges, 5, tolChanged = Some(0L)).collect().toSet,
      "hits" -> Graph.hits(edges, 20, tol = Some(0)).collect().toSet,
      "kCoreWithStatus" -> {
        val (core, converged) = Graph.kCoreWithStatus(edges, 2, 10)
        (core.collect().toSet, converged)
      },
      "bfsDepth" -> Graph.bfsDepth(edges, from, 5).collect().toSet,
      "shortestPaths" -> Graph.shortestPaths(weighted, from, 5).collect().toSet,
      "connectedComponents" -> Dedup.connectedComponents(pairs).collect().toSet,
      "k-means" -> Kmeans.trainFrom(emb, seeds(emb), 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap)
    val local = runAll()
    val reliable = withCheckpointDir(_ => runAll())
    for ((name, result) <- local)
      assert(reliable(name) === result, s"$name diverged under reliable checkpointing")
  }

  test("fixpoint frees every superseded round's blocks; init and the last round stay") {
    import spark.implicits._
    val sc = spark.sparkContext
    val init = Iterate.checkpoint(Seq(1L, 2L, 3L).toDF("x"))
    val inputs = ArrayBuffer[DataFrame]()
    val out = Iterate.fixpoint(init, 4) { (prev, _) =>
      inputs += prev
      prev.select((col("x") + 1).as("x"))
    }
    assert(!out.converged)
    assert(out.frame.as[Long].collect().sorted.toSeq === Seq(5L, 6L, 7L))
    assert(init.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L),
      "init belongs to the caller and must stay readable")
    assert(sc.getPersistentRDDs.contains(checkpointRddId(init)))
    assert(sc.getPersistentRDDs.contains(checkpointRddId(out.frame)))
    val superseded = inputs.drop(1).toSeq // rounds 1..3, inputs to 2..4
    assert(superseded.size === 3)
    superseded.foreach { round =>
      assert(!sc.getPersistentRDDs.contains(checkpointRddId(round)),
        "a superseded round is still registered as persisted")
      val ex = intercept[Exception](round.collect())
      assert(messages(ex).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
        s"a superseded round's blocks are still readable: ${messages(ex)}")
    }
  }

  test("fixpoint frees every side frame a step checkpointed, the last round's too") {
    import spark.implicits._
    val sc = spark.sparkContext
    // the test holds every side frame, so only a release can free them
    val sides = ArrayBuffer[DataFrame]()
    val out = Iterate.fixpoint(Seq(1L, 2L).toDF("x"), 3,
        Some(Iterate.noRow(col("x") >= 0L))) { (prev, _) =>
      val side = Iterate.checkpoint(prev.select((col("x") * 2).as("x")))
      sides += side
      side.select((col("x") - 1).as("x"))
    }
    assert(out.frame.as[Long].collect().sorted.toSeq === Seq(1L, 9L))
    assert(sides.size === 3)
    sides.foreach { side =>
      assert(!sc.getPersistentRDDs.contains(checkpointRddId(side)),
        "a side frame outlived its round")
    }
  }

  test("fixpoint stops at the first converged probe and reports it") {
    import spark.implicits._
    val sc = spark.sparkContext
    val inputs = ArrayBuffer[DataFrame]()
    val out = Iterate.fixpoint(Seq(0L).toDF("x"), 10,
        Some(max(col("x")) >= 3L)) { (prev, round) =>
      inputs += prev
      assert(prev.as[Long].head() === round - 1)
      prev.select((col("x") + 1).as("x"))
    }
    assert(out.converged)
    assert(inputs.size === 3, "the loop ran past the first converged round")
    assert(out.frame.as[Long].collect().toSeq === Seq(3L))
    // the probe's job materialized the last round: its lineage is cut
    // and its blocks are cached; the rounds it superseded are freed
    assert(checkpointRdd(out.frame).isCheckpointed)
    assert(sc.getPersistentRDDs.contains(checkpointRddId(out.frame)))
    inputs.drop(1).foreach { round =>
      assert(!sc.getPersistentRDDs.contains(checkpointRddId(round)))
    }
    val never = Iterate.fixpoint(Seq(0L).toDF("x"), 2,
        Some(max(col("x")) >= 3L))((p, _) => p.select((col("x") + 1).as("x")))
    assert(!never.converged)
    assert(never.frame.as[Long].collect().toSeq === Seq(2L))
    assert(Iterate.fixpoint(Seq(0L).toDF("x"), 0)((p, _) => p).frame
      .as[Long].collect().toSeq === Seq(0L))
  }

  test("a probe over an empty frame: noRow holds, a null answer does not") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("x")
    assert(Iterate.holds(empty, Iterate.noRow(col("x") > 0L)))
    assert(!Iterate.holds(empty, max(col("x")) >= 0L),
      "max over no rows is null, and null must not read as converged")
    // each round drops one value; the frame empties in round 2
    val drained = Iterate.fixpoint(Seq(1L, 2L).toDF("x"), 5,
        Some(Iterate.noRow(lit(true)))) { (prev, _) =>
      prev.select((col("x") - 1).as("x")).filter(col("x") > 0L)
    }
    assert(drained.converged)
    assert(drained.frame.count() === 0L)
    val nullProbe = Iterate.fixpoint(Seq(1L).toDF("x"), 3,
        Some(max(col("x")) >= 0L))((p, _) => p.filter(lit(false)))
    assert(!nullProbe.converged)
  }

  test("a probing round costs at most one job more than the same fixed round") {
    import spark.implicits._
    val init = Iterate.checkpoint((0L until 40L).toDF("x"))
    val never = Some(Iterate.noRow(col("x") >= 0L))
    val narrow = (prev: DataFrame, _: Int) => prev.select((col("x") + 1).as("x"))
    val shuffling = (prev: DataFrame, _: Int) =>
      prev.groupBy(col("x")).agg(count(lit(1)).as("n"))
        .select((col("x") + 1).as("x"))
    for ((name, step) <- Seq("narrow" -> narrow, "shuffling" -> shuffling)) {
      val fixed = jobsOf(Iterate.fixpoint(init, 1)(step))
      val probed = jobsOf(Iterate.fixpoint(init, 1, never)(step))
      assert(fixed >= 1)
      assert(probed <= fixed + 1,
        s"$name step: a probing round ran $probed jobs, a fixed round $fixed")
    }
  }

  test("resident RDDs of the iterative operators do not grow with rounds") {
    import spark.implicits._
    val edges = (0 until 12).map(i => s"n$i" -> s"n${(i * 5 + 1) % 12}")
      .toDF("src", "dst")
    // connected components runs until labels settle: one pair settles
    // at once, a 1000-node chain takes about ten doubling rounds
    def chain(n: Int) = (0 until n - 1).map(i => (i.toLong, i + 1L))
      .toDF("a_id", "b_id")
    val emb = embeddings
    val init = seeds(emb)
    val losses = Seq("web" -> 2.0, "code" -> 0.5, "books" -> 1.0)
      .toDF("domain", "loss")
    // hits and mixtureReweight checkpoint side frames inside each round;
    // hits needs many rounds to settle on this irregular graph
    val links = Seq("h0" -> "a0", "h0" -> "a1", "h0" -> "a2", "h0" -> "a3",
      "h1" -> "a0", "h1" -> "a1", "h2" -> "a1", "h2" -> "a2", "h2" -> "a4",
      "h3" -> "a4").toDF("src", "dst")
    def residues(rounds: Int, chainLen: Int) = (
      residueOf(Graph.pageRank(edges, rounds)),
      residueOf(Graph.hits(links, rounds, tol = Some(0))),
      residueOf(Dedup.connectedComponents(chain(chainLen))),
      residueOf(Kmeans.trainFrom(emb, init, rounds)),
      residueOf(Sampling.mixtureReweight(losses, rounds)))
    assert(residues(2, 2) === residues(10, 1000))
    assert(spark.sparkContext.getPersistentRDDs.contains(checkpointRddId(init)),
      "Kmeans.trainFrom released its caller-owned init")
  }
}
