package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Iterate, Kmeans}

/** The checkpoint-mode switch behind every iterative loop: local blocks
  * by default (the local[32] posture), RELIABLE checkpoint files the
  * moment the deployment sets a SparkContext checkpoint dir — the 100 TB
  * posture, where an executor loss mid-iteration must recover from the
  * checkpoint store instead of killing the job. And the round skeleton
  * on top of it: [[Iterate.fixpoint]] frees every round it supersedes,
  * never the caller's `init`. */
class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withCheckpointDir[A](body: String => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    try body(dir)
    finally spark.sparkContext.setCheckpointDir(null)
  }

  private def checkpointRddId(df: DataFrame): Int =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      .logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

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
    val emb = embeddings
    def runAll() = (
      Graph.pageRank(edges, 5).collect().toSet,
      Graph.labelPropagation(edges, 5, tolChanged = Some(0L)).collect().toSet,
      Dedup.connectedComponents(pairs).collect().toSet,
      Kmeans.trainFrom(emb, seeds(emb), 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap)
    val (prLocal, lpLocal, ccLocal, kmLocal) = runAll()
    val (prReliable, lpReliable, ccReliable, kmReliable) =
      withCheckpointDir(_ => runAll())
    assert(prReliable === prLocal, "pageRank diverged under reliable checkpointing")
    assert(lpReliable === lpLocal, "labelPropagation diverged under reliable checkpointing")
    assert(ccReliable === ccLocal, "connectedComponents diverged under reliable checkpointing")
    assert(kmReliable === kmLocal, "k-means diverged under reliable checkpointing")
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

  test("fixpoint stops at the first converged probe and reports it") {
    import spark.implicits._
    val probes = ArrayBuffer[Long]()
    val out = Iterate.fixpoint(Seq(0L).toDF("x"), 10,
        Some((df: DataFrame) => { probes += df.as[Long].head(); probes.last >= 3 })) {
      (prev, round) =>
        assert(prev.as[Long].head() === round - 1)
        prev.select((col("x") + 1).as("x"))
    }
    assert(out.converged)
    assert(probes.toSeq === Seq(1L, 2L, 3L))
    assert(Iterate.fixpoint(Seq(0L).toDF("x"), 0)((p, _) => p).frame
      .as[Long].collect().toSeq === Seq(0L))
  }

  test("resident RDDs after pageRank, connectedComponents and k-means do not grow with rounds") {
    import spark.implicits._
    val edges = (0 until 12).map(i => s"n$i" -> s"n${(i * 5 + 1) % 12}")
      .toDF("src", "dst")
    // connected components runs until labels settle: one pair settles
    // at once, a 1000-node chain takes about ten doubling rounds
    def chain(n: Int) = (0 until n - 1).map(i => (i.toLong, i + 1L))
      .toDF("a_id", "b_id")
    val emb = embeddings
    val init = seeds(emb)
    def residues(rounds: Int, chainLen: Int) = (
      residueOf(Graph.pageRank(edges, rounds)),
      residueOf(Dedup.connectedComponents(chain(chainLen))),
      residueOf(Kmeans.trainFrom(emb, init, rounds)))
    assert(residues(2, 2) === residues(10, 1000))
    assert(spark.sparkContext.getPersistentRDDs.contains(checkpointRddId(init)),
      "Kmeans.trainFrom released its caller-owned init")
  }
}
