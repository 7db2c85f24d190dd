package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

class FloatVecDotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("kernels as Columns: same rows without the SQL names, registry untouched") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val dir = "/root/testdata/sf0.001"
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    Kernels.all.foreach(k => registry.dropFunction(FunctionIdentifier(k.name)))
    val before = registry.listFunction().toSet
    assert(Kernels.all.forall(k => !registry.functionExists(FunctionIdentifier(k.name))))
    def rows(s: SparkSession) = {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Seq(
        Similarity.bruteForceTopK(Tables.load(s, dir, "embeddings"), col("vec_id") < 3, 5),
        Dedup.minhashCandidatesMapOnly(docs, "text", "doc_id"),
        docs.select(col("doc_id"), TextAnalysis.normalizeUnicode(col("text"), "NFC").as("t")))
        .map(_.collect().map(_.toString).sorted.toSeq)
    }
    val got = rows(bare)
    assert(got.forall(_.nonEmpty))
    assert(got === rows(spark))
    assert(registry.listFunction().toSet === before)
  }

  test("native vec_dot is bit-identical to the HOF fold on real embeddings") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).select(col("embedding").as("a"), col("embedding").as("b"))
    val both = emb.select(
      Similarity.dot(col("a"), col("b")).as("hof"),
      Similarity.nativeDot(col("a"), col("b")).as("native"))
    val rows = both.as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (h, n) => assert(h === n) } // exact, not approximate
  }

  test("vec_dot null and length-mismatch semantics") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f, 5.0f))), // min-length zip
      (None, Some(Seq(1.0f)))                               // null → null
    ).toDF("a", "b")
    val out = df.select(Similarity.nativeDot(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(out(0) === 11.0)
    assert(out(1) === null)
  }

  test("vec_dot rejects non-float-array inputs at analysis time") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(Similarity.nativeDot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("vec_dot") ||
      e.getMessage.toLowerCase.contains("datatype"))
  }
}

/** ANN quality: the IVF probed-list search must recover most of the true
  * brute-force neighbors (recall), and every result it returns must carry
  * the exact brute-force score (it rescores candidates exactly). */
class IvfRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("IVF top-5 recall vs brute force >= 0.5 at nProbe=2/8 lists") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 5, 5)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 5, 8, 2, 5)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low (exact=$exact ivf=$ivf)")
  }
}
