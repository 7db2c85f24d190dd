package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NestedOps
import graft.operators.NestedOps.AttrRule

/** The suite's one session: the main recipe at a fixed 4 cores, so test
  * partitioning does not follow the host's `SPARK_GRAFT_CPUS`. */
object TestSpark {
  val cores = 4
  lazy val spark: SparkSession = SparkEntry.session(cores)
}

class NestedOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def attrsDf(rows: Seq[(String, Seq[(String, String, String)])]) =
    rows.toDF("id", "raw").select(col("id"),
      transform(col("raw"), t => struct(
        t.getField("_1").as("name"), t.getField("_2").as("value"), t.getField("_3").as("dt"))).as("attrs"))

  test("N1 rewrite: value-conditional + unconditional rules, one pass") {
    val df = attrsDf(Seq(
      ("a", Seq(("MEK_Company", "Mekonomen", "string"), ("MEK_SystemID", "5", "string"))),
      ("b", Seq(("MEK_Company", "Other", "string")))))
    val rules = Seq(
      AttrRule("MEK_Company", lit("Meca"), onlyIfValue = Some("Mekonomen")),
      AttrRule("MEK_SystemID", lit("6")))
    val out = df.select(col("id"), NestedOps.rewriteAttrs(col("attrs"), rules).as("attrs"))
      .select(col("id"), explode(col("attrs")).as("a"))
      .select(col("id"), col("a.name"), col("a.value"))
      .as[(String, String, String)].collect().toSet
    assert(out === Set(("a", "MEK_Company", "Meca"), ("a", "MEK_SystemID", "6"),
      ("b", "MEK_Company", "Other")))
  }

  test("N2 upsert: update-in-place, append-when-absent, create-when-null container") {
    val df = attrsDf(Seq(
      ("upd", Seq(("MEK_DefaultDeliveryday", "-9D", "old"))),
      ("ins", Seq(("Other", "x", "string")))))
      .unionByName(Seq("nul").toDF("id").select(col("id"),
        lit(null).cast("array<struct<name:string,value:string,dt:string>>").as("attrs")))
    val out = df.select(col("id"),
        NestedOps.upsertAttr(col("attrs"), "MEK_DefaultDeliveryday", lit("-3D"), "string").as("attrs"))
      .select(col("id"), explode(col("attrs")).as("a"))
      .select(col("id"), col("a.name"), col("a.value"), col("a.dt"))
      .as[(String, String, String, String)].collect().toSet
    assert(out === Set(
      ("upd", "MEK_DefaultDeliveryday", "-3D", "string"), // updated + dt re-stamped
      ("ins", "Other", "x", "string"),
      ("ins", "MEK_DefaultDeliveryday", "-3D", "string"), // appended
      ("nul", "MEK_DefaultDeliveryday", "-3D", "string"))) // container created
  }

  test("N2 upsert is idempotent") {
    val df = attrsDf(Seq(("a", Seq(("K", "v0", "old")))))
    val once = df.select(col("id"), NestedOps.upsertAttr(col("attrs"), "K", lit("v1"), "string").as("attrs"))
    val twice = once.select(col("id"), NestedOps.upsertAttr(col("attrs"), "K", lit("v1"), "string").as("attrs"))
    assert(once.select(explode(col("attrs"))).collect().toSeq ===
      twice.select(explode(col("attrs"))).collect().toSeq)
  }

  test("N3 delete removes all matches and only matches") {
    val df = attrsDf(Seq(("a", Seq(("LastOrderDate", "1", "s"), ("Keep", "2", "s"), ("LastOrderDate", "3", "s")))))
    val out = df.select(explode(NestedOps.deleteAttr(col("attrs"), "LastOrderDate")).as("a"))
      .select(col("a.name")).as[String].collect().toSeq
    assert(out === Seq("Keep"))
  }

  test("N4 insertIfAbsent is idempotent and preserves order") {
    val df = Seq((1, Seq("CG_A")), (2, Seq("CG_Mekonomen", "CG_B"))).toDF("id", "groups")
    val out = df.select(col("id"),
        NestedOps.insertIfAbsent(col("groups"), lit("CG_Mekonomen")).as("g"))
      .as[(Int, Seq[String])].collect().toMap
    assert(out(1) === Seq("CG_A", "CG_Mekonomen"))
    assert(out(2) === Seq("CG_Mekonomen", "CG_B"))
  }

  test("N5 recursive replace hits struct, array, and nested-struct leaves; leaves others") {
    val df = Seq(("old1", "new1", ("old1", Seq("old1", "keep"), ("old1", 7))))
      .toDF("old_id", "new_id", "tree")
    val out = NestedOps.replaceNestedText(df, "tree", "old_id", "new_id")
    val r = out.select(col("tree._1"), col("tree._2"), col("tree._3._1"), col("tree._3._2"))
      .as[(String, Seq[String], String, Int)].head()
    assert(r === (("new1", Seq("new1", "keep"), "new1", 7)))
  }

  test("N5 null-safety: null old_id leaves row untouched; null leaves survive") {
    val df = Seq((null.asInstanceOf[String], "new1", Tuple1("old1")),
      ("old1", "new1", Tuple1(null.asInstanceOf[String]))).toDF("old_id", "new_id", "tree")
    val out = NestedOps.replaceNestedText(df, "tree", "old_id", "new_id")
      .select(col("tree._1")).collect().map(_.get(0)).toSet
    assert(out === Set("old1", null))
  }
}
