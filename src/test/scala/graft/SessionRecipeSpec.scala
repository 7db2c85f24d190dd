package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session construction on one path: every main and the test
  * session come from `SparkEntry.session`, so no caller can drift off the
  * recipe (a session without the graft extensions cannot resolve the
  * `asof_join` table function). */
class SessionRecipeSpec extends AnyFunSuite {
  private val builder = """SparkSession\s*\.\s*builder""".r

  private def hits(root: Path, allowed: Set[Path]): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, s"no sources under $root")
    for {
      f <- sources if !allowed.contains(f)
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if builder.findFirstIn(line).isDefined
    } yield s"$f:${n + 1}: ${line.trim}"
  }

  test("only SparkEntry.scala builds a session") {
    val main = Paths.get("src/main/scala")
    val found = hits(main, Set(main.resolve("graft/SparkEntry.scala"))) ++
      hits(Paths.get("src/test/scala"), Set.empty)
    assert(found.isEmpty,
      "build sessions through SparkEntry.session:\n" + found.mkString("\n"))
  }

  test("the recipe session carries the fixed settings") {
    val spark = TestSpark.spark
    def conf(k: String) = spark.conf.get(k)
    assert(conf("spark.sql.extensions") === "graft.plans.GraftExtensions")
    assert(conf("spark.sql.session.timeZone") === "UTC")
    assert(conf("spark.sql.adaptive.enabled") === "true")
    assert(conf("spark.sql.codegen.cache.maxEntries") === "2000")
    assert(conf("spark.sql.shuffle.partitions") === TestSpark.cores.toString)
    assert(spark.sparkContext.master === s"local[${TestSpark.cores}]")
  }

  test("q_j10_asof_sql plans under the recipe session") {
    val plan = SparkEntry.queries("q_j10_asof_sql")(TestSpark.spark,
      "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), s"expected AsOfJoinExec in:\n$plan")
  }
}
