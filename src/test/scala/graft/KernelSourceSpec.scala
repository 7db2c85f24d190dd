package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels

/** Keeps the native kernels on one entry path: operators build each kernel
  * as a typed Column over its expression class, and only
  * `plans/GraftExtensions.scala` reads the name table to give the kernels
  * their SQL names. No main source writes into a session's function
  * registry or looks a kernel up by name. */
class KernelSourceSpec extends AnyFunSuite {
  private val names = Kernels.all.map(_.name).mkString("|")
  private val forbidden = Seq(
    """createOrReplaceTempFunction|registerFunction""".r,
    """functionRegistry""".r,
    s"""call_function\\s*\\(\\s*"($names)"""".r,
    s"""\\b(?:expr|selectExpr)\\s*\\([^)]*"[^"]*\\b($names)\\s*\\(""".r,
    """Kernels\s*\.\s*all""".r)

  test("no main source registers a kernel or calls one by its SQL name") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"only ${sources.size} sources under $root")
    val allowed = root.resolve("graft/plans/GraftExtensions.scala")
    assert(Files.readString(allowed).contains("Kernels.all"))
    val hits = for {
      f: Path <- sources if f != allowed
      text = Files.readString(f)
      re <- forbidden
      m <- re.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    assert(hits.isEmpty,
      "build kernels as Columns (GraftSqlBridge.column over the expression " +
        "class) and leave the function registry alone:\n" + hits.mkString("\n"))
  }
}
