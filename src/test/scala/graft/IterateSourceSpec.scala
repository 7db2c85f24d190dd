package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps lineage truncation on one path: outside `operators/Iterate.scala`
  * no main source may call `localCheckpoint(` or `checkpoint(` on a frame
  * directly — those calls would skip the local/reliable switch, the
  * stats clamp and the round release that `Iterate` owns. */
class IterateSourceSpec extends AnyFunSuite {
  private val direct = """\.localCheckpoint\(|(?<!\bIterate)\.checkpoint\(""".r

  test("only operators/Iterate.scala truncates lineage directly") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"only ${sources.size} sources under $root")
    val allowed = root.resolve("graft/operators/Iterate.scala")
    val hits = for {
      f: Path <- sources if f != allowed
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if direct.findFirstIn(line).isDefined
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "route these through Iterate.checkpoint / Iterate.fixpoint:\n" +
        hits.mkString("\n"))
  }
}
