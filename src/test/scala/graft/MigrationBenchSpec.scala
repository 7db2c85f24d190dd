package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{CustomerXml, MigrationFixture, MigrationPipeline}
import graft.etl.MigrationPipeline.MigrationConfig

/** The migration ETL at export scale (VERDICT r4 #8): a 20k-customer,
  * 8-file synthesized export (the bench runs the same generator at 100k).
  * The golden spec pins per-branch semantics byte-level; this one pins the
  * properties that only show up at size:
  *
  *   - the CSV×XML core is ONE BroadcastHashJoin stage and the customer
  *     side never shuffles (the plan property that makes the same code
  *     hold on a 1000-executor cluster reading a 100 TB export — the
  *     reference's loop is O(|CSV|·|XML|));
  *   - distributed mode (singleFile=false) writes partition-parallel
  *     part documents, each a complete enveloped XML file;
  *   - the V6 consistency counts match the generator's exact arithmetic
  *     over 20k rows of mixed branches (found / not-found / invalid /
  *     default-fill / duplicate-ordinal);
  *   - a run reads the export from storage once.
  */
class MigrationBenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 20000
  private lazy val fx = MigrationFixture.ensure("target/fixtures/etl20k", N, files = 8)

  test("core join: broadcast hash join, zero shuffle of the customer side") {
    val prepared = MigrationPipeline.prepareCsv(
      MigrationPipeline.readCsv(spark, fx.csvPath))
    val customers = MigrationPipeline.prepareCustomers(
      CustomerXml.read(spark, fx.xmlDir), strict = false)
    val p = MigrationPipeline.coreJoin(customers, prepared)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the big (customer) side keys on _id — any shuffle of it would
    // hashpartition on _id; the only exchanges allowed are the CSV-side
    // window shuffle (join_key) and the broadcast itself
    assert(!p.contains("hashpartitioning(_id"), s"customer side shuffled:\n$p")
  }

  test("distributed run at 20k: exact V6 counts, parallel part files") {
    val out = Files.createTempDirectory("graft-etl-bench").toString
    val cfg = MigrationConfig(
      csvPath = fx.csvPath, xmlPath = fx.xmlDir, outDir = out,
      runId = "bench20k", runDate = "2026-08-12",
      todayIso = "2026-08-12T00:00:00+00:00",
      strictDuplicateSemantics = false, singleFile = false)
    val res = MigrationPipeline.run(spark, cfg)

    assert(res.customersFound === fx.expectFound)
    assert(res.csvDistinctIds === fx.expectDistinct)

    // distributed sinks: >1 part document, each a complete enveloped file
    val xmlParts = Files.list(Paths.get(res.outputXmlPath)).toArray.map(_.toString)
      .filter(f => f.contains("part-") && f.endsWith(".xml"))
    assert(xmlParts.length > 1, s"expected parallel XML parts, got ${xmlParts.length}")
    val head = Files.readString(Paths.get(xmlParts.head))
    assert(head.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"), head.take(200))
    assert(head.contains("<enfinity") && head.contains("xmlns:dt="), head.take(400))

    // log has one row per CSV row, and branch counts match the generator
    val log = spark.read.option("header", "true").csv(res.logCsvPath)
    assert(log.count() === fx.csvRows)
    val notFound = log.filter(col("reason") === "Not found in source XML").count()
    assert(notFound === fx.csvRows - fx.expectFound)

    // transform spot-check at scale: an i%4==0 customer (full MEK set)
    // got its id + store rewritten in place
    val outDf = CustomerXml.read(spark, res.outputXmlPath)
    val c4 = outDf.filter(col("_id") === "NEWC0000004") // i=4: %4==0, %50==4 dup-key row
      .select(explode(col("custom-attributes.custom-attribute")).as("a"))
      .select("a._name", "a._VALUE").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(c4("MEK_Company") === "Meca")
    assert(c4("MEK_Store_Id") === "S4")
    assert(c4("MEK_SystemID") === "6")
  }

  /** Bytes read so far through the local (`file`) Hadoop FileSystem, over
    * every thread. Spark's InputMetrics cannot stand in: they also count
    * reads of cached blocks. */
  private def fileBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  test("one scan of the export: a run reads at most 1.5x the export's bytes, both modes") {
    val exportBytes = new java.io.File(fx.xmlDir).listFiles()
      .filter(_.getName.endsWith(".xml")).map(_.length).sum
    for (strict <- Seq(true, false)) {
      val out = Files.createTempDirectory("graft-etl-scan").toString
      val before = fileBytesRead()
      val res = MigrationPipeline.run(spark, MigrationConfig(
        csvPath = fx.csvPath, xmlPath = fx.xmlDir, outDir = out,
        runId = "scan20k", runDate = "2026-08-12",
        todayIso = "2026-08-12T00:00:00+00:00",
        strictDuplicateSemantics = strict, singleFile = strict))
      val ratio = (fileBytesRead() - before).toDouble / exportBytes
      info(f"strict=$strict: read $ratio%.2fx the export")
      assert(res.customersFound === fx.expectFound)
      assert(ratio <= 1.5, f"strict=$strict: read $ratio%.2fx the export's $exportBytes bytes")
    }
  }
}
