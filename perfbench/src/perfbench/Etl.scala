package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.etl.{CustomerXml, MigrationFixture, MigrationPipeline}
import graft.etl.MigrationPipeline.{MigrationConfig, MigrationResult}

object Etl {

  /** Seeded inputs on top of [[MigrationFixture.ensure]]: the seed permutes
    * the assignment of customers to shards and the order of the mapping
    * rows, and keeps a `mappingPct` sample of them. Writes
    * `expected.properties` with the exact found and distinct counts of the
    * written mapping. */
  def generate(baseDir: String, outDir: String, customers: Int, files: Int,
      mappingPct: Double, seed: Long): Unit = {
    val fx = MigrationFixture.ensure(s"$baseDir/base-${customers}x$files", customers, files)
    val rnd = new java.util.Random(seed)
    val shards = listFiles(Paths.get(fx.xmlDir), ".xml")
    val firstLines = Files.readAllLines(shards.head, UTF_8).asScala
    val prologue = firstLines.takeWhile(l => !l.startsWith("  <customer "))
    val docs = new java.util.ArrayList[String](customers)
    shards.foreach(p => Files.readAllLines(p, UTF_8).asScala
      .filter(_.startsWith("  <customer ")).foreach(docs.add))
    require(docs.size == customers, s"fixture has ${docs.size} customers")
    java.util.Collections.shuffle(docs, rnd)

    val out = Paths.get(outDir)
    val export = out.resolve("export")
    Files.createDirectories(export)
    val chunk = (customers + files - 1) / files
    docs.asScala.grouped(chunk).zipWithIndex.foreach { case (part, i) =>
      val sb = new StringBuilder(part.size * 700)
      prologue.foreach(l => sb.append(l).append('\n'))
      part.foreach(l => sb.append(l).append('\n'))
      sb.append("</enfinity>\n")
      Files.writeString(export.resolve(f"export-$i%05d.xml"), sb.toString)
    }

    val csvLines = Files.readAllLines(Paths.get(fx.csvPath), UTF_8)
    val header = csvLines.get(0)
    val rows = new java.util.ArrayList[String](csvLines.subList(1, csvLines.size))
    java.util.Collections.shuffle(rows, rnd)
    val kept = rows.asScala.take(math.max(1, math.round(rows.size * mappingPct / 100.0).toInt))
    Files.writeString(out.resolve("mapping.csv"), (header +: kept).mkString("", "\n", "\n"))

    // a key is found when its first mapping row meets its one export
    // customer: every distinct id the export holds (X-ids are absent)
    val keys = kept.map(_.takeWhile(_ != ',').trim).toSet
    val exportBytes = listFiles(export, ".xml").map(Files.size).sum
    val props = new java.util.Properties()
    props.setProperty("csv_rows", kept.size.toString)
    props.setProperty("found", keys.count(_.startsWith("C")).toString)
    props.setProperty("distinct", keys.size.toString)
    props.setProperty("export_bytes", exportBytes.toString)
    props.setProperty("customers", customers.toString)
    val w = Files.newBufferedWriter(out.resolve("expected.properties"))
    try props.store(w, null) finally w.close()
  }

  def listFiles(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    val all = try walk.iterator.asScala.toSeq finally walk.close()
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }
}

/** One ETL workload over generated inputs in `dataDir`. Outputs go to
  * `workDir` and are checked, then deleted, after each execution. */
final class EtlWorkload(spark: SparkSession, dataDir: String, workDir: String,
    strict: Boolean, singleFile: Boolean) extends Workload {

  private val expected = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(Paths.get(dataDir, "expected.properties"))
    try p.load(r) finally r.close()
    p.asScala.map { case (k, v) => k -> v.toLong }.toMap
  }
  private val csvPath = s"$dataDir/mapping.csv"
  private val xmlPath = s"$dataDir/export"
  private val newIds: Set[String] = Files.readAllLines(Paths.get(csvPath), UTF_8).asScala.tail
    .map(l => Csv.split(l)(1).trim).toSet
  private val date = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
  private val todayIso = s"${date}T00:00:00+00:00"

  val items: Long = expected("customers")
  val exportBytes: Long = expected("export_bytes")

  private def config(tag: String) = MigrationConfig(
    csvPath = csvPath, xmlPath = xmlPath, outDir = s"$workDir/$tag",
    runId = tag, runDate = date, todayIso = todayIso,
    strictDuplicateSemantics = strict, singleFile = singleFile)

  private var lastOutputBytes = 0L

  def execute(i: Int): Any = MigrationPipeline.run(spark, config(s"run$i"))

  def check(result: Any, i: Int): Seq[String] = {
    val res = result.asInstanceOf[MigrationResult]
    val errs = Seq.newBuilder[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) errs += s"$what: got $got, expected $want"
    expect("found", res.customersFound, expected("found"))
    expect("distinct", res.csvDistinctIds, expected("distinct"))

    val logFiles = outputFiles(res.logCsvPath, ".csv")
    val logRows = logFiles.flatMap(p => Files.readAllLines(p, UTF_8).asScala.drop(1))
    expect("log rows", logRows.size, expected("csv_rows"))
    expect("log rows found", logRows.count(l => Csv.split(l)(3) != "Not found in source XML"),
      expected("found"))

    val xmlFiles = outputFiles(res.outputXmlPath, ".xml")
    lastOutputBytes = xmlFiles.map(Files.size).sum
    val x = XmlCheck.scan(xmlFiles, newIds, todayIso)
    expect("output customers", x.customers, expected("found"))
    errs ++= x.errors
    errs.result()
  }

  def cleanup(i: Int): Unit = Etl.deleteTree(Paths.get(workDir, s"run$i"))

  private def outputFiles(path: String, suffix: String): Seq[Path] = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) Etl.listFiles(p, suffix).filter(_.getFileName.toString.startsWith("part-"))
    else Seq(p)
  }

  def executionMetrics(result: Any, engine: Map[String, Double]): Map[String, Double] = Map(
    "etl.export_read_ratio" -> engine("spark.input_mb") * 1024 * 1024 / exportBytes,
    "etl.output_bytes_per_customer" ->
      lastOutputBytes.toDouble / result.asInstanceOf[MigrationResult].customersFound)

  /** The pipeline's steps called one by one, each materialized over the
    * cached result of the step before, so each span holds one layer's work. */
  def layers(tr: Tracer, i: Int): Seq[String] = {
    val cfg = config(s"layers$i")
    val mp = MigrationPipeline
    val prepared = tr.span("etl.csv_prepare") {
      val p = mp.prepareCsv(mp.readCsv(spark, cfg.csvPath)).cache(); p.count(); p
    }
    val customers = tr.span("etl.xml_parse") {
      val c = CustomerXml.read(spark, cfg.xmlPath, cfg.customerSchema).cache(); c.count(); c
    }
    val (matched, found) = tr.span("etl.core_join") {
      val m = mp.coreJoin(mp.prepareCustomers(customers, cfg.strictDuplicateSemantics), prepared).cache()
      (m, m.count())
    }
    val outCols = cfg.customerSchema.fields.map(f => col(s"`${f.name}`")).toIndexedSeq
    val transformed = tr.span("etl.transform") {
      val t = mp.transformMatched(matched, cfg.todayIso).select(col("csv_idx") +: outCols: _*).cache()
      t.count(); t
    }
    def single(df: org.apache.spark.sql.DataFrame) =
      if (cfg.singleFile) df.repartition(1).sortWithinPartitions("csv_idx") else df
    tr.span("etl.xml_write") {
      CustomerXml.write(single(transformed).drop("csv_idx"), s"${cfg.outDir}/xml",
        CustomerXml.readRootTag(spark, cfg.xmlPath))
    }
    val logRows = tr.span("etl.log_write") {
      val log = mp.deriveLog(prepared, matched.select(col("join_key"), prepared("key_ordinal")))
      single(log).drop("csv_idx").write.mode("overwrite").option("header", "true").csv(s"${cfg.outDir}/log")
      Etl.listFiles(Paths.get(cfg.outDir, "log"), ".csv")
        .map(p => Files.readAllLines(p, UTF_8).size - 1L).sum
    }
    Seq(prepared, customers, matched, transformed).foreach(_.unpersist(blocking = true))
    Etl.deleteTree(Paths.get(cfg.outDir))
    Seq(
      if (found != expected("found")) Some(s"layers: matched $found, expected ${expected("found")}") else None,
      if (logRows != expected("csv_rows")) Some(s"layers: log rows $logRows, expected ${expected("csv_rows")}") else None
    ).flatten
  }

  val layerSpans: Seq[(String, String)] = Seq(
    "etl.csv_prepare_ms" -> "etl.csv_prepare", "etl.xml_parse_ms" -> "etl.xml_parse",
    "etl.core_join_ms" -> "etl.core_join", "etl.transform_ms" -> "etl.transform",
    "etl.xml_write_ms" -> "etl.xml_write", "etl.log_write_ms" -> "etl.log_write")
}

/** Minimal RFC-4180 field splitter for the mapping and log files. */
object Csv {
  def split(line: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
        else if (c == '"') quoted = false
        else cur.append(c)
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.result()
  }
}

/** Reads the delta XML back with a plain StAX parser (not the program's
  * XML source) and checks the transform invariants. */
object XmlCheck {
  final case class Result(customers: Long, errors: Seq[String])

  def scan(files: Seq[Path], newIds: Set[String], todayIso: String): Result = {
    import javax.xml.stream.{XMLInputFactory, XMLStreamConstants => X}
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    val errs = scala.collection.mutable.LinkedHashSet[String]()
    var customers = 0L
    var systemIds = 0L
    var users = 0L
    files.foreach { file =>
      val in = Files.newInputStream(file)
      val r = f.createXMLStreamReader(in)
      var sawGroup = false
      try {
        while (r.hasNext) {
          r.next() match {
            case X.START_ELEMENT => r.getLocalName match {
              case "customer" =>
                customers += 1
                val id = r.getAttributeValue(null, "id")
                if (!newIds(id)) errs += s"output id $id is not a mapped new id"
              case "user" => users += 1; sawGroup = false
              case "user-group" =>
                if (r.getAttributeValue(null, "id") == "CG_Mekonomen") sawGroup = true
              case "custom-attribute" =>
                val name = r.getAttributeValue(null, "name")
                if (name == "LastOrderDate") errs += "LastOrderDate remains"
                if (name == "MEK_SystemID") {
                  systemIds += 1
                  val v = r.getElementText
                  if (v != "6") errs += s"MEK_SystemID is $v"
                }
              case "creation-date" =>
                val v = r.getElementText
                if (v != todayIso) errs += s"creation-date is $v"
              case _ =>
            }
            case X.END_ELEMENT if r.getLocalName == "user" =>
              if (!sawGroup) errs += "a user lacks CG_Mekonomen"
            case _ =>
          }
        }
      } finally { r.close(); in.close() }
    }
    if (customers > 0 && systemIds == 0) errs += "no MEK_SystemID in the output"
    if (customers > 0 && users == 0) errs += "no users in the output"
    Result(customers, errs.toSeq.take(5))
  }
}
