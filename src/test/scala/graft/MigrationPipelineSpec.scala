package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{CustomerXml, MigrationPipeline}
import graft.etl.MigrationPipeline.MigrationConfig

/** Golden end-to-end test of the migration ETL over the synthesized
  * full-schema fixture (FIXTURES.md §B): every variant customer + every
  * CSV branch (OK / default-fill / missing-values / invalid-format /
  * not-found / duplicate-key ordinal consumption). */
class MigrationPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val NS =
    """xmlns="http://www.intershop.com/xml/ns/intershop/customer/impex/7.3"
      | xmlns:dt="http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt"
      | xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"""".stripMargin.replace("\n", "")

  private def attr(name: String, v: String, dt: String = null): String = {
    val d = if (dt == null) "" else s""" dt:dt="$dt""""
    s"""<custom-attribute$d name="$name">$v</custom-attribute>"""
  }

  private def fixtureXml: String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<enfinity $NS xsi:schemaLocation="http://example/b2b_customer.xsd" major="6" minor="1" family="enfinity" branch="enterprise" build="4.53.1_6">
       |  <customer id="401419">
       |    <custom-attributes>
       |      ${attr("MEK_Company", "Mekonomen")}
       |      ${attr("MEK_Store_Id", "S01")}
       |      ${attr("MEK_WarehouseID", "S01")}
       |      ${attr("MEK_Store_Name", "Old Store")}
       |      ${attr("MEK_DataAreaID", "src0")}
       |      ${attr("MEK_SourceID", "src0")}
       |      ${attr("MEK_SystemID", "5")}
       |    </custom-attributes>
       |    <user business-partner-no="401419">
       |      <custom-attributes>${attr("LastOrderDate", "2024-01-01")}</custom-attributes>
       |      <credentials><last-logged-in>2024-01-01</last-logged-in></credentials>
       |      <profile><creation-date>2020-01-01T00:00:00+00:00</creation-date></profile>
       |      <some-element>401419</some-element>
       |      <user-groups><user-group id="CG_Existing"/></user-groups>
       |    </user>
       |  </customer>
       |  <customer id="401420">
       |    <user business-partner-no="B2"><some-element>nope</some-element></user>
       |  </customer>
       |  <customer id="401421">
       |    <custom-attributes>
       |      ${attr("MEK_Company", "OtherCo")}
       |      ${attr("MEK_DefaultDeliveryday", "-7D", "legacy")}
       |      ${attr("MEK_CustomerOrderNumberMandatory", "false", "boolean")}
       |    </custom-attributes>
       |    <user business-partner-no="401421">
       |      <user-groups><user-group id="CG_Mekonomen"/></user-groups>
       |    </user>
       |  </customer>
       |  <customer id="401422">
       |    <custom-attributes>${attr("MEK_Store_Name", "Lonely")}</custom-attributes>
       |    <user business-partner-no="401422"><some-element>401422</some-element></user>
       |  </customer>
       |  <customer id="401423">
       |    <custom-attributes>${attr("MEK_SystemID", "5")}</custom-attributes>
       |    <user business-partner-no="401423"><some-element>dupA</some-element></user>
       |  </customer>
       |  <customer id="401423">
       |    <custom-attributes>${attr("MEK_SystemID", "5")}</custom-attributes>
       |    <user business-partner-no="401423"><some-element>dupB</some-element></user>
       |  </customer>
       |  <customer id="401424">
       |    <user business-partner-no="401424"/>
       |  </customer>
       |  <customer id="401425">
       |    <custom-attributes>${attr("MEK_Company", "Mekonomen")}</custom-attributes>
       |    <user business-partner-no="401425"/>
       |  </customer>
       |</enfinity>""".stripMargin

  private def fixtureCsv: String =
    """current_customer_id,new_customer_id,new_source_id,new_store_id,new_store_name,mandatory_reference,delivery_day
      |401419,NEW1,src1,S1,Store One,true,
      |401420,NEW2,src2,S2,Store Two,false,-5D
      |401421,NEW3,src3,S3,Store Three,true,-1D
      |401422,NEW4,src4,S4,,true,-2D
      |404404,NEWX,srcX,SX,Store X,,-3D
      |401423,NEW5,src5,S5,Store Five,false,-9D
      |401423,NEW5b,src5b,S5b,Store FiveB,true,-8D
      |401425,NEW6,src6,S6,Store Six,true,-12D
      |4123Ö47,NEWO,srcO,SO,Store O,false,-3D
      |""".stripMargin

  /** No id of this mapping occurs in the export. */
  private def absentCsv: String =
    """current_customer_id,new_customer_id,new_source_id,new_store_id,new_store_name,mandatory_reference,delivery_day
      |X1,NX1,s1,S1,Store X1,true,-1D
      |X2,NX2,s2,S2,Store X2,false,-2D
      |X2,NX2b,s2b,S2b,Store X2b,true,-3D
      |""".stripMargin

  /** Both modes: the RunMigration defaults and the distributed fast path. */
  private val modes = Seq(false, true)

  private def runFixture(csv: String = fixtureCsv,
      scaleMode: Boolean = false): MigrationPipeline.MigrationResult = {
    val dir = Files.createTempDirectory("graft-etl").toString
    Files.writeString(Paths.get(s"$dir/export.xml"), fixtureXml)
    Files.writeString(Paths.get(s"$dir/mapping.csv"), csv)
    val cfg = MigrationConfig(
      csvPath = s"$dir/mapping.csv",
      xmlPath = s"$dir/export.xml",
      outDir = s"$dir/out",
      runId = "testrun",
      runDate = "2026-08-12",
      todayIso = "2026-08-12T00:00:00+00:00",
      strictDuplicateSemantics = !scaleMode,
      singleFile = !scaleMode)
    MigrationPipeline.run(spark, cfg)
  }

  /** The contents of a single-file output, or of every part file of a
    * distributed one. */
  private def outputTexts(path: String, ext: String): Seq[String] = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) p.toFile.listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(ext))
      .map(f => Files.readString(f.toPath))
    else Seq(Files.readString(p))
  }

  private lazy val result = runFixture()

  private lazy val outXmlText = Files.readString(Paths.get(result.outputXmlPath))
  private lazy val outDf = CustomerXml.read(spark, result.outputXmlPath).cache()
  private lazy val logLines =
    Files.readString(Paths.get(result.logCsvPath)).trim.split("\n").toSeq

  private def attrsOf(id: String): Map[String, (String, String)] = {
    import spark.implicits._
    outDf.filter(col("_id") === id)
      .select(explode(col("custom-attributes.custom-attribute")).as("a"))
      .select(col("a._name"), col("a._VALUE"), col("a.`_dt:dt`"))
      .as[(String, String, String)].collect()
      .map { case (n, v, d) => n -> (v, d) }.toMap
  }

  test("run unpersists what it caches: the persisted RDD set is unchanged") {
    for (scaleMode <- modes; csv <- Seq(fixtureCsv, absentCsv)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      runFixture(csv, scaleMode)
      assert(spark.sparkContext.getPersistentRDDs.keySet === before,
        s"scaleMode=$scaleMode, absent ids=${csv == absentCsv}")
    }
  }

  test("no mapping id in the export: 0 found, every row not found, an envelope without customers") {
    for (scaleMode <- modes) {
      val res = runFixture(absentCsv, scaleMode)
      assert(res.customersFound === 0, s"scaleMode=$scaleMode")
      assert(res.csvDistinctIds === 2, s"scaleMode=$scaleMode")
      val logRows = outputTexts(res.logCsvPath, ".csv")
        .flatMap(_.trim.split("\n").toSeq.tail).sorted
      assert(logRows === Seq(
        "X1,NX1,Not OK,Not found in source XML",
        "X2,NX2,Not OK,Not found in source XML",
        "X2,NX2b,Not OK,Not found in source XML"), s"scaleMode=$scaleMode")
      val xmls = outputTexts(res.outputXmlPath, ".xml")
      assert(xmls.nonEmpty && xmls.forall(!_.contains("<customer")), s"scaleMode=$scaleMode")
      assert(xmls.forall(x => x.contains("<enfinity") &&
        x.contains("xsi:schemaLocation=\"http://example/b2b_customer.xsd\"")), s"scaleMode=$scaleMode")
    }
  }

  /** Markup and non-ASCII characters in an id (an attribute and, by N5,
    * a text node) and in a store name (element text). Spark's CSV reader
    * escapes a quote inside a quoted field with a backslash. */
  private val markupCsv: String =
    """current_customer_id,new_customer_id,new_source_id,new_store_id,new_store_name,mandatory_reference,delivery_day
      |401419,"N&\"<Ö1",src1,S1,"A&B <C> \"D\" Ö",true,-1D
      |401421,NEW3,src3,S3,Store Three,true,-1D
      |""".stripMargin

  /** Every file a distributed output holds is a part: `.xml` and a whole
    * document with the `enfinity` root. */
  private def assertWholeDocuments(dir: String): Unit = {
    val files = new java.io.File(dir).listFiles().toSeq
      .filterNot(f => f.getName.startsWith(".") || f.getName == "_SUCCESS")
    assert(files.nonEmpty && files.forall(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".xml")), files.map(_.getName))
    files.foreach { f =>
      val factory = javax.xml.stream.XMLInputFactory.newInstance()
      val in = Files.newInputStream(f.toPath)
      val r = factory.createXMLStreamReader(in)
      try {
        while (r.hasNext && !r.isStartElement) r.next()
        assert(r.getLocalName === "enfinity", f.getName)
        while (r.hasNext) r.next() // throws unless the rest is well-formed
      } finally { r.close(); in.close() }
    }
  }

  test("markup and non-ASCII values round-trip through the delta XML, both modes") {
    import spark.implicits._
    for (scaleMode <- modes) {
      val res = runFixture(markupCsv, scaleMode)
      assert(res.customersFound === 2, s"scaleMode=$scaleMode")
      if (scaleMode) assertWholeDocuments(res.outputXmlPath)
      val out = CustomerXml.read(spark, res.outputXmlPath)
      val c = out.filter(col("_id") === "N&\"<Ö1")
      assert(c.count() === 1, s"scaleMode=$scaleMode")
      val store = c.select(explode(col("custom-attributes.custom-attribute")).as("a"))
        .filter(col("a._name") === "MEK_Store_Name").select(col("a._VALUE")).as[String].collect()
      assert(store.toSeq === Seq("A&B <C> \"D\" Ö"), s"scaleMode=$scaleMode")
      val text = c.select(explode(col("user")).as("u")).select(col("u.some-element")).as[String].collect()
      assert(text.toSeq === Seq("N&\"<Ö1"), s"scaleMode=$scaleMode") // N5 over the markup id
    }
  }

  test("V6 summary counts: 7 found / 8 distinct csv ids") {
    assert(result.customersFound === 7)
    assert(result.csvDistinctIds === 8)
  }

  test("output contains exactly the matched customers, transformed ids (incl. V5 invalid-but-found)") {
    import spark.implicits._
    val ids = outDf.select(col("_id")).as[String].collect().sorted.toSeq
    assert(ids === Seq("NEW1", "NEW2", "NEW3", "NEW4", "NEW5", "NEW5", "NEW6"))
  }

  test("N1+N2 insert path (401419→NEW1): rewrite chain + lowercase insert + dt stamp + -3D default") {
    val a = attrsOf("NEW1")
    assert(a("MEK_Company")._1 === "Meca")
    assert(a("MEK_Store_Id")._1 === "S1" && a("MEK_WarehouseID")._1 === "S1")
    assert(a("MEK_Store_Name")._1 === "Store One")
    assert(a("MEK_DataAreaID")._1 === "src1" && a("MEK_SourceID")._1 === "src1")
    assert(a("MEK_SystemID")._1 === "6")
    assert(a("MEK_DefaultDeliveryday") === (("-3D", "string")))     // V2 default + dt
    assert(a("MEK_CustomerOrderNumberMandatory") === (("true", "boolean"))) // :215 lowercase
  }

  test("N2 container creation (401420→NEW2): attrs appear despite absent container") {
    val a = attrsOf("NEW2")
    assert(a("MEK_DefaultDeliveryday") === (("-5D", "string")))
    assert(a("MEK_CustomerOrderNumberMandatory") === (("false", "boolean")))
  }

  test("N1 update path (401421→NEW3): value-conditional skip, True capitalized, dt NOT re-stamped") {
    val a = attrsOf("NEW3")
    assert(a("MEK_Company")._1 === "OtherCo")                        // not Mekonomen → untouched
    assert(a("MEK_DefaultDeliveryday") === (("-1D", "legacy")))      // updated, dt preserved (:181-183)
    assert(a("MEK_CustomerOrderNumberMandatory") === (("True", "boolean"))) // :178 str(True)
  }

  test("user transforms on NEW1: bpno, N5 text replace, group insert, deletes, creation-date") {
    import spark.implicits._
    val u = outDf.filter(col("_id") === "NEW1").select(explode(col("user")).as("u"))
    assert(u.select(col("u._business-partner-no")).as[String].head() === "NEW1")
    assert(u.select(col("u.some-element")).as[String].head() === "NEW1") // N5
    val groups = u.select(col("u.user-groups.user-group._id")).as[Seq[String]].head()
    assert(groups === Seq("CG_Existing", "CG_Mekonomen"))
    // sole attr deleted → empty array → serialized as <custom-attributes/> → null on re-read
    val uattrs = u.select(col("u.custom-attributes.custom-attribute._name")).as[Seq[String]].head()
    assert(uattrs == null || !uattrs.contains("LastOrderDate"))
    assert(u.select(col("u.credentials.last-logged-in")).as[String].head() === null)
    assert(u.select(col("u.profile.creation-date")).as[String].head() === "2026-08-12T00:00:00+00:00")
  }

  test("N4 idempotence (401421→NEW3): CG_Mekonomen not duplicated") {
    import spark.implicits._
    val groups = outDf.filter(col("_id") === "NEW3")
      .select(explode(col("user")).as("u"))
      .select(col("u.user-groups.user-group._id")).as[Seq[String]].head()
    assert(groups === Seq("CG_Mekonomen"))
  }

  test("null-safe user transforms (401422→NEW4): no credentials/profile, missing store name") {
    import spark.implicits._
    val a = attrsOf("NEW4")
    assert(a("MEK_Store_Name")._1 === null) // null CSV value → empty attr (F2 divergence)
    val u = outDf.filter(col("_id") === "NEW4").select(explode(col("user")).as("u"))
    assert(u.select(col("u.some-element")).as[String].head() === "NEW4") // N5 still ran
  }

  test("duplicate-key ordinal semantics (401423×2 ↔ csv×2): both consumed with FIRST row's values") {
    import spark.implicits._
    val dups = outDf.filter(col("_id") === "NEW5")
    assert(dups.count() === 2)
    val dds = dups.select(explode(col("custom-attributes.custom-attribute")).as("a"))
      .filter(col("a._name") === "MEK_DefaultDeliveryday")
      .select(col("a._VALUE")).as[String].collect().toSeq
    assert(dds === Seq("-9D", "-9D")) // r7's -8D never used (:123 iloc[0])
    val markers = dups.select(explode(col("user")).as("u"))
      .select(col("u.some-element")).as[String].collect().sorted.toSeq
    assert(markers === Seq("dupA", "dupB")) // both distinct XML customers present
  }

  test("absent-from-CSV customer (401424) not in output; envelope attrs propagated (N8)") {
    assert(!outXmlText.contains("401424"))
    assert(outXmlText.contains("xsi:schemaLocation=\"http://example/b2b_customer.xsd\""))
    assert(outXmlText.contains("major=\"6\"") && outXmlText.contains("build=\"4.53.1_6\""))
    assert(outXmlText.contains("xmlns:dt="))
    assert(outXmlText.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"))
  }

  test("migration log: one row per CSV row, in CSV order, reference statuses/reasons") {
    assert(logLines.head === "current_id,new_id,status,reason")
    val rows = logLines.tail
    assert(rows.size === 9)
    assert(rows(0) === "401419,NEW1,OK,Found in source XML file")
    assert(rows(1) === "401420,NEW2,OK,Found in source XML file")
    assert(rows(2) === "401421,NEW3,OK,Found in source XML file")
    assert(rows(3).startsWith("401422,NEW4,Not OK,") && rows(3).contains("Missing values!"))
    assert(rows(4) === "404404,NEWX,Not OK,Not found in source XML")
    assert(rows(5) === "401423,NEW5,OK,Found in source XML file")
    assert(rows(6) === "401423,NEW5,OK,Found in source XML file") // :154 logs first-row id
    assert(rows(7).startsWith("401425,NEW6,Not OK,") &&
      rows(7).contains("Invalid delivery day format!"))
    // non-ASCII id (reference example's 4123Ö47): not-found branch, no crash
    assert(rows(8) === "4123Ö47,NEWO,Not OK,Not found in source XML")
  }

  test("invalid delivery value still written to output (V5): NEW6 carries -12D") {
    val a = attrsOf("NEW6")
    assert(a("MEK_DefaultDeliveryday")._1 === "-12D")
    assert(a("MEK_Company")._1 === "Meca")
  }
}

/** Scale-mode variant: multi-part output, unique-id fast path (no ordinal
  * window → no big-side shuffle). */
class MigrationPipelineScaleModeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("singleFile=false + strictDuplicateSemantics=false: part-dir output, same semantics") {
    val dir = Files.createTempDirectory("graft-etl-scale").toString
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<enfinity xmlns="http://www.intershop.com/xml/ns/intershop/customer/impex/7.3" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" xsi:schemaLocation="http://x.xsd" major="6">
        |  <customer id="A1"><user business-partner-no="A1"/></customer>
        |  <customer id="A2"><user business-partner-no="A2"/></customer>
        |  <customer id="A3"><user business-partner-no="A3"/></customer>
        |</enfinity>""".stripMargin
    val csv =
      """current_customer_id,new_customer_id,new_source_id,new_store_id,new_store_name,mandatory_reference,delivery_day
        |A1,N1,s,S,Name,true,-1D
        |A3,N3,s,S,Name,false,-2D
        |""".stripMargin
    Files.writeString(Paths.get(s"$dir/export.xml"), xml)
    Files.writeString(Paths.get(s"$dir/mapping.csv"), csv)
    val res = MigrationPipeline.run(spark, MigrationConfig(
      csvPath = s"$dir/mapping.csv", xmlPath = s"$dir/export.xml",
      outDir = s"$dir/out", runId = "r2", runDate = "2026-08-12",
      todayIso = "2026-08-12T00:00:00+00:00",
      strictDuplicateSemantics = false, singleFile = false))
    assert(res.customersFound === 2 && res.csvDistinctIds === 2)
    // outputs are directories of parts, each a complete enfinity doc
    import spark.implicits._
    val out = CustomerXml.read(spark, res.outputXmlPath)
    assert(out.select(col("_id")).as[String].collect().sorted.toSeq === Seq("N1", "N3"))
    val partXml = new java.io.File(res.outputXmlPath).listFiles()
      .filter(_.getName.endsWith(".xml")).head
    val txt = Files.readString(partXml.toPath)
    assert(txt.contains("<enfinity") && txt.contains("xsi:schemaLocation=\"http://x.xsd\""))
    val log = spark.read.option("header", "true").csv(res.logCsvPath)
    assert(log.count() === 2)
  }
}
