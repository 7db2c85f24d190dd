package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema + envelope handling for the Intershop customer-impex XML
  * (reference: migrate.py:72-75 namespace map; tree shape reconstructed
  * from its XPaths, SURVEY.md §1.3). Spark's native XML source maps XML
  * attributes to `_`-prefixed fields, element text to `_VALUE`, and keeps
  * namespace prefixes in names (`_dt:dt`).
  *
  * All leaf types are pinned to StringType: the reference treats every
  * value as text (migrate.py casts everything with str()), and an explicit
  * string schema keeps timestamps/ids byte-verbatim through a round-trip.
  */
object CustomerXml {

  val attrType: StructType = StructType(Seq(
    StructField("_VALUE", StringType),
    StructField("_dt:dt", StringType),
    StructField("_name", StringType)))

  val attrsContainerType: StructType = StructType(Seq(
    StructField("custom-attribute", ArrayType(attrType))))

  val userGroupType: StructType = StructType(Seq(
    StructField("_id", StringType)))

  /** The user subtree. `some-element` stands in for arbitrary extra child
    * elements a real export carries (the reference's N5 walk is
    * schema-agnostic; callers with richer exports pass their own schema —
    * every transform in [[MigrationPipeline]] is built against whatever
    * schema the input DataFrame has). */
  val userType: StructType = StructType(Seq(
    StructField("_business-partner-no", StringType),
    StructField("custom-attributes", attrsContainerType),
    StructField("credentials", StructType(Seq(
      StructField("last-logged-in", StringType)))),
    StructField("profile", StructType(Seq(
      StructField("creation-date", StringType)))),
    StructField("some-element", StringType),
    StructField("user-groups", StructType(Seq(
      StructField("user-group", ArrayType(userGroupType)))))))

  val customerSchema: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("custom-attributes", attrsContainerType),
    StructField("user", ArrayType(userType))))

  /** Read `<customer>` rows with an explicit (never inferred) schema. */
  def read(spark: SparkSession, path: String,
      schema: StructType = customerSchema): DataFrame =
    spark.read.format("xml")
      .option("rowTag", "customer")
      .schema(schema)
      .load(path)

  /** N8 — root-envelope attribute propagation (migrate.py:274-281). Reads
    * ONLY the root start-element of the first matching file via StAX — a
    * few hundred bytes off the head of the (possibly 100 TB) export, never
    * a DOM load. Returns the rootTag string (tag + xmlns decls + attrs)
    * that the writer stamps onto every output document.
    */
  def readRootTag(spark: SparkSession, path: String): String = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.globStatus(hPath) match {
      case null | Array() => Array(fs.getFileStatus(hPath))
      case st => st
    }
    val file = if (status.head.isDirectory)
      fs.listStatus(status.head.getPath).filter(_.isFile).head.getPath
    else status.head.getPath
    val in = fs.open(file)
    try {
      val f = javax.xml.stream.XMLInputFactory.newInstance()
      f.setProperty(javax.xml.stream.XMLInputFactory.IS_NAMESPACE_AWARE, false)
      val r = f.createXMLStreamReader(in)
      try {
        while (r.hasNext && r.getEventType != javax.xml.stream.XMLStreamConstants.START_ELEMENT) r.next()
        val sb = new StringBuilder(r.getLocalName)
        def esc(s: String) = s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")
        (0 until r.getAttributeCount).foreach { i =>
          // non-namespace-aware parse: xmlns decls and prefixed attrs all
          // surface here with their literal qualified names
          sb.append(' ').append(r.getAttributeLocalName(i))
            .append("=\"").append(esc(r.getAttributeValue(i))).append('"')
        }
        // the output stamps dt:dt-typed attributes; if the source root
        // never declared the dt prefix, declare it (lxml auto-declares
        // namespaces on write — migrate.py relies on that)
        if (!sb.toString.contains("xmlns:dt=")) {
          sb.append(" xmlns:dt=\"http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt\"")
        }
        sb.toString
      } finally r.close()
    } finally in.close()
  }

  private val declaration = "version=\"1.0\" encoding=\"UTF-8\""

  /** K1 — delta-XML sink. Each part file is a complete document with the
    * propagated envelope; `validateName=false` lets namespaced names
    * (dt:dt, xsi:schemaLocation) through the Stax writer.
    *
    * The writer opens the envelope at a part's first row, so a part with
    * no rows comes out as an empty file, which is not a document. That is
    * the one part written when `df` has no rows (no CSV id matched), and
    * part 0 whenever its partition is empty: such parts get the envelope
    * with no `<customer>` in it. */
  def write(df: DataFrame, path: String, rootTag: String): Unit = {
    df.write.mode("overwrite").format("xml")
      .option("rowTag", "customer")
      .option("rootTag", rootTag)
      .option("declaration", declaration)
      .option("validateName", "false")
      .save(path)
    val dir = new Path(path)
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val envelope = s"<?xml $declaration?>\n<$rootTag>\n</${rootTag.takeWhile(!_.isWhitespace)}>"
    fs.listStatus(dir)
      .filter(st => st.getPath.getName.startsWith("part-") && st.getLen == 0)
      .foreach { st =>
        val out = fs.create(st.getPath, true)
        try out.write(envelope.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
  }
}
