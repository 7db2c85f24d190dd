package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_xml}
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

  /** `to_xml` settings: the XML writer's own (same Stax generator, same
    * `_` attribute prefix and `_VALUE` text field); `validateName=false`
    * lets namespaced names (dt:dt, xsi:schemaLocation) through. */
  private val elementOptions =
    java.util.Map.of("rowTag", "customer", "validateName", "false")

  /** K1 — delta-XML sink. Each `df` row (a customer) is serialized to its
    * `<customer>` element by `to_xml` in the stage that computes the row,
    * so the expensive step runs partition-parallel. Each part file is a
    * complete document: the propagated envelope goes once around each
    * non-empty partition's elements, and the elements are written as text.
    *
    * `orderBy = Some(c)` writes ONE part, ordered by column `c` (which is
    * not serialized): the single ordered task then only concatenates
    * ready strings. `None` writes one part per partition, unordered.
    *
    * Spark writes an empty part when the plan has no rows at all (no CSV
    * id matched) and for partition 0 whenever it is empty; such parts get
    * the envelope with no `<customer>` in it. Every part is renamed from
    * `.txt` to `.xml` in the same pass. */
  def write(df: DataFrame, path: String, rootTag: String,
      orderBy: Option[String] = None): Unit = {
    val fields = df.columns.toSeq.filterNot(orderBy.contains).map(f => col(s"`$f`"))
    val element = to_xml(struct(fields: _*), elementOptions).as("xml")
    val elements = orderBy match {
      case Some(c) =>
        df.select(col(c), element).repartition(1).sortWithinPartitions(c).select("xml")
      case None => df.select(element)
    }
    val open = s"<?xml $declaration?>\n<$rootTag>"
    val close = s"</${rootTag.takeWhile(!_.isWhitespace)}>"
    elements.as(Encoders.STRING)
      .mapPartitions(it => if (it.hasNext) Iterator(open) ++ it ++ Iterator(close) else it)(
        Encoders.STRING)
      .write.mode("overwrite").text(path)

    val dir = new Path(path)
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(dir)
      .filter(st => st.getPath.getName.startsWith("part-") && st.getPath.getName.endsWith(".txt"))
      .foreach { st =>
        val xml = new Path(dir, st.getPath.getName.stripSuffix(".txt") + ".xml")
        if (st.getLen > 0) fs.rename(st.getPath, xml)
        else {
          val out = fs.create(xml, true)
          try out.write(s"$open\n$close\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          fs.delete(st.getPath, false)
        }
      }
  }
}
