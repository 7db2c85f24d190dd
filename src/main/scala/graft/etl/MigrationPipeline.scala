package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.NestedOps
import graft.operators.NestedOps.AttrRule

/** Spark-native re-expression of the reference's customer-migration ETL
  * (migrate.py:34-306): CSV mapping table × XML customer export →
  * transformed delta XML + per-row migration log CSV.
  *
  * The reference's O(|CSV|·|XML|) per-row XPath loop becomes ONE
  * broadcast-hash-join stage: the mapping table (small) broadcasts, the
  * customer export streams through executors partition-parallel — no
  * shuffle of the big side in the fast path, so the same plan holds on a
  * 1000-executor cluster reading a 100 TB export.
  *
  * [[run]] scans the export once. The join's output (`matched`) is
  * persisted, and every consumer reads it: the delta-XML write (the one
  * action that scans the export and fills the persisted blocks), the log's
  * re-join and the `found` count. Persisting it is safe at any export
  * size because it is bounded by the CSV: (join_key, key_ordinal) is
  * unique among the mapping rows, and (_id, key_ordinal) is unique among
  * the customers (by the ordinal in strict mode; the fast path assumes
  * unique ids), so each mapping row meets at most one customer.
  *
  * Replicated reference quirks (each cited):
  *  - duplicate CSV keys consume successive same-id XML customers
  *    ordinally, all with the FIRST row's values (migrate.py:115 re-probe
  *    after the :153 in-place rename + :123 `.iloc[0]` re-fetch) — this is
  *    the `strictDuplicateSemantics` path, expressed as row_number
  *    ordinals on both sides joined on (key, ordinal);
  *  - delivery-day regex is a PREFIX match (`re.match(r"-\b[1-9]D\b")`,
  *    migrate.py:148): "-3D-ish" is accepted; rlike("^-[1-9]D\\b") matches;
  *  - pass-1 update of MEK_CustomerOrderNumberMandatory writes Python's
  *    str(bool) = "True"/"False" (:178) while the insert branch lowercases
  *    (:210/:215); the dt:dt annotation is stamped only on insert;
  *  - invalid-but-found rows are still emitted to the output XML (V5,
  *    :257 precedes the :259 flag check);
  *  - the attr rewrite pass touches customer-level AND user-level
  *    custom-attributes (`.//i:custom-attribute`, :161).
  *
  * Documented divergences (SURVEY.md §7.3): proper null semantics instead
  * of pandas NaN leaking "nan"/"None" strings into output (F2); upserts
  * always target the customer-level container (the reference's
  * `.//i:custom-attributes` would target a user's container when the
  * customer-level one is absent, :188); output row order is the CSV order
  * only in single-file mode (distributed parts are unordered sets);
  * the join probe uses trim(current_customer_id) while the reference
  * probes the XML with the UNSTRIPPED CSV id (:109/:115 — stripping only
  * happens after a match, :120), so a CSV id with surrounding whitespace
  * matches here but not in the reference, and the log's current_id column
  * keeps the raw CSV value where the reference logs the stripped XML id
  * (:154). Whitespace-padded ids do not occur in well-formed exports;
  * trim-then-join keeps the key canonical for the distributed hash join.
  */
object MigrationPipeline {

  /** Explicit CSV schema (reference README.md:16-24) — never inferred
    * (SURVEY §1.2: inference flips the id column type on non-ASCII ids). */
  val csvSchema: StructType = StructType(Seq(
    StructField("current_customer_id", StringType),
    StructField("new_customer_id", StringType),
    StructField("new_source_id", StringType),
    StructField("new_store_id", StringType),
    StructField("new_store_name", StringType),
    StructField("mandatory_reference", BooleanType),
    StructField("delivery_day", StringType)))

  final case class MigrationConfig(
      csvPath: String,
      xmlPath: String,
      outDir: String,
      runId: String,                    // injected (P6) — reference uuid4 :35
      runDate: String,                  // YYYY-MM-DD folder (K3) — :291
      todayIso: String,                 // creation-date stamp (P5) — :97
      customerSchema: StructType = CustomerXml.customerSchema,
      strictDuplicateSemantics: Boolean = true,
      singleFile: Boolean = true)

  final case class MigrationResult(
      outputXmlPath: String,
      logCsvPath: String,
      customersFound: Long,
      csvDistinctIds: Long)

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(csvSchema).csv(path)

  /** J3 + V1-V3: first-per-key value resolution, default fill, validation.
    * `csv_idx` follows file order (monotonically_increasing_id is ordered
    * by (partition, offset), and CSV splits preserve file order). */
  def prepareCsv(csv: DataFrame): DataFrame = {
    val idx = csv
      .withColumn("csv_idx", monotonically_increasing_id())
      .withColumn("join_key", trim(col("current_customer_id").cast("string")))
      .withColumn("current_id_log", col("current_customer_id").cast("string")) // :109 unstripped
      .withColumn("new_id_own", trim(col("new_customer_id").cast("string")))   // :110 own-row, stripped
    val wk = Window.partitionBy("join_key").orderBy("csv_idx")
    // :123 `.iloc[0]` — every duplicate key resolves to the first row's values
    val firsts = Seq("new_customer_id", "new_source_id", "new_store_id",
      "new_store_name", "mandatory_reference", "delivery_day")
      .foldLeft(idx.withColumn("key_ordinal", row_number().over(wk))) {
        (d, c) => d.withColumn(c, first(col(c), ignoreNulls = false).over(wk))
      }
    val dd = col("delivery_day")
    firsts
      // V2 default fill (:143-144; untrimmed "" check is faithful)
      .withColumn("delivery_day_filled",
        when(dd.isNull || dd === "", lit("-3D")).otherwise(dd.cast("string")))
      // V3/F3 prefix-match validation (:146-150)
      .withColumn("dd_invalid", !col("delivery_day_filled").rlike("^-[1-9]D\\b"))
      // V1 missing-values check (:135-138; proper nulls — F2 divergence)
      .withColumn("missing_vals",
        col("new_customer_id").isNull || col("new_store_id").isNull ||
          col("new_store_name").isNull || col("new_source_id").isNull)
      .withColumn("error_flag", col("missing_vals") || col("dd_invalid"))
      // later assignment wins in the reference → format error takes precedence (:148 after :137)
      .withColumn("error_reason",
        when(col("dd_invalid"), lit("Invalid delivery day format! - Eg: '-1D’"))
          .when(col("missing_vals"), lit("Missing values!")))
  }

  /** Build-side ordinals for first-match-in-document-order fidelity (J1). */
  def prepareCustomers(customers: DataFrame, strict: Boolean): DataFrame = {
    val withOrder = customers.withColumn("doc_order", monotonically_increasing_id())
    if (strict) {
      val w = Window.partitionBy(col("_id")).orderBy(col("doc_order"))
      withOrder.withColumn("key_ordinal", row_number().over(w))
    } else {
      // fast path: ids assumed unique (true for real exports) — no shuffle
      withOrder.withColumn("key_ordinal", lit(1))
    }
  }

  private def pyBool(b: Column): Column = when(b, "True").otherwise("False") // :178 str(bool)

  private val N = "_name"; private val V = "_VALUE"; private val DT = "`_dt:dt`"

  /** N1 rule set (migrate.py:161-183) against the XML field convention. */
  private def xmlRules: Seq[AttrRule] = Seq(
    AttrRule("MEK_Company", lit("Meca"), onlyIfValue = Some("Mekonomen")),
    AttrRule("MEK_Store_Id", col("new_store_id")),
    AttrRule("MEK_WarehouseID", col("new_store_id")),
    AttrRule("MEK_Store_Name", col("new_store_name")),
    AttrRule("MEK_DataAreaID", col("new_source_id")),
    AttrRule("MEK_SourceID", col("new_source_id")),
    AttrRule("MEK_SystemID", lit("6")),
    AttrRule("MEK_CustomerOrderNumberMandatory", pyBool(col("mandatory_reference")),
      applyIf = Some(col("mandatory_reference").isNotNull)),
    AttrRule("MEK_DefaultDeliveryday", col("delivery_day_filled")))

  /** Rewrite one custom-attributes container (null-safe).
    *
    * Expression-shape note (this file's one hard perf lesson): these
    * nested transforms run INTERPRETED — higher-order functions have no
    * codegen, and interpreted eval has no common-subexpression reuse. A
    * `when(cond, struct.withField(..)).otherwise(struct)` chain therefore
    * re-evaluates the full previous struct for every reference, and
    * chained whole-struct steps compound multiplicatively (measured:
    * ~140 ms/row at 4 chained levels). Every update
    * here is expressed FIELD-level instead — `withField` null-propagates
    * the container and each field value is computed once from the
    * original input — which is linear and ~100× faster. */
  private def rewriteContainer(container: Column): Column = {
    val arr = container.getField("custom-attribute")
    container.withField("`custom-attribute`",
      when(arr.isNull, arr).otherwise(NestedOps.rewriteAttrs(arr, xmlRules, N, V, DT)))
  }

  /** N2 append branch: container creation + dt stamping (:186-216),
    * conditional on `cond` (field-level — see [[rewriteContainer]] note). */
  private def appendAttrIf(container: Column, cond: Column,
      name: String, value: Column, dt: String): Column = {
    val newAttr = struct(value.as("_VALUE"), lit(dt).as("_dt:dt"), lit(name).as("_name"))
    val arr = container.getField("custom-attribute")
    when(container.isNull,
      when(cond, struct(array(newAttr).as("custom-attribute"))).otherwise(container))
      .otherwise(container.withField("`custom-attribute`",
        when(cond && arr.isNull, array(newAttr))
          .when(cond, array_append(arr, newAttr))
          .otherwise(arr)))
  }

  /** All nested transforms on the matched (customer × CSV-row) frame. */
  def transformMatched(joined: DataFrame, todayIso: String): DataFrame = {
    val custAttrs = col("custom-attributes").getField("custom-attribute")

    def attrExistsAnywhere(name: String): Column = {
      // `.//i:custom-attribute` (:161) scans BOTH levels, so the exists
      // flags (:167-175 upsert guards) see user-level attrs too
      val atCust = coalesce(exists(custAttrs, a => a.getField(N) === name), lit(false))
      val atUser = coalesce(exists(col("user"), u =>
        coalesce(exists(u.getField("custom-attributes").getField("custom-attribute"),
          a => a.getField(N) === name), lit(false))), lit(false))
      atCust || atUser
    }

    val oldId = trim(col("_id").cast("string"))       // :120 str().strip()
    val newId = col("new_customer_id").cast("string") // :128 raw first-row value

    val step1 = joined
      .withColumn("graft_old_id", oldId)
      // N2 upsert guards — computed BEFORE the N1 rewrite: pass 1 never
      // adds or removes attribute NAMES, so existence over the original
      // columns equals the reference's post-pass-1 probes (:167-175)
      .withColumn("graft_dd_absent", !attrExistsAnywhere("MEK_DefaultDeliveryday"))
      .withColumn("graft_mand_absent", !attrExistsAnywhere("MEK_CustomerOrderNumberMandatory"))
      // N1 both levels
      .withColumn("custom-attributes", rewriteContainer(col("custom-attributes")))
      .withColumn("user", transform(col("user"), u =>
        u.withField("`custom-attributes`", rewriteContainer(u.getField("custom-attributes")))))

    val step2 = step1
      .withColumn("custom-attributes",
        appendAttrIf(col("custom-attributes"),
          col("graft_dd_absent") && col("delivery_day_filled").isNotNull,
          "MEK_DefaultDeliveryday", col("delivery_day_filled"), "string"))
      .withColumn("custom-attributes",
        appendAttrIf(col("custom-attributes"),
          col("graft_mand_absent") && col("mandatory_reference").isNotNull,
          "MEK_CustomerOrderNumberMandatory", lower(pyBool(col("mandatory_reference"))), "boolean"))
      // N3/N4/N6 + bpno per user (:218-254). Every update is FIELD-level
      // on the one lambda variable (see rewriteContainer note): each step
      // touches a different field, so they commute, withField
      // null-propagates the missing-subtree guards, and nothing
      // re-evaluates a previous step's whole struct.
      .withColumn("user", transform(col("user"), u => {
        val bp = u.getField("_business-partner-no")
        val groups = u.getField("user-groups").getField("user-group")
        val uattrs = u.getField("custom-attributes").getField("custom-attribute")
        val created = u.getField("profile").getField("creation-date")
        u.withField("`_business-partner-no`",
            when(bp === col("graft_old_id"), newId).otherwise(bp))
          .withField("`user-groups`.`user-group`",
            when(groups.isNull, groups).otherwise(
              NestedOps.insertGroupIfAbsent(groups, "_id",
                struct(lit("CG_Mekonomen").as("_id")), "CG_Mekonomen")))
          .withField("`custom-attributes`.`custom-attribute`",
            when(uattrs.isNull, uattrs).otherwise(
              NestedOps.deleteAttr(uattrs, "LastOrderDate", N)))
          // :243-247 removes the child element but keeps <credentials/>;
          // Catalyst forbids an empty struct, so null the field (null
          // fields are omitted by the XML writer → same serialized shape)
          .withField("credentials.`last-logged-in`", lit(null).cast("string"))
          .withField("profile.`creation-date`",
            when(created.isNull, created).otherwise(lit(todayIso)))
      }))
      // :153 id rewrite — after transforms so oldId comparisons used the original
      .withColumn("_id", newId)

    // N5 — schema-agnostic descendant TEXT replace over the user subtree
    // (:223-225), one column expression. Attribute fields (prefix "_")
    // are not text nodes; _VALUE is.
    NestedOps.replaceNestedText(
      step2.withColumn("graft_new_id", newId), "user", "graft_old_id", "graft_new_id",
      skipStructField = f => f.startsWith("_") && f != "_VALUE")
  }

  /** V4/U2 — per-CSV-row migration log (:102-104, 259-270). */
  def deriveLog(prepared: DataFrame, matchedKeys: DataFrame): DataFrame = {
    val m = matchedKeys.select(col("join_key").as("m_key"),
      col("key_ordinal").as("m_ord"), lit(true).as("found"))
    prepared.join(m,
        prepared("join_key") === col("m_key") && prepared("key_ordinal") === col("m_ord"),
        "left")
      .select(
        col("current_id_log").as("current_id"),
        // found rows log the refetched raw first-row id (:154); not-found
        // rows keep the own-row stripped id from :110
        when(col("found"), col("new_customer_id").cast("string"))
          .otherwise(col("new_id_own")).as("new_id"),
        when(col("found").isNull, lit("Not OK"))
          .when(col("error_flag"), lit("Not OK"))
          .otherwise(lit("OK")).as("status"),
        when(col("found").isNull, lit("Not found in source XML"))
          .when(col("error_flag"),
            concat(lit("Invalid value! Please check CSV input file ("),
              col("error_reason"), lit(")")))
          .otherwise(lit("Found in source XML file")).as("reason"),
        col("csv_idx"))
  }

  /** The ONE join stage at the pipeline's core: mapping rows broadcast,
    * the (possibly 100 TB) customer export streams through it — exposed
    * separately so plan audits can assert the shape at bench scale. */
  def coreJoin(customers: DataFrame, prepared: DataFrame): DataFrame = {
    val joinCond = customers("_id") === prepared("join_key") &&
      customers("key_ordinal") === prepared("key_ordinal")
    customers.join(broadcast(prepared), joinCond, "inner")
  }

  /** Full pipeline: returns output paths + the V6 consistency counts.
    *
    * Jobs: the delta-XML write serializes each customer in the parallel
    * transform stage ([[CustomerXml.write]]); in single-file mode one task
    * then orders the ready `<customer>` strings by `csv_idx` and writes
    * them. The log write and the `found` and `distinct` counts follow. */
  def run(spark: SparkSession, cfg: MigrationConfig): MigrationResult = {
    val prepared = prepareCsv(readCsv(spark, cfg.csvPath)).cache()
    val customers = prepareCustomers(
      CustomerXml.read(spark, cfg.xmlPath, cfg.customerSchema),
      cfg.strictDuplicateSemantics)

    // CSV-bounded (see the object doc), so it fits wherever `prepared`
    // does. The XML write below is the only action that scans the export; the
    // log and `found` read these blocks instead of parsing it again.
    val matched = coreJoin(customers, prepared).cache()

    val transformed = transformMatched(matched, cfg.todayIso)
    val outCols = cfg.customerSchema.fields.toIndexedSeq.map(f => col(s"`${f.name}`"))
    // V5: invalid-but-found customers are still emitted (:256-262). The
    // single file is in CSV order; distributed parts are unordered sets.
    val (output, order) =
      if (cfg.singleFile) (transformed.select(col("csv_idx") +: outCols: _*), Some("csv_idx"))
      else (transformed.select(outCols: _*), None)

    val dateDir = s"${cfg.outDir}/${cfg.runDate}"
    val rootTag = CustomerXml.readRootTag(spark, cfg.xmlPath)
    val xmlTmp = s"$dateDir/.xml-${cfg.runId}"
    CustomerXml.write(output, xmlTmp, rootTag, order)

    val log = deriveLog(prepared,
      matched.select(col("join_key"), prepared("key_ordinal")))
    val logOut =
      if (cfg.singleFile) log.repartition(1).sortWithinPartitions("csv_idx")
      else log
    val csvTmp = s"$dateDir/.log-${cfg.runId}"
    logOut.drop("csv_idx").write.mode("overwrite")
      .option("header", "true").csv(csvTmp)

    // each matched row is the one log row of its mapping row that is not
    // "Not found in source XML"
    val found = matched.count()
    val distinct = prepared.agg(
      countDistinct(col("current_customer_id").cast("string"))).head().getLong(0)
    matched.unpersist()
    prepared.unpersist()

    val fs = new Path(cfg.outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val xmlPath =
      if (cfg.singleFile) promoteSingle(fs, xmlTmp, s"$dateDir/output-${cfg.runId}.xml", ".xml")
      else xmlTmp
    val csvPath =
      if (cfg.singleFile) promoteSingle(fs, csvTmp, s"$dateDir/log-${cfg.runId}.csv", ".csv")
      else csvTmp

    println(s"$found/$distinct customers found and will be included in output XML.") // V6 :272
    MigrationResult(xmlPath, csvPath, found, distinct)
  }

  /** K3 — promote the single part file to the reference's
    * `output/YYYY-MM-DD/{output,log}-<runId>.{xml,csv}` layout (:286-293). */
  private def promoteSingle(fs: org.apache.hadoop.fs.FileSystem,
      tmpDir: String, finalPath: String, ext: String): String = {
    val part = fs.listStatus(new Path(tmpDir))
      .map(_.getPath).find(p => p.getName.startsWith("part-") && p.getName.endsWith(ext))
      .getOrElse(throw new IllegalStateException(s"no part file in $tmpDir"))
    val dest = new Path(finalPath)
    if (fs.exists(dest)) fs.delete(dest, false)
    fs.rename(part, dest)
    fs.delete(new Path(tmpDir), true)
    finalPath
  }
}
