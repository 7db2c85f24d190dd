package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nested-record transform operators (SURVEY.md §2.7, N1-N6) over
  * `ArrayType(StructType)` columns, re-expressing the reference's in-place
  * DOM mutations (migrate.py:153-254) as pure column expressions — no
  * UDFs, no shuffles. NOTE: higher-order functions (`transform`/`filter`/
  * `exists`) have NO codegen — their lambdas evaluate interpreted, with
  * no common-subexpression reuse. Callers must keep per-element updates
  * FIELD-level (`withField` per field, each computed once from the lambda
  * variable); chaining whole-struct `when(...).otherwise(prev)` steps
  * re-evaluates `prev` per reference and compounds multiplicatively —
  * measured at ~140 ms/row before MigrationPipeline.rewriteContainer's
  * restructure (see its scaladoc).
  *
  * Attribute elements are structs with fields (name, value, dt) mirroring
  * `<custom-attribute name=... dt:dt=...>text</>` (migrate.py:161-216).
  */
object NestedOps {

  /** One keyed rewrite rule: set `value` (and optionally `dt`) of the
    * attribute named `name`; `onlyIfValue` makes it value-conditional
    * (the reference's MEK_Company 'Mekonomen'→'Meca', migrate.py:162-163).
    */
  final case class AttrRule(
      name: String,
      newValue: Column,
      onlyIfValue: Option[String] = None,
      dt: Option[String] = None,
      applyIf: Option[Column] = None)

  /** N1 — one pass over the attribute array applying a keyed when-chain
    * (migrate.py:161-183 re-expressed as a single `transform` HOF).
    * Field names are parameterized so the same op serves both the testdata
    * shape (name/value/dt) and the XML impex shape (_name/_VALUE/_dt:dt).
    */
  def rewriteAttrs(attrs: Column, rules: Seq[AttrRule],
      nameField: String = "name", valueField: String = "value",
      dtField: String = "dt"): Column =
    transform(attrs, a => rules.foldRight(a) { (r, els) =>
      val nameCond = r.onlyIfValue match {
        case Some(v) => a.getField(nameField) === r.name && a.getField(valueField) === v
        case None    => a.getField(nameField) === r.name
      }
      val cond = r.applyIf.foldLeft(nameCond)(_ && _)
      val updated = r.dt.foldLeft(a.withField(valueField, r.newValue))(
        (c, d) => c.withField(dtField, lit(d)))
      when(cond, updated).otherwise(els)
    })

  /** N2 — update-or-insert an attribute, creating the container when the
    * array itself is null, stamping the dt type annotation either way
    * (migrate.py:186-216). Struct field order is (name, value, dt). */
  def upsertAttr(attrs: Column, name: String, value: Column, dt: String): Column = {
    val newAttr = struct(lit(name).as("name"), value.as("value"), lit(dt).as("dt"))
    when(attrs.isNull, array(newAttr))
      .when(exists(attrs, a => a.getField("name") === name),
        transform(attrs, a =>
          when(a.getField("name") === name,
            a.withField("value", value).withField("dt", lit(dt))).otherwise(a)))
      .otherwise(array_append(attrs, newAttr))
  }

  /** N3 — delete every attribute with the given name (migrate.py:237-240).
    * Null-named attributes are kept (the HOF filter predicate must not
    * evaluate to null, or the element silently disappears). */
  def deleteAttr(attrs: Column, name: String, nameField: String = "name"): Column =
    filter(attrs, a => coalesce(a.getField(nameField) =!= name, lit(true)))

  /** N4/U1 — idempotent set-insert into a string array
    * (`CG_Mekonomen` user-group, migrate.py:227-234). */
  def insertIfAbsent(arr: Column, value: Column): Column =
    when(array_contains(arr, value), arr).otherwise(array_append(arr, value))

  /** N4 variant for keyed struct elements (user-group structs with an id). */
  def insertGroupIfAbsent(groups: Column, idField: String, newGroup: Column, id: String): Column =
    when(exists(groups, g => g.getField(idField) === id), groups)
      .otherwise(array_append(groups, newGroup))

  /** N5 — recursive, schema-agnostic descendant text replace: the Spark
    * equivalent of `for element in user.iter(): if element.text == old`
    * (migrate.py:223-225). Rewrites EVERY string leaf of `treeCol` — at
    * any struct/array/map depth — that equals the row's `oldCol` to its
    * `newCol`; a null `oldCol` or `newCol` keeps the leaf. Map keys are
    * not text and stay; `skipStructField` names struct fields (at any
    * depth) whose subtree is left as is.
    *
    * One column expression built from the schema: `withField` through
    * structs, `transform` through arrays, `transform_values` through maps,
    * and at a string leaf `coalesce(when(leaf === old, new), leaf)`, which
    * keeps the leaf's nullability, so the result schema is the input's.
    * Subtrees without a string leaf are not touched. */
  def replaceNestedText(df: DataFrame, treeCol: String, oldCol: String, newCol: String,
      skipStructField: String => Boolean = _ => false): DataFrame = {
    def quoted(name: String) = "`" + name.replace("`", "``") + "`"
    val oldV = col(quoted(oldCol))
    val newV = col(quoted(newCol))

    def hasText(dt: DataType): Boolean = dt match {
      case _: StringType => true
      case st: StructType => st.fields.exists(f => !skipStructField(f.name) && hasText(f.dataType))
      case ArrayType(et, _) => hasText(et)
      case MapType(_, vt, _) => hasText(vt)
      case _ => false
    }

    def rewrite(c: Column, dt: DataType): Column = dt match {
      case _: StringType => coalesce(when(c === oldV, newV), c)
      case st: StructType =>
        st.fields.filter(f => !skipStructField(f.name) && hasText(f.dataType))
          .foldLeft(c)((acc, f) => acc.withField(quoted(f.name), rewrite(c.getField(f.name), f.dataType)))
      case ArrayType(et, _) => transform(c, rewrite(_, et))
      case MapType(_, vt, _) => transform_values(c, (_, v) => rewrite(v, vt))
    }

    val treeType = df.schema(treeCol).dataType
    if (hasText(treeType)) df.withColumn(treeCol, rewrite(col(quoted(treeCol)), treeType))
    else df
  }

  /** N6 — overwrite a nested timestamp-ish field (profile/creation-date ←
    * injected "today", migrate.py:249-254). Thin wrapper for discoverability. */
  def overwriteField(structCol: Column, fieldPath: String, value: Column): Column =
    structCol.withField(fieldPath, value)
}
