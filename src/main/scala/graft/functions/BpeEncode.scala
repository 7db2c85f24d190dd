package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for TABLE-DRIVEN BPE application: `bpe_encode(text,
  * mergesSpec)` tokenizes every whitespace word of `text` against a
  * ranked merges table and returns the resulting token stream as a
  * single space-joined string (token count = its word count — both
  * engines derive it the same way).
  *
  * Merge-application contract (implemented IDENTICALLY by the DuckDB
  * oracle's recursive CTE, so the whole tokenization is hash-checkable):
  * a word starts as its sequence of code-point symbols; repeatedly,
  * among all merges whose pair `(a, b)` occurs adjacently, the LOWEST
  * RANK is chosen and its LEFTMOST occurrence is merged into one symbol
  * `a+b`; the scan restarts (a merge can create a lower-ranked pair to
  * its left or right) and stops when no merge applies. One merge per
  * step keeps the contract order-free of batch-update ambiguities
  * (overlapping occurrences like `aaa` under merge `(a,a)` are
  * well-defined: leftmost first).
  *
  * `mergesSpec` is a foldable string literal `"a b\nc d\n…"` in rank
  * order — the merges TABLE rides the plan as a literal exactly like
  * sign-LSH's inlined planes (bounded: a vocab is ≤ tens of thousands
  * of rows, and the toy tables here are ≤ hundreds), so application is
  * MAP-ONLY: no join against a merges relation, no shuffle, one pass
  * inside whole-stage codegen.
  *
  * Scale: per-task memoization (word → encoding) makes the amortized
  * cost one hash probe per word occurrence — natural text repeats its
  * vocabulary, so the quadratic-in-word-length merge loop runs once per
  * DISTINCT word per task. The cache is bounded (2^16 entries, cleared
  * on overflow) so a pathological corpus cannot OOM an executor.
  */
case class BpeEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "bpe_encode requires (string, string literal merges spec), got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}" +
          (if (!right.foldable) " (merges spec must be foldable)" else ""))
    }

  @transient private lazy val mergesSpec: String =
    right.eval() match {
      case null => ""
      case s: UTF8String => s.toString
    }

  override def nullSafeEval(text: Any, spec: Any): Any =
    BpeEncode.compute(text.asInstanceOf[UTF8String], mergesSpec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("mergesSpec", mergesSpec, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.BpeEncode$$.MODULE$$.compute($t, $specRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

object BpeEncode {

  /** Parsed + memoized per merges spec (one table per query, shared by
    * every task in the executor JVM). */
  private final class Table(spec: String) {
    val ranks = new java.util.HashMap[String, Integer]()
    locally {
      var r = 0
      spec.split("\n").foreach { line =>
        val t = line.trim
        if (t.nonEmpty) {
          val sp = t.indexOf(' ')
          require(sp > 0 && sp < t.length - 1, s"bad merges line: '$t'")
          ranks.put(t, r)   // key is exactly "a b"
          r += 1
        }
      }
    }
    // word -> encoded, bounded; cleared (not LRU'd) on overflow — natural
    // vocabularies fit many times over, so clearing is the rare case
    val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  }

  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Table]()
  private def table(spec: String): Table =
    tables.computeIfAbsent(spec, s => new Table(s))

  private def encodeWord(word: String, tab: Table): String = {
    val cached = tab.cache.get(word)
    if (cached != null) return cached
    // split into code-point symbols (DuckDB's substr is code-point based)
    var syms = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        val n = Character.charCount(cp)
        b += word.substring(i, i + n)
        i += n
      }
      b.result()
    }
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestPos = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = tab.ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestPos = i }
        i += 1
      }
      if (bestPos < 0) done = true
      else syms = (syms.take(bestPos) :+ (syms(bestPos) + syms(bestPos + 1))) ++
        syms.drop(bestPos + 2)
    }
    val out = syms.mkString(" ")
    if (tab.cache.size() >= 65536) tab.cache.clear()
    tab.cache.put(word, out)
    out
  }

  /** Whole-text encoding: whitespace words, each BPE-applied, all tokens
    * space-joined. Called from interpreted eval and generated code. */
  def compute(text: UTF8String, spec: String): UTF8String = {
    val tab = table(spec)
    val words = text.toString.split("\\s+")
    val sb = new java.lang.StringBuilder(text.numChars() * 2)
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) {
        if (sb.length() > 0) sb.append(' ')
        sb.append(encodeWord(words(i), tab))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
