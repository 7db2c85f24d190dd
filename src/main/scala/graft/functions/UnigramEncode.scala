package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for UNIGRAM-LM (SentencePiece-style) tokenization:
  * `unigram_encode(text, piecesSpec)` segments every whitespace word of
  * `text` by Viterbi over a piece table with integer micro log-probs
  * (Kudo 2018, "Subword Regularization" — the OTHER standard subword
  * tokenizer next to BPE; SentencePiece's default). Returns the piece
  * stream as one string: pieces joined by U+001F (unit separator), each
  * word's first piece prefixed with the SentencePiece word marker
  * U+2581 `▁` — so the stream is IN-ROW INVERTIBLE: drop the
  * separators, turn `▁` back into a space, and the whitespace-normalized
  * document reappears (the q_x54 byte-fallback contract, word-level).
  *
  * Viterbi contract (implemented IDENTICALLY by the DuckDB oracle's
  * recursive CTE, so the whole tokenization is hash-checkable):
  * `dp[0] = 0; dp[i] = max over k in 1..min(maxLen, i) of
  * dp[i−k] + w(word[i−k..i])`, where `w` is the spec's micro log-prob
  * for a piece in the table, the fixed UNK penalty −20e6 for a
  * single code point NOT in the table (char fallback — every word
  * always has a segmentation), and no candidate for an absent longer
  * piece. Ties prefer the LONGEST piece (k scanned descending, strict
  * improvement required). Backtrace from `dp[N]` yields the unique
  * segmentation.
  *
  * `piecesSpec` is a foldable string literal `"piece\tmicros\n…"` —
  * the piece TABLE rides the plan as a literal exactly like
  * [[BpeEncode]]'s merges, so application is MAP-ONLY: no join, no
  * shuffle, one codegen'd pass per document. Per-task memoization
  * (word → segmentation) makes the amortized cost one hash probe per
  * word occurrence — the DP runs once per DISTINCT word per executor.
  */
case class UnigramEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "unigram_encode requires (string, string literal pieces spec), got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}" +
          (if (!right.foldable) " (pieces spec must be foldable)" else ""))
    }

  @transient private lazy val piecesSpec: String =
    right.eval() match {
      case null => ""
      case s: UTF8String => s.toString
    }

  override def nullSafeEval(text: Any, spec: Any): Any =
    UnigramEncode.compute(text.asInstanceOf[UTF8String], piecesSpec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("piecesSpec", piecesSpec, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.UnigramEncode$$.MODULE$$.compute($t, $specRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramEncode =
    copy(left = newLeft, right = newRight)
}

object UnigramEncode {

  /** Word-start marker (SentencePiece's `▁`, U+2581). */
  val Marker = "▁"
  /** Piece separator in the output stream (unit separator, U+001F). */
  val Sep = "\u001f"
  /** Micro log-prob of a single code point absent from the table —
    * the char fallback that guarantees every word segments. */
  val UnkPenaltyM: Long = -20000000L

  /** Parsed + memoized per pieces spec (one table per query, shared by
    * every task in the executor JVM). */
  private final class Table(spec: String) {
    val w = new java.util.HashMap[String, java.lang.Long]()
    var maxLen = 1
    locally {
      spec.split("\n").foreach { line =>
        if (line.nonEmpty) {
          val tab = line.indexOf('\t')
          require(tab > 0 && tab < line.length - 1, s"bad pieces line: '$line'")
          val piece = line.substring(0, tab)
          w.put(piece, line.substring(tab + 1).toLong)
          val n = piece.codePointCount(0, piece.length)
          if (n > maxLen) maxLen = n
        }
      }
      require(maxLen <= 16, s"piece length $maxLen > 16 — the DP is a " +
        "fixed-width fold; a longer inventory is a vocab bug")
    }
    // word -> segmented stream, bounded; cleared on overflow
    val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  }

  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Table]()
  private def table(spec: String): Table =
    tables.computeIfAbsent(spec, s => new Table(s))

  private def encodeWord(word: String, tab: Table): String = {
    val cached = tab.cache.get(word)
    if (cached != null) return cached
    // code-point offsets (DuckDB's substr is code-point based)
    val off = {
      val b = Array.newBuilder[Int]
      var i = 0
      while (i < word.length) {
        b += i
        i += Character.charCount(word.codePointAt(i))
      }
      b += word.length
      b.result()
    }
    val n = off.length - 1
    val dp = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = Long.MinValue
      var bk = 1
      var k = math.min(tab.maxLen, i)
      while (k >= 1) {
        val sub = word.substring(off(i - k), off(i))
        val wt = tab.w.get(sub)
        val cand =
          if (wt != null) dp(i - k) + wt.longValue()
          else if (k == 1) dp(i - 1) + UnkPenaltyM
          else Long.MinValue
        // strict improvement with k descending: the LONGEST piece wins
        // ties (pinned; the oracle picks the largest k at the max)
        if (cand != Long.MinValue && cand > best) { best = cand; bk = k }
        k -= 1
      }
      dp(i) = best
      bp(i) = bk
      i += 1
    }
    val pieces = new java.util.ArrayDeque[String]()
    var pos = n
    while (pos > 0) {
      val k = bp(pos)
      pieces.addFirst(word.substring(off(pos - k), off(pos)))
      pos -= k
    }
    val sb = new java.lang.StringBuilder(word.length * 2)
    sb.append(Marker)
    val it = pieces.iterator()
    var first = true
    while (it.hasNext) {
      if (!first) sb.append(Sep)
      sb.append(it.next())
      first = false
    }
    val out = sb.toString
    if (tab.cache.size() >= 65536) tab.cache.clear()
    tab.cache.put(word, out)
    out
  }

  /** Whole-text encoding: whitespace words, each Viterbi-segmented, the
    * streams separator-joined. Called from interpreted eval and
    * generated code. */
  def compute(text: UTF8String, spec: String): UTF8String = {
    val tab = table(spec)
    val words = text.toString.split("\\s+")
    val sb = new java.lang.StringBuilder(text.numChars() * 2)
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) {
        if (sb.length() > 0) sb.append(Sep)
        sb.append(encodeWord(words(i), tab))
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
