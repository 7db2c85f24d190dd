package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for WORDPIECE tokenization (Wu et al. 2016; the
  * BERT-family tokenizer — the third of the three subword schemes in
  * production use, next to [[BpeEncode]] and [[UnigramEncode]]):
  * `wordpiece_encode(text, vocabSpec)` segments every whitespace word
  * by GREEDY LONGEST-MATCH-FIRST against a piece vocabulary whose
  * word-internal pieces carry the `##` continuation prefix. BERT
  * semantics exactly: at each position the longest vocabulary piece
  * wins (scanning lengths descending); if NO piece matches at some
  * position — or the word exceeds 100 code points — the WHOLE word
  * becomes `[UNK]` (partial segmentations are discarded, not emitted;
  * that cliff is the semantic difference from unigram's char
  * fallback, and the reason [[graft.operators.TextAnalysis
  * .wordPieceTokenize]] surfaces `n_unk`). Output: pieces joined by
  * U+001F, word-initial pieces plain, continuations `##`-prefixed —
  * so word boundaries are recoverable from the prefix structure.
  *
  * The greedy scan is implemented IDENTICALLY by the DuckDB oracle's
  * recursive CTE (longest match per position precomputed as MAX(k)
  * over the vocab-joined position grid), so the whole tokenization is
  * hash-checkable. `vocabSpec` is a foldable `"piece\n…"` literal —
  * the vocabulary rides the plan exactly like [[BpeEncode]]'s merges:
  * map-only, no join, no shuffle, per-task memoization per distinct
  * word. */
case class WordPieceEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "wordpiece_encode requires (string, string literal vocab spec), " +
          s"got ${left.dataType.catalogString} / " +
          s"${right.dataType.catalogString}" +
          (if (!right.foldable) " (vocab spec must be foldable)" else ""))
    }

  @transient private lazy val vocabSpec: String =
    right.eval() match {
      case null => ""
      case s: UTF8String => s.toString
    }

  override def nullSafeEval(text: Any, spec: Any): Any =
    WordPieceEncode.compute(text.asInstanceOf[UTF8String], vocabSpec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("vocabSpec", vocabSpec, "java.lang.String")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.WordPieceEncode$$.MODULE$$.compute($t, $specRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordPieceEncode =
    copy(left = newLeft, right = newRight)
}

object WordPieceEncode {

  /** Piece separator in the output stream (unit separator, U+001F). */
  val Sep = "\u001f"
  /** The unmatchable-word token (BERT's convention). */
  val Unk = "[UNK]"
  /** Words longer than this many code points are `[UNK]` outright
    * (BERT's max_input_chars_per_word). */
  val MaxWordChars = 100

  private final class Table(spec: String) {
    val pieces = new java.util.HashSet[String]()
    var maxLen = 1
    locally {
      spec.split("\n").foreach { line =>
        if (line.nonEmpty) {
          pieces.add(line)
          val bare = if (line.startsWith("##")) line.substring(2) else line
          val n = bare.codePointCount(0, bare.length)
          if (n > maxLen) maxLen = n
        }
      }
      require(maxLen <= 16, s"piece length $maxLen > 16 — the greedy " +
        "scan is a fixed-width probe; a longer inventory is a vocab bug")
    }
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
    val out =
      if (n > MaxWordChars) Unk
      else {
        val sb = new java.lang.StringBuilder(word.length * 2)
        var pos = 0
        var unk = false
        while (pos < n && !unk) {
          var k = math.min(tab.maxLen, n - pos)
          var matched = 0
          while (k >= 1 && matched == 0) {
            val sub = word.substring(off(pos), off(pos + k))
            val key = if (pos == 0) sub else "##" + sub
            if (tab.pieces.contains(key)) {
              if (sb.length() > 0) sb.append(Sep)
              sb.append(key)
              matched = k
            }
            k -= 1
          }
          if (matched == 0) unk = true else pos += matched
        }
        if (unk) Unk else sb.toString
      }
    if (tab.cache.size() >= 65536) tab.cache.clear()
    tab.cache.put(word, out)
    out
  }

  /** Whole-text encoding: whitespace words, each greedily segmented,
    * the streams separator-joined. Called from interpreted eval and
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
