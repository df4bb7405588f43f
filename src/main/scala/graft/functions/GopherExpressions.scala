package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

/** Native per-document Gopher-rule counts: `string text -> struct(
  * n_words int, word_len_sum bigint, n_sym int, n_lines int,
  * n_bullet int, n_ellipsis int, n_alpha int)` — everything
  * [[graft.ops.TextAnalysis.gopherQualityRules]] needs, in two primitive
  * passes over the string (one for token structure, one for line
  * structure). The ratio/rounding layer stays in Column expressions so
  * null-propagation and double math are bit-identical to the
  * builtin-function spelling (kept as `gopherQualityRulesHof`, pinned
  * value-identical by spec).
  *
  * Why an expression: the builtin spelling evaluates an interpreted
  * split + higher-order-function pipeline PER DERIVED COLUMN — split on
  * `\s+` and an ArrayFilter for the token columns, three more splits
  * for the symbol counts, a split plus two per-line `rlike` regex
  * evaluations (fresh Matcher each) for the line columns — and
  * projection collapse duplicates the whole subtree into every
  * reference. The 10M-doc corpus smoke measured that stage at 508s on
  * 8 cores (~400µs/doc) while the comparable one-pass char-entropy
  * expression prices the same scan at ~10s (BASELINE.md r11).
  *
  * Exact-match semantics reproduced (all pinned by spec):
  *  - token = maximal run of non-`\s` chars (Java `\s` = ASCII
  *    `[ \t\n\x0B\f\r]`); lengths in CODE POINTS (= builtin `length`)
  *  - `n_sym` = '#' occurrences + U+2026 occurrences + maximal runs of
  *    ≥3 '.' (a 5-dot run counts once)
  *  - lines split on '\n'; blank = empty after trimming ASCII SPACES
  *    only (builtin `trim` does not strip tabs — "\t" is a non-blank
  *    line, exactly as the builtin spelling scores it)
  *  - bullet = trimmed line STARTS with '-', '*', or U+2022
  *  - ellipsis = trimmed line ends with "..." or U+2026, including the
  *    Java-regex `$` subtlety of matching just before ONE final line
  *    terminator ('\r', U+0085, U+2028, U+2029 — '\n' cannot survive
  *    the split), so "end...\r" matches exactly as `rlike` says
  *  - alpha word = token containing any ASCII letter */
case class GopherCounts(child: Expression)
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("word_len_sum", LongType, nullable = false),
    StructField("n_sym", IntegerType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_bullet", IntegerType, nullable = false),
    StructField("n_ellipsis", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false)))

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  private def isAsciiAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  // does s[from, until) end with "..." or the Unicode ellipsis, allowing
  // the regex-`$` grace of one final line terminator before the end?
  private def endsWithEllipsis(s: String, from: Int, until: Int): Boolean = {
    def endsAt(e: Int): Boolean =
      (e - from >= 1 && s.charAt(e - 1) == '…') ||
        (e - from >= 3 && s.charAt(e - 1) == '.' && s.charAt(e - 2) == '.' &&
          s.charAt(e - 3) == '.')
    if (until <= from) return false
    if (endsAt(until)) return true
    val last = s.charAt(until - 1)
    val isTerm = last == '\r' || last == '\u0085' || last == '\u2028' ||
      last == '\u2029'
    isTerm && endsAt(until - 1)
  }

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toString
    val len = s.length
    var nWords = 0
    var wordLenSum = 0L
    var nHash = 0
    var nUEll = 0
    var nDotRun = 0
    var nAlpha = 0
    var inToken = false
    var tokenHasAlpha = false
    var dotRun = 0
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (isWs(c)) {
        inToken = false
        if (dotRun >= 3) nDotRun += 1
        dotRun = 0
      } else {
        if (!inToken) { nWords += 1; inToken = true; tokenHasAlpha = false }
        // code-point length: skip the low-surrogate half of a pair
        if (!Character.isLowSurrogate(c)) wordLenSum += 1L
        if (c == '#') nHash += 1
        if (c == '…') nUEll += 1
        if (c == '.') dotRun += 1
        else { if (dotRun >= 3) nDotRun += 1; dotRun = 0 }
        if (!tokenHasAlpha && isAsciiAlpha(c)) { tokenHasAlpha = true; nAlpha += 1 }
      }
      i += 1
    }
    if (dotRun >= 3) nDotRun += 1

    var nLines = 0
    var nBullet = 0
    var nEllipsis = 0
    var lineStart = 0
    var j = 0
    while (j <= len) {
      if (j == len || s.charAt(j) == '\n') {
        // trim ASCII spaces only, as builtin trim() does
        var a = lineStart
        var b = j
        while (a < b && s.charAt(a) == ' ') a += 1
        while (b > a && s.charAt(b - 1) == ' ') b -= 1
        if (b > a) {
          nLines += 1
          val c0 = s.charAt(a)
          if (c0 == '-' || c0 == '*' || c0 == '•') nBullet += 1
          if (endsWithEllipsis(s, a, b)) nEllipsis += 1
        }
        lineStart = j + 1
      }
      j += 1
    }

    InternalRow(nWords, wordLenSum, nHash + nUEll + nDotRun, nLines,
      nBullet, nEllipsis, nAlpha)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherFunctions {
  /** Per-row Gopher-rule counts over the raw text column. */
  def gopher_counts(text: Column): Column =
    Bridge.column(GopherCounts(Bridge.expression(text)))
}
