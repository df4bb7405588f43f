package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

/** Shared primitives for the word-n-gram expressions below: the gram
  * STRING family (space-joined token windows), the native twin of the
  * interpreted `transform(sequence(...), i -> concat_ws(" ",
  * slice(toks, i+1, n)))` tower that the r13 JobProfile measured as one
  * 7.3s map-CPU job at sf0.1 (~4M gram strings through per-element
  * lambda dispatch). The hash-gram family for dedup stays on
  * [[ShingleHashes]] — these expressions exist for the consumers whose
  * ORACLE semantics need the literal gram string (top-gram tie-breaks,
  * per-gram character lengths, distinct-gram vocabularies).
  *
  * Gram identity: tokens joined by a single space, compared and
  * measured as Spark does — binary UTF-8 byte order for comparisons
  * (`UTF8String.compareTo`, = DuckDB's binary collation = code-point
  * order) and `numChars` code points for lengths (= builtin `length`).
  * Null token slots are SKIPPED exactly as `concat_ws(" ", ...)` — the
  * spelling these expressions replaced — skips them: ["a", null, "b"]
  * grams to "a b", never the double-space "a  b", so gram identity (and
  * thus MinHash signatures downstream of [[graft.ops.Dedup.shingles]])
  * is stable across the rewrite even for null-bearing inputs. The
  * [[graft.ops.TextAnalysis.tokens]] tokenizer cannot emit nulls
  * (split + non-empty filter); the branch exists because `shingles` is
  * public over arbitrary `array<string>` columns. */
private[functions] object WordGramUtil {
  val space: UTF8String = UTF8String.fromString(" ")

  def token(arr: ArrayData, i: Int): UTF8String = {
    val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
    if (t == null) UTF8String.EMPTY_UTF8 else t
  }

  /** Space-joined gram of the `n` tokens starting at `p`. Null slots
    * are skipped with no separator (the concat_ws contract — see the
    * object scaladoc); an all-null window yields the empty string,
    * matching `concat_ws(" ")` over zero surviving args. */
  def gram(arr: ArrayData, p: Int, n: Int): UTF8String = {
    if (n == 1) return token(arr, p)
    val parts = new Array[UTF8String](2 * n - 1)
    var m = 0
    var k = 0
    while (k < n) {
      val t = if (arr.isNullAt(p + k)) null else arr.getUTF8String(p + k)
      if (t != null) {
        if (m > 0) { parts(m) = space; m += 1 }
        parts(m) = t
        m += 1
      }
      k += 1
    }
    if (m == 0) UTF8String.EMPTY_UTF8
    else if (m == parts.length) UTF8String.concat(parts: _*) // hot path: no nulls, no copy
    else UTF8String.concat(java.util.Arrays.copyOf(parts, m): _*)
  }
}

/** `array<string> tokens -> array<string>` positional word n-grams:
  * element p is the space-joined window of `n` tokens starting at p.
  * Two fallback contracts, selected by `wholeTextFallback`:
  *  - false (default): `len < n` yields an EMPTY array — the
  *    span/novelty consumers must not fabricate grams;
  *  - true: `len <= n` yields ONE whole-text shingle (the
  *    [[graft.ops.Dedup.shingles]] dedup-recall contract, same as
  *    [[ShingleHashes]]; an empty token array yields `[""]` exactly as
  *    `array(concat_ws(" ", tokens))` did).
  * Output order is position order, so `posexplode` recovers (pos,
  * gram) exactly as the lambda spelling did. */
case class WordGramStrings(child: Expression, n: Int,
    wholeTextFallback: Boolean = false)
    extends UnaryExpression with NativeLoopCodegen {

  require(n >= 1, "gram width must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (wholeTextFallback && len <= n)
      return new GenericArrayData(
        Array[AnyRef](if (len == 0) UTF8String.EMPTY_UTF8
        else WordGramUtil.gram(arr, 0, len)))
    val m = math.max(0, len - n + 1)
    val out = new Array[AnyRef](m)
    var p = 0
    while (p < m) {
      out(p) = WordGramUtil.gram(arr, p, n)
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<string> tokens -> array<struct<n:int, g:string>>` tagged word
  * n-grams for every width in `ns` (emitted in `ns` order, positions
  * ascending within a width; widths longer than the document contribute
  * nothing). The one-explode input for per-width gram statistics
  * ([[graft.ops.TextAnalysis.ngramDiversity]]) — replaces the
  * `flatten(array(ns.map(transform(...))))` interpreted tower with one
  * per-row primitive loop. */
case class WordGramsTagged(child: Expression, ns: Seq[Int])
    extends UnaryExpression with NativeLoopCodegen {

  require(ns.nonEmpty && ns.forall(_ >= 1), "need widths >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false))), containsNull = false)

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val len = arr.numElements()
    var total = 0
    ns.foreach { n => total += math.max(0, len - n + 1) }
    val out = new Array[AnyRef](total)
    var w = 0
    ns.foreach { n =>
      val m = math.max(0, len - n + 1)
      var p = 0
      while (p < m) {
        out(w) = InternalRow(n, WordGramUtil.gram(arr, p, n))
        w += 1
        p += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native per-document Gopher repetition statistics: `array<string>
  * tokens -> struct(top2..top4 double, dup5..dup10 double)` — the
  * entire gram leg of [[graft.ops.TextAnalysis.gopherRepetitionRules]]
  * collapsed into one per-row pass. The n-gram counting there is
  * DOC-LOCAL (every gram belongs to exactly one document), so the
  * explode -> (id, n, gram)-keyed exchange -> (id, n) rollup ->
  * per-doc pivot of the relational spelling computes nothing a per-row
  * hash map cannot: this expression removes the ~4M-gram-string
  * interpreted map job AND both gram shuffles — at 100 TB the gram leg
  * becomes shuffle-free map work.
  *
  * Exact-match semantics reproduced from the relational spelling (the
  * DuckDB oracle replays them bit-for-bit; the spelling is kept as
  * `gopherRepetitionRulesHof`, pinned value-identical by spec):
  *  - denominator `tchars` = code-point length of the single-space
  *    joined token stream (sum of token lengths + len-1 separators),
  *    floored at 1;
  *  - top fraction (n = 2..4): the most frequent gram wins ties by the
  *    LARGEST (count, gram) pair under binary string order; a top gram
  *    occurring ONCE scores 0 (a single occurrence is not repetition);
  *    otherwise count x gram code-point length / tchars, capped at 1.0;
  *  - duplicated fraction (n = 5..10): sum over grams with count > 1 of
  *    count x gram length, over tchars, capped at 1.0;
  *  - documents with fewer than n tokens score 0.0 at that n (no
  *    evidence => pass, the gopherQualityRules convention).
  * Rounding to 6dp stays in the Column layer (`round(..., 6)`), where
  * the relational spelling applies it. */
case class GopherGramStats(child: Expression)
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = StructType(
    (2 to 4).map(n => StructField(s"top$n", DoubleType, nullable = false)) ++
      (5 to 10).map(n => StructField(s"dup$n", DoubleType, nullable = false)))

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val len = arr.numElements()
    var tchars = 0L
    var i = 0
    while (i < len) {
      tchars += WordGramUtil.token(arr, i).numChars()
      i += 1
    }
    if (len > 1) tchars += len - 1
    val den = math.max(tchars, 1L).toDouble
    val out = new Array[Any](9)
    var slot = 0
    var n = 2
    while (n <= 10) {
      val m = len - n + 1
      var frac = 0.0
      if (m > 0) {
        val counts = new mutable.HashMap[UTF8String, Int]()
        var p = 0
        while (p < m) {
          val g = WordGramUtil.gram(arr, p, n)
          counts.update(g, counts.getOrElse(g, 0) + 1)
          p += 1
        }
        if (n <= 4) {
          // top gram by (count, gram) — the deterministic tie-break of
          // the relational max(struct(c, g))
          var topC = 0
          var topG: UTF8String = null
          counts.foreach { case (g, c) =>
            if (c > topC || (c == topC && g.compareTo(topG) > 0)) {
              topC = c; topG = g
            }
          }
          if (topC > 1)
            frac = math.min(1.0, topC.toLong * topG.numChars() / den)
        } else {
          var dupChars = 0L
          counts.foreach { case (g, c) =>
            if (c > 1) dupChars += c.toLong * g.numChars()
          }
          frac = math.min(1.0, dupChars / den)
        }
      }
      out(slot) = frac
      slot += 1
      n += 1
    }
    InternalRow(out: _*)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGramFunctions {
  /** Positional space-joined word n-grams of a token array (empty when
    * the document is shorter than `n`). */
  def word_grams(tokens: Column, n: Int): Column =
    Bridge.column(WordGramStrings(Bridge.expression(tokens), n))

  /** Word n-grams with the whole-text fallback ([[graft.ops.Dedup
    * .shingles]] contract: `len <= n` -> one whole-text shingle). */
  def word_grams_whole(tokens: Column, n: Int): Column =
    Bridge.column(WordGramStrings(Bridge.expression(tokens), n,
      wholeTextFallback = true))

  /** (n, gram) tagged grams for every width in `ns`. */
  def word_grams_tagged(tokens: Column, ns: Seq[Int]): Column =
    Bridge.column(WordGramsTagged(Bridge.expression(tokens), ns))

  /** Per-document Gopher repetition gram statistics. */
  def gopher_gram_stats(tokens: Column): Column =
    Bridge.column(GopherGramStats(Bridge.expression(tokens)))
}
