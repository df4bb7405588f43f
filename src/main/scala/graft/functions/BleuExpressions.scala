package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Native per-row clipped n-gram statistics for BLEU-style scoring:
  * `(candidate tokens, reference tokens) -> struct(cand_len int,
  * ref_len int, clipped array<int>, total array<int>)` where for each
  * order n in 1..maxN, `total(n-1)` counts the candidate's n-gram
  * OCCURRENCES and `clipped(n-1)` = Σ_g min(count_cand(g),
  * count_ref(g)) — Papineni et al. '02's modified precision numerator
  * (a candidate cannot earn credit for a gram more times than the
  * reference contains it; the clip is what makes "the the the the"
  * score ~0 against "the cat").
  *
  * Why an expression: both counts are functions of ONE row's two token
  * arrays. The aggregate formulation explodes both sides per order
  * (2·maxN corpus-sized exchanges) and joins them back; this is a
  * map-only pass — one hash map per (row, order), zero shuffles.
  * Codegen through [[NativeLoopCodegenBinary]], as [[TokenProfile]]: a
  * per-row tight loop, kept out of the interpreted-lambda (HOF) path. */
case class NgramClipStats(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression with NativeLoopCodegenBinary {
  require(maxN >= 1 && maxN <= 8, "maxN in 1..8")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"requires (array<string>, array<string>), got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("cand_len", IntegerType, nullable = false),
    StructField("ref_len", IntegerType, nullable = false),
    StructField("clipped", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("total", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  private def toks(a: Any): Array[String] = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    out
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val cand = toks(l)
    val ref = toks(r)
    val clipped = new Array[Int](maxN)
    val total = new Array[Int](maxN)
    var n = 1
    while (n <= maxN) {
      val refCounts = new java.util.HashMap[String, Int]()
      var i = 0
      while (i + n <= ref.length) {
        val g = gram(ref, i, n)
        refCounts.put(g, refCounts.getOrDefault(g, 0) + 1)
        i += 1
      }
      val candCounts = new java.util.HashMap[String, Int]()
      i = 0
      while (i + n <= cand.length) {
        val g = gram(cand, i, n)
        candCounts.put(g, candCounts.getOrDefault(g, 0) + 1)
        total(n - 1) += 1
        i += 1
      }
      val it = candCounts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val rc = refCounts.getOrDefault(e.getKey, 0)
        clipped(n - 1) += math.min(e.getValue, rc)
      }
      n += 1
    }
    InternalRow(cand.length, ref.length,
      new GenericArrayData(clipped), new GenericArrayData(total))
  }

  private def gram(ts: Array[String], start: Int, n: Int): String = {
    if (n == 1) ts(start)
    else {
      val sb = new java.lang.StringBuilder(ts(start))
      var j = 1
      while (j < n) { sb.append(' ').append(ts(start + j)); j += 1 }
      sb.toString
    }
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object BleuFunctions {
  /** Per-row clipped n-gram stats (orders 1..maxN) of candidate vs
    * reference token arrays. */
  def ngram_clip_stats(cand: Column, ref: Column, maxN: Int): Column =
    Bridge.column(NgramClipStats(
      Bridge.expression(cand), Bridge.expression(ref), maxN))
}
