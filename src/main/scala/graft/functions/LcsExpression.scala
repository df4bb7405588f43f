package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Token-level longest-common-subsequence length for ROUGE-L scoring:
  * `(candidate tokens, reference tokens) -> struct(lcs int, cand_len
  * int, ref_len int)`. Classic O(n·m) DP with the two-row space
  * optimization (the short side is the DP row, so memory is
  * O(min(n, m))); token identity is string equality, with an interning
  * pre-pass that maps both sides to int ids so the inner loop compares
  * ints, not strings.
  *
  * Why an expression: LCS is a function of ONE row's two token arrays
  * and has no shuffle-based formulation at all — any dataframe
  * spelling would be a per-row HOF lambda (interpreted dispatch per
  * DP CELL, the measured 8× Gopher-tower cliff class, times n·m cells).
  * Codegen through [[NativeLoopCodegenBinary]], as [[NgramClipStats]]:
  * a per-row tight loop, one call per row. */
case class TokenLcs(left: Expression, right: Expression)
    extends BinaryExpression with NativeLoopCodegenBinary {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"requires (array<string>, array<string>), got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("lcs", IntegerType, nullable = false),
    StructField("cand_len", IntegerType, nullable = false),
    StructField("ref_len", IntegerType, nullable = false)))

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
    // intern both sides to int ids: the DP inner loop runs n·m times
    // and must not pay string equality per cell
    val ids = new java.util.HashMap[String, Integer]()
    def intern(ts: Array[String]): Array[Int] = {
      val out = new Array[Int](ts.length)
      var i = 0
      while (i < ts.length) {
        val t = ts(i)
        val got = ids.get(t)
        if (got == null) {
          val nid = ids.size
          ids.put(t, nid)
          out(i) = nid
        } else out(i) = got.intValue()
        i += 1
      }
      out
    }
    val a0 = intern(cand)
    val b0 = intern(ref)
    // short side as the DP row
    val (a, b) = if (a0.length >= b0.length) (a0, b0) else (b0, a0)
    val m = b.length
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < m) {
        cur(j + 1) =
          if (a(i) == b(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    new GenericInternalRow(Array[Any](prev(m), cand.length, ref.length))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LcsFunctions {
  /** LCS stats struct of two token-array columns. */
  def token_lcs(cand: Column, ref: Column): Column =
    Bridge.column(TokenLcs(Bridge.expression(cand), Bridge.expression(ref)))
}
