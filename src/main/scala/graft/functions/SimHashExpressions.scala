package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Native 64-bit SimHash (Charikar '02): `array<string> tokens -> long`.
  * Each token's xxhash64 votes its bits +-1; the sign vector packs into
  * one long — BIT-IDENTICAL to the explode + 64-conditional-sum aggregate
  * formulation (kept as `Dedup.simhashAgg`, pinned by spec): same token
  * hash (seed 42), same `votes > 0 -> bit set` packing.
  *
  * Why an expression: the aggregate shape exploded the corpus to one row
  * per token and paid a doc-id exchange carrying 64 partial sums per doc
  * just to regroup per-document state. This is ONE per-row primitive loop
  * — no explode, NO SHUFFLE — turning SimHash candidate generation's
  * signature stage into a map-only pass.
  *
  * An empty token array yields NULL (the aggregate formulation emits no
  * row for a token-less doc; callers drop nulls to match). Null token
  * slots hash as the seed, matching [[ShingleHashes]]. Codegen through
  * [[NativeLoopCodegen]]: one call per ROW. */
case class SimHash64(child: Expression)
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private val seed = 42L

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val h = if (s == null) seed else XXH64.hashUTF8String(s, seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) packed |= 1L << b
      b += 1
    }
    packed
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashFunctions {
  /** 64-bit SimHash of a token array column (null for empty arrays). */
  def simhash64(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))
}
