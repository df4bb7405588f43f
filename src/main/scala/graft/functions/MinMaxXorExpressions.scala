package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Native array fold: `array<long> -> struct(min bigint, max bigint,
  * xor bigint)` in one per-row pass — the reduction the fingerprint stage
  * needs. The built-in composition (`array_min` + `array_max` + an
  * `aggregate` lambda) evaluates the (expensive) input array expression
  * once PER OUTPUT COLUMN after projection collapse, interpreted; the
  * explode + grouped min/max/bit_xor alternative pays a doc-id exchange.
  * This is neither: one loop, no shuffle (the aggregate form stays as
  * `TextAnalysis.fingerprintAgg`, pinned bit-identical by spec).
  * NULL for empty arrays (the aggregate form emits no row — callers
  * align); null elements are skipped. */
case class MinMaxXor(child: Expression)
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<long>, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("min", LongType, nullable = false),
    StructField("max", LongType, nullable = false),
    StructField("xor", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var x = 0L
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getLong(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        x ^= v
        seen = true
      }
      i += 1
    }
    if (!seen) null else InternalRow(mn, mx, x)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinMaxXorFunctions {
  /** One-pass (min, max, xor) struct over an array<long> column. */
  def min_max_xor(arr: Column): Column =
    Bridge.column(MinMaxXor(Bridge.expression(arr)))
}
