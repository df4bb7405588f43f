package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Sign-random-projection signature as a native expression: bit j of the
  * result is the sign of <v, plane_j>, where plane component (j, d) is a
  * pseudo-random +-1 derived from chained xxhash64 of the plane and
  * dimension indices — data-independent, reproducible cluster-wide with
  * zero driver state, and computed in one primitive (planes x dim) loop per
  * row instead of the nested interpreted lambdas the built-in composition
  * needs. Used by SRP-LSH bucketing ([[graft.ops.Similarity.lshKnn]]).
  */
case class SrpSignature(child: Expression, planes: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(planes > 0 && planes <= 63, "planes must be in [1, 63]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<float|double>, got $other")
  }

  override def dataType: DataType = LongType

  // def, not val: the child's dataType is unknown until analysis resolves it
  private def isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var sig = 0L
    var j = 0
    while (j < planes) {
      var proj = 0.0
      var d = 0
      while (d < n) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        // +-1 component from the low bit of a chained 64-bit hash
        val h = XXH64.hashLong(d.toLong, XXH64.hashLong(j.toLong, 42L))
        proj += (if ((h & 1L) == 1L) x else -x)
        d += 1
      }
      if (proj > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpFunctions {
  def srp_signature(vec: Column, planes: Int): Column =
    Bridge.column(SrpSignature(Bridge.expression(vec), planes))
}
