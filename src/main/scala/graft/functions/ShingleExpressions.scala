package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Native shingle hashing for the MinHash / fingerprint pipelines:
  * `array<string> tokens -> array<long>` where element p is the xxhash64
  * rolling combine of the w token hashes starting at p (each token hashed
  * once, windows combined by hashing longs — NO w-gram string
  * concatenation).
  *
  * Replaces `transform(sequence(...), i -> concat_ws(" ", slice(tokens,
  * i+1, w)))` + per-shingle string hashing: the lambda path is interpreted
  * with per-element dispatch and materializes every w-gram as a new string
  * (O(total_text_bytes * w) allocation); this expression is one per-row
  * call running a primitive loop, O(tokens) hashing work.
  *
  * Shingle-count semantics match [[graft.ops.Dedup.shingles]]: n > w ->
  * n - w + 1 windows; n <= w (including 0) -> 1 whole-text shingle.
  * Codegen through [[NativeLoopCodegen]]: one call per ROW into the
  * row's loop, which is already tight.
  */
case class ShingleHashes(child: Expression, w: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(w > 0, "shingle width must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val seed = 42L

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val tokenHashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      // null elements hash as the seed itself (tokenizers shouldn't emit
      // nulls, but ArrayType(containsNull=true) inputs are accepted and a
      // raw getUTF8String on a null slot would NPE)
      val s = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      tokenHashes(i) = if (s == null) seed else XXH64.hashUTF8String(s, seed)
      i += 1
    }
    val m = if (n > w) n - w + 1 else 1
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      var acc = seed
      var k = p
      val end = math.min(p + w, n)
      while (k < end) {
        acc = XXH64.hashLong(tokenHashes(k), acc)
        k += 1
      }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleFunctions {
  /** Hashed w-shingles of a token array column. */
  def shingle_hashes(tokens: Column, w: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(tokens), w))
}
