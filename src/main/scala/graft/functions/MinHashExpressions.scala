package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Native MinHash signatures: `array<long> shingle hashes -> array<long>`
  * of length k where element j = min over shingles of
  * `xxhash64(j, shingle)` — BIT-IDENTICAL to the aggregate formulation
  * `groupBy(id).agg(min(xxhash64(lit(j), h)) for j < k)` over the exploded
  * array (the per-j seeds replicate Spark's XxHash64 fold: int j into the
  * 42 seed, then the shingle long), pinned by spec.
  *
  * Why an expression instead of explode+aggregate: the aggregate shape
  * multiplies the corpus by ~tokens-per-doc rows and pays a hash exchange
  * on the doc id just to regroup what was already per-document. This runs
  * the whole signature as ONE per-row primitive loop — no explode, no
  * shuffle, k*|shingles| hashes in place — turning MinHash+LSH candidate
  * generation's signature stage into a map-only pass. Duplicate shingles
  * don't change a min, so no distinct pass is needed either.
  *
  * An empty input array yields NULL (mirroring SimHash64): the aggregate
  * formulation emits no row for an empty shingle set, and a non-null
  * sentinel here would band every empty-input doc into the same LSH
  * bucket, pairing them all as candidates. Callers filter nulls
  * ([[graft.ops.Dedup.minhashSignatures]] does), keeping the map-only
  * path row-for-row equal to the aggregate for ALL inputs.
  * Codegen through [[NativeLoopCodegen]]: one call per ROW into the
  * row's loop, which is already tight.
  */
case class MinHashSigs(child: Expression, k: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(k > 0, "signature length must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<long>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // xxhash64(lit(j), h) == hashLong(h, hashInt(j, 42)): fold j first, then
  // the element, exactly as Spark's variadic XxHash64 does
  private lazy val seeds: Array[Long] = Array.tabulate(k)(j => XXH64.hashInt(j, 42L))

  override def nullable: Boolean = true

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = XXH64.hashLong(h, seeds(j))
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashFunctions {
  /** k-length MinHash signature of a hashed-shingle array column. */
  def minhash_sigs(shingleHashes: Column, k: Int): Column =
    Bridge.column(MinHashSigs(Bridge.expression(shingleHashes), k))
}
