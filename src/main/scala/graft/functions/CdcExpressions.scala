package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

/** Content-defined chunking (CDC) — the rolling-hash boundary scheme of
  * LBFS (Muthitacharoen et al., SOSP '01) in its Gear/FastCDC spelling
  * (Xia et al., USENIX ATC '16): cut a document where a rolling hash of
  * the last few dozen characters hits a mask, subject to min/max chunk
  * bounds. Because a boundary depends only on LOCAL content, an edit
  * early in a document shifts at most the chunks that overlap it — the
  * boundary walk re-synchronizes at the next content-determined cut and
  * every later chunk is byte-identical to the unedited version's. That
  * is the property fixed-width windows ([[graft.ops.TextAnalysis]]'s
  * token chunking) fundamentally lack: one inserted character shifts
  * EVERY downstream fixed window, so chunk-hash dedup across corpus
  * versions (re-crawls, revision histories) sees 0% reuse where CDC
  * sees all-but-the-edited-chunk. Reference has no chunking surface;
  * extension op — see [[graft.ops.Cdc]] for the operator surface.
  *
  * Two hash families, the [[WinnowFingerprints]] convention:
  * [[GearCdcChunks]] is the production path (Gear hash: one shift+add
  * per char, h's top bit ages out after 64 shifts so the judgment is a
  * sliding 64-char function by construction) and the md5-h60 candidate
  * predicate in [[graft.ops.Cdc.chunksPortable]] is the
  * oracle-checkable surface, both sharing [[CdcBoundaryWalk]]'s
  * min/max acceptance semantics (portable) or inlining them (gear).
  * The two are pinned by spec to the same CONTRACT — bounds,
  * concatenation identity, post-edit resynchronization — not to
  * identical cut positions (the hash families differ, the
  * [[Md5Family]] precedent). */
case class GearCdcChunks(child: Expression, maskBits: Int, minLen: Int,
    maxLen: Int) extends UnaryExpression with NativeLoopCodegen {

  require(maskBits > 0 && maskBits < 48, "maskBits must be in 1..47")
  require(minLen >= 1, "minLen must be >= 1")
  require(maxLen >= minLen, "maxLen must be >= minLen")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType = CdcFunctions.chunkArrayType

  private val mask = (1L << maskBits) - 1

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toString
    val len = s.length
    if (len == 0) return new GenericArrayData(Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var b = 0
    var i = 0
    var h = 0L
    while (i < len) {
      h = (h << 1) + CdcFunctions.gear(s.charAt(i) & 0xFF)
      val p = i + 1
      if ((p - b == maxLen) ||
          (p - b >= minLen && (h & mask) == 0L)) {
        out += new GenericInternalRow(Array[Any](b, p - b))
        b = p
        h = 0L
      }
      i += 1
    }
    if (b < len) out += new GenericInternalRow(Array[Any](b, len - b))
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The md5-h60 portable CDC family as ONE native per-row pass — the
  * oracle-checkable surface ([[graft.ops.Cdc.chunksPortable]]).
  * Candidate cut at every 1-based position p >= k whose trailing
  * k-char gram's md5-h60 (top 60 bits of the digest — the value DuckDB
  * spells `CAST('0x' || substring(md5(...), 1, 15) AS BIGINT)`, pinned
  * bit-equal by spec) is ≡ 0 (mod divisor); acceptance under min/max
  * bounds by the shared [[CdcFunctions.walkChunks]] recurrence, which
  * the DuckDB oracle replays as a recursive CTE (next =
  * coalesce(min(candidate in window), least(prev+maxLen, len))).
  *
  * Native rather than a higher-order `transform`/`filter` over the
  * position array for the same reason [[WinnowFingerprints]] is:
  * HOF lambdas evaluate INTERPRETED per element, and the interpreted
  * md5(substr(cast)) chain measured ~10 ms per 300-char document —
  * ~3 s per evaluation of a 300-doc fixture frame, paid again by every
  * plan that consumed the lineage. This JVM loop runs the same 85k
  * digests in tens of milliseconds. Hashing is over the UTF-8 bytes of
  * the k-CHAR substring (DuckDB `substring` + `md5` semantics).
  * Codegen through [[NativeLoopCodegen]]: one per-row primitive loop. */
case class Md5CdcChunks(child: Expression, k: Int, divisor: Int,
    minLen: Int, maxLen: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(k >= 1, "gram size k must be >= 1")
  require(divisor >= 1, "divisor must be >= 1")
  require(minLen >= 1, "minLen must be >= 1")
  require(maxLen >= minLen, "maxLen must be >= minLen")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType = CdcFunctions.chunkArrayType

  override def nullSafeEval(t: Any): Any = {
    val u = t.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    // ASCII fast path: char offsets == byte offsets, so each trailing
    // k-gram slices straight out of the byte array with zero per-gram
    // String/encode allocations (the Md5WinnowFingerprints discipline);
    // non-ASCII docs keep the original UTF-16 substring spelling
    var ascii = true
    var bi = 0
    while (ascii && bi < bytes.length) {
      if (bytes(bi) < 0) ascii = false
      bi += 1
    }
    if (ascii) {
      val len = bytes.length
      if (len == 0) return new GenericArrayData(Array.empty[Any])
      val cands =
        if (len < k) Array.empty[Int]
        else {
          val md = Md5Family.md5()
          val out = new scala.collection.mutable.ArrayBuffer[Int]
          var p = k
          while (p <= len) {
            md.update(bytes, p - k, k)
            if (Md5Family.h60Digest(md.digest()) % divisor == 0L) out += p
            p += 1
          }
          out.toArray
        }
      return CdcFunctions.walkChunks(cands, len, minLen, maxLen)
    }
    val s = u.toString
    val len = s.length
    if (len == 0) return new GenericArrayData(Array.empty[Any])
    val cands =
      if (len < k) Array.empty[Int]
      else {
        val md = Md5Family.md5()
        val out = new scala.collection.mutable.ArrayBuffer[Int]
        var p = k
        while (p <= len) {
          val d = md.digest(s.substring(p - k, p).getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          // top 60 bits: first 8 bytes big-endian, then drop the low
          // nibble — equals the 15-hex-char prefix both engines read
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
          if ((h >>> 4) % divisor == 0L) out += p
          p += 1
        }
        out.toArray
      }
    CdcFunctions.walkChunks(cands, len, minLen, maxLen)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcFunctions {

  /** `array<struct<start:int, len:int>>` — chunk offsets into the text. */
  val chunkArrayType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))), containsNull = false)

  /** The Gear table: 256 pseudo-random 64-bit constants, one per byte
    * value. Derived from xxhash64 so every JVM (and any re-derivation
    * from this source) agrees — persisted chunk digests must survive a
    * redeploy. */
  private[functions] val gear: Array[Long] =
    Array.tabulate(256)(i => XXH64.hashLong(i.toLong, 2654435761L))

  /** The boundary-acceptance walk shared by every CDC hash family:
    * accept the earliest candidate at least `minLen` past the previous
    * boundary, force a cut at `maxLen` when no candidate lands in
    * (prev+minLen .. prev+maxLen], close the (possibly short) tail at
    * the document end. A candidate coinciding with the forced position
    * is indistinguishable from the forced cut, so the walk is total
    * and deterministic. `cands` = sorted 1-based candidate cut
    * positions. */
  private[functions] def walkChunks(cands: Array[Int], len: Int,
      minLen: Int, maxLen: Int): GenericArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var b = 0
    var ci = 0
    while (b < len) {
      val lo = b + minLen
      val hi = b + maxLen
      while (ci < cands.length && cands(ci) < lo) ci += 1
      val nb =
        if (ci < cands.length && cands(ci) <= hi) cands(ci)
        else math.min(hi, len)
      out += new GenericInternalRow(Array[Any](b, nb - b))
      b = nb
    }
    new GenericArrayData(out.toArray)
  }

  /** Production CDC: gear rolling hash, min/max-bounded cuts, one
    * per-row pass. `string -> array<struct<start:int,len:int>>`. */
  def gear_cdc_chunks(text: Column, maskBits: Int, minLen: Int,
      maxLen: Int): Column =
    Bridge.column(GearCdcChunks(Bridge.expression(text), maskBits, minLen,
      maxLen))

  /** Portable md5-h60 CDC (the oracle family): one native per-row
    * pass. `string -> array<struct<start:int,len:int>>`. */
  def md5_cdc_chunks(text: Column, k: Int, divisor: Int, minLen: Int,
      maxLen: Int): Column =
    Bridge.column(Md5CdcChunks(Bridge.expression(text), k, divisor, minLen,
      maxLen))
}
