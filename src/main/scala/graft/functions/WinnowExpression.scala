package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken '03 —
  * the MOSS scheme): hash every character k-gram, slide a window over w
  * consecutive gram hashes, and in each window select the RIGHTMOST
  * MINIMUM hash. The two winnowing guarantees hold by construction:
  * (a) any exact match of length >= k + w - 1 shares at least one
  * selected fingerprint (every window inside the match selects the same
  * gram in both copies — selection depends only on the local hash
  * sequence, which is why the scheme is POSITION-ROBUST where plain
  * "every i-th gram" sampling is not), and (b) selections are at most w
  * grams apart, so expected density is 2/(w+1) regardless of document
  * length. `string -> array<struct<pos:int, fp:bigint>>`, positions
  * strictly increasing (the rightmost-min selection index is monotone
  * non-decreasing as the window slides, so consecutive-duplicate
  * suppression is a complete dedup).
  *
  * Gram semantics mirror [[ShingleHashes]]: len > k -> len - k + 1
  * grams; len <= k (including empty) -> ONE whole-text gram, so every
  * document yields at least one fingerprint. Docs shorter than the
  * window produce one truncated window over all grams.
  *
  * This is the PRODUCTION path (xxhash64, one per-row primitive loop,
  * map-only — fingerprinting never shuffles); the oracle-checkable
  * surface is [[graft.ops.Dedup.winnowFingerprintsPortable]] (md5-h60
  * grams + a doc-keyed window), and the two are pinned by spec to
  * recover the same planted copied spans (hash families differ, so the
  * selected POSITIONS differ — the detection contract is what matches,
  * the [[Md5Family]] precedent). Codegen through [[NativeLoopCodegen]]:
  * one call per row into the row's loop, which is already tight. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(k > 0, "gram size k must be positive")
  require(w > 0, "window size w must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)

  private val seed = 42L

  override def nullSafeEval(t: Any): Any = {
    val s = t.asInstanceOf[UTF8String].toString
    val len = s.length
    val m = if (len > k) len - k + 1 else 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val end = math.min(i + k, len)
      hs(i) = XXH64.hashUTF8String(
        UTF8String.fromString(s.substring(i, end)), seed)
      i += 1
    }
    WinnowFunctions.selectRightmostMin(hs, w)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[WinnowFingerprints]] on the PORTABLE md5-h60 gram family — the
  * native spelling of [[graft.ops.Dedup.winnowFingerprintsPortable]]'s
  * selection, one per-row pass instead of a 1-row-per-gram explode +
  * doc-keyed window sort + distinct (two shuffles of a ~200x-inflated
  * frame, plus an interpreted md5(substr(cast))+conv chain per gram —
  * the [[Md5CdcChunks]] measurement: that chain costs ~10 ms per
  * 300-char document against tens of MICROseconds for this JVM loop).
  *
  * Bit-equal contract with the replaced column spelling, pinned by
  * spec: gram hash = top 60 bits of md5 over the UTF-8 bytes of the
  * k-CHAR gram (the 15-hex-char prefix both engines read — the
  * [[Md5CdcChunks]] h60 convention); m = max(len-k+1, 1) grams (len <=
  * k hashes the whole text once); window starts 0..max(m-w, 0), each
  * window the next min(w, m-start) grams; rightmost minimum per window
  * (<= keeps the later index on hash ties — the min(struct(h,
  * 2^20-1-pos)) total order of the column spelling); consecutive-
  * duplicate suppression is a complete dedup because the selection
  * index is monotone non-decreasing as the window slides, so the
  * emitted set equals the replaced spelling's post-distinct() rows.
  * Unlike the 2^20 position encoding the window spelling needed for
  * its tie-break struct, the loop compares positions directly, so no
  * document-length bound is inherited here (the oracle's HUGEINT
  * replay keeps its own bound; fixture-scale by design).
  * Codegen through [[NativeLoopCodegen]], as [[WinnowFingerprints]]:
  * the generated code calls nullSafeEval through a reference object, so
  * the hosting projection/generator keeps its whole-stage span. */
case class Md5WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(k > 0, "gram size k must be positive")
  require(w > 0, "window size w must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(t: Any): Any = {
    // gram offsets are CODE-POINT offsets (the column spelling's
    // substr/length semantics — Java String.substring's UTF-16 units
    // diverge on astral chars); hashing runs over the UTF-8 bytes of
    // the gram, sliced straight out of the UTF8String's byte array
    // via a one-pass code-point offset walk — zero per-gram String or
    // UTF8String allocations
    val u = t.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    val len = u.numChars()
    val off = new Array[Int](len + 1)
    var bi = 0
    var ci = 0
    while (bi < bytes.length) {
      off(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    off(len) = bytes.length
    val m = if (len > k) len - k + 1 else 1
    val md = Md5Family.md5()
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val end = math.min(i + k, len)
      md.reset()
      md.update(bytes, off(i), off(end) - off(i))
      val d = md.digest()
      // top 60 bits: first 8 bytes big-endian, then drop the low
      // nibble — equals the 15-hex-char prefix both engines read
      // (the Md5CdcChunks extraction)
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xFFL); j += 1 }
      hs(i) = h >>> 4
      i += 1
    }
    WinnowFunctions.selectRightmostMin(hs, w)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFunctions {
  /** Winnowing fingerprints of a text column: array of (pos, fp)
    * structs, rightmost-min selection over xxhash64 char-k-gram hashes. */
  def winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowFingerprints(Bridge.expression(text), k, w))

  /** Portable-family winnowing fingerprints (md5-h60 grams): array of
    * (pos, fp) structs, same selection rule. */
  def md5_winnow_fingerprints(text: Column, k: Int, w: Int): Column =
    Bridge.column(Md5WinnowFingerprints(Bridge.expression(text), k, w))

  /** The rightmost-min window selection shared by both hash families:
    * slide windows of `w` gram hashes (starts 0..max(m-w, 0), each
    * clipped at the array end), keep each window's minimum with the
    * LATER index winning ties, suppress consecutive duplicates (a
    * complete dedup — the selected index is monotone non-decreasing as
    * the window slides). Returns (pos, hash) struct rows. */
  private[functions] def selectRightmostMin(hs: Array[Long],
      w: Int): GenericArrayData = {
    val m = hs.length
    val lastStart = math.max(m - w, 0)
    val selPos = new scala.collection.mutable.ArrayBuffer[Int]
    var lastSel = -1
    var start = 0
    while (start <= lastStart) {
      val end = math.min(start + w, m)
      // rightmost minimum: <= keeps the later index on ties
      var best = start
      var j = start + 1
      while (j < end) {
        if (hs(j) <= hs(best)) best = j
        j += 1
      }
      if (best != lastSel) { selPos += best; lastSel = best }
      start += 1
    }
    val out = new Array[Any](selPos.length)
    var q = 0
    while (q < selPos.length) {
      val p = selPos(q)
      out(q) = new GenericInternalRow(Array[Any](p, hs(p)))
      q += 1
    }
    new GenericArrayData(out)
  }
}
