package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** 56-bit difference hash (dHash — the perceptual-fingerprint family
  * behind image near-dup detection: Krawetz's 2013 write-up of the
  * pHash/dHash scheme): reduce the media payload to an 8x8 brightness
  * grid, then emit one bit per HORIZONTAL GRADIENT — bit (r*7 + c) set
  * iff cell (r, c+1) is brighter than cell (r, c). Gradients survive
  * uniform brightness/contrast shifts and small local edits, which is
  * what makes hamming distance on the packed bits a perceptual
  * similarity — byte-identical is not required, unlike a content
  * digest. 56 bits (8 rows x 7 gradients) keeps the value non-negative
  * in a signed BIGINT on both engines (the [[Md5SimHash60]] signed-cast
  * rationale).
  *
  * The DECODE step is the STUB (this container ships no image codecs —
  * the [[graft.ops.Multimodal]] contract): a real deployment resizes
  * decoded pixels to the 8x9 grayscale grid here; the deterministic
  * fake sums payload byte i into grid cell i mod 64 (unsigned), which
  * preserves the property the tests need — an appended/edited byte
  * touches ONE cell, hence at most its two adjacent gradient bits,
  * while unrelated payloads differ in most cells. Everything from the
  * grid down (gradient bits, packing, banded hamming join) is the real
  * production logic. `binary -> bigint`; empty payload -> 0 (all-equal
  * cells: strict > yields no bits). Codegen through
  * [[NativeLoopCodegen]]: a per-row primitive loop, one call per row. */
case class DHash56(child: Expression)
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires binary, got $other")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(t: Any): Any =
    DHashCore.hash(t.asInstanceOf[Array[Byte]], 0,
      t.asInstanceOf[Array[Byte]].length)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The shared grid/gradient core behind [[DHash56]] (whole payload) and
  * [[FrameDHashes]] (per-frame slices): byte i of [from, until) lands in
  * cell (i - from) mod 64, bits are strict row-major horizontal
  * gradients. */
private[functions] object DHashCore {
  def hash(bytes: Array[Byte], from: Int, until: Int): Long = {
    val luma = new Array[Long](64)
    var i = from
    while (i < until) {
      luma((i - from) % 64) += bytes(i) & 0xffL
      i += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (luma(r * 8 + c + 1) > luma(r * 8 + c)) {
          hash |= 1L << (r * 7 + c)
        }
        c += 1
      }
      r += 1
    }
    hash
  }
}

object DHashFunctions {
  /** 56-bit perceptual difference hash of a binary payload column. */
  def dhash56(payload: Column): Column =
    Bridge.column(DHash56(Bridge.expression(payload)))
}
