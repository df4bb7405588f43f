package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** Temporal framing of a media payload: byte window f covers
  * [f·frameBytes, (f+1)·frameBytes) with ceil(len/frameBytes) frames
  * (the final frame may be partial; empty payload -> zero frames).
  * The frame DECODE is the [[graft.ops.Multimodal]] stub — a real
  * deployment decodes audio samples / video frames here — while the
  * framing, per-frame reduction, and everything downstream (threshold
  * segmentation, shot-boundary detection) is production logic.
  * Codegen through [[NativeLoopCodegen]], as [[DHash56]]: a per-row
  * primitive loop. */
private[functions] trait FrameBased { self: UnaryExpression =>
  def frameBytes: Int
  require(frameBytes > 0, "frameBytes must be positive")

  override def checkInputDataTypes(): TypeCheckResult = self.child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires binary, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
}

/** `binary -> array<bigint>`: per-frame ENERGY — the sum of unsigned
  * byte values in the frame (the stub stand-in for per-frame RMS over
  * decoded samples). Feeds [[graft.ops.Multimodal.energySegments]]'
  * voice-activity-style threshold segmentation. */
case class FrameEnergies(child: Expression, frameBytes: Int)
    extends UnaryExpression with FrameBased with NativeLoopCodegen {

  override def nullSafeEval(t: Any): Any = {
    val bytes = t.asInstanceOf[Array[Byte]]
    val n = (bytes.length + frameBytes - 1) / frameBytes
    val out = new Array[Long](n)
    var f = 0
    while (f < n) {
      val until = math.min((f + 1) * frameBytes, bytes.length)
      var s = 0L
      var i = f * frameBytes
      while (i < until) { s += bytes(i) & 0xffL; i += 1 }
      out(f) = s
      f += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `binary -> array<bigint>`: per-frame 56-bit dHash ([[DHashCore]]
  * over each frame's byte slice — cell (i - frameStart) mod 64, so a
  * frame hashes identically wherever it sits in the payload). Feeds
  * [[graft.ops.Multimodal.shotSegments]]' boundary detection: a cut
  * between frames shows as a large hamming jump, a within-shot frame
  * pair stays close. */
case class FrameDHashes(child: Expression, frameBytes: Int)
    extends UnaryExpression with FrameBased with NativeLoopCodegen {

  override def nullSafeEval(t: Any): Any = {
    val bytes = t.asInstanceOf[Array[Byte]]
    val n = (bytes.length + frameBytes - 1) / frameBytes
    val out = new Array[Long](n)
    var f = 0
    while (f < n) {
      out(f) = DHashCore.hash(bytes, f * frameBytes,
        math.min((f + 1) * frameBytes, bytes.length))
      f += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FrameFunctions {
  /** Per-frame energies of a binary payload column. */
  def frame_energies(payload: Column, frameBytes: Int): Column =
    Bridge.column(FrameEnergies(Bridge.expression(payload), frameBytes))

  /** Per-frame 56-bit dHashes of a binary payload column. */
  def frame_dhashes(payload: Column, frameBytes: Int): Column =
    Bridge.column(FrameDHashes(Bridge.expression(payload), frameBytes))
}
