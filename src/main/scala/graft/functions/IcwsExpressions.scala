package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

/** The md5-family ICWS draw uniforms as ONE native per-row pass — the
  * hot leg of [[graft.ops.Dedup.icwsBuckets]]'s oracle surface
  * (`hashed = false`). The replaced spelling evaluated six interpreted
  * `conv(substring(md5(concat(...).cast(binary)), ..), 16, 10)` chains
  * per EXPLODED (row, sample) pair — md5 to a 32-char hex string, a
  * substring, a base-16 string parse, for 5 uniforms plus the
  * dimension hash, k times per input row. This expression computes,
  * per input row, the dimension hash and all k x 5 uniforms straight
  * from digest bytes (no hex strings, one reused MessageDigest), and
  * the caller `posexplode`s the array — the [[Md5WinnowFingerprints]]/
  * [[Md5CdcChunks]] native-md5 playbook.
  *
  * Bit-equal contract with the replaced columns, pinned by spec:
  *  - uniform i of sample j = (top 52 bits of md5(utf8(
  *    "icws|" + d + "|" + j + "|" + i)) + 0.5) / 2^52 — exactly
  *    `conv(substring(md5hex, 1, 13), 16, 10)` (13 hex digits = first
  *    56 bits >>> 4; a 52-bit integer is exact in a double);
  *  - hd = (top 60 bits of md5(utf8(d))) mod 10^18 — exactly
  *    `pmod(conv(substring(md5hex, 1, 15), 16, 10), 1e18)`
  *    ([[Md5Family.h60]] is non-negative, so pmod = %).
  * ALL downstream arithmetic (log, Gamma assembly, the 6dp rounds,
  * floor, the DECIMAL(38,0) argmin encoding) stays in the original
  * catalyst columns, so rounding semantics are untouched by this
  * rewrite. Output: struct<hd: bigint,
  * us: array<struct<u1..u5: double>>> with exactly k elements, element
  * j carrying sample j's five uniforms. Codegen through
  * [[NativeLoopCodegen]], as [[Md5ShingleHashes]]: one call per row into
  * the row's loop, which is already tight. */
case class Md5IcwsDraws(child: Expression, k: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(k >= 1 && k <= 64, "k in 1..64")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("hd", LongType, nullable = false),
    StructField("us", ArrayType(StructType((1 to 5).map(i =>
      StructField(s"u$i", DoubleType, nullable = false))),
      containsNull = false), nullable = false)))

  // the "<j>|<i>" draw suffixes are row-independent: one ASCII byte
  // table per (deserialized) expression instance instead of a fresh
  // String + encode per (row, sample, uniform) digest
  @transient private lazy val suffixBytes: Array[Array[Byte]] =
    Array.tabulate(k * 5)(n => Md5Family.utf8((n / 5).toString + "|" + (n % 5 + 1)))

  override def nullSafeEval(t: Any): Any = {
    // raw UTF-8 bytes of the dimension — the same bytes the replaced
    // spelling's string->binary cast hashed, no String round trip
    val dBytes = t.asInstanceOf[UTF8String].getBytes
    val md = Md5Family.md5()
    val hd = Md5Family.h60(md, dBytes) % 1000000000000000000L
    val us = new Array[Any](k)
    var j = 0
    while (j < k) {
      val vals = new Array[Any](5)
      var i = 1
      while (i <= 5) {
        md.update(Md5IcwsDraws.prefixBytes) // "icws|"
        md.update(dBytes)
        md.update('|'.toByte)
        md.update(suffixBytes(j * 5 + i - 1))
        val dg = md.digest()
        // top 52 bits = the first-13-hex-digit prefix: first 7 bytes
        // big-endian (56 bits), dropped low nibble
        var v = 0L
        var b = 0
        while (b < 7) { v = (v << 8) | (dg(b) & 0xffL); b += 1 }
        vals(i - 1) = ((v >>> 4).toDouble + 0.5) / 4503599627370496.0
        i += 1
      }
      us(j) = new GenericInternalRow(vals)
      j += 1
    }
    new GenericInternalRow(Array[Any](hd, new GenericArrayData(us)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5IcwsDraws {
  private val prefixBytes: Array[Byte] = Md5Family.utf8("icws|")
}

object IcwsFunctions {
  /** md5-family ICWS draws for a dimension column: struct<hd,
    * us: array of k five-uniform structs> (see [[Md5IcwsDraws]]). */
  def md5_icws_draws(dim: Column, k: Int): Column =
    Bridge.column(Md5IcwsDraws(Bridge.expression(dim), k))
}
