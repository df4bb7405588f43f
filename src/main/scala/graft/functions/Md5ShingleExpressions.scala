package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.Bridge

/** The PORTABLE (md5) shingle/minhash hash family — the cross-engine
  * twin of [[ShingleHashes]]/xxhash64 minhash, built so an external
  * system (or the DuckDB oracle) replays every value from the formula
  * alone, the same portability contract as the hashed-logreg features
  * and DSIR buckets (md5, not xxhash64, because md5 is the one hash
  * both engines spell identically).
  *
  * Value definition, replayable as SQL:
  * {{{
  *   h60(s)      = CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)
  *   shingle p   = space-joined tokens[p .. p+w-1]   (n <= w -> ONE
  *                 whole-text shingle, including empty docs — the
  *                 [[ShingleHashes]] window semantics)
  *   sig[j]      = min over DISTINCT shingle hashes h of
  *                 h60(j || ':' || CAST(h AS VARCHAR))      j in [0, k)
  * }}}
  * 15 hex digits = the md5 digest's first 60 bits: non-negative in a
  * BIGINT on both engines (16 digits would overflow DuckDB's signed
  * CAST on half of all hashes).
  *
  * Both expressions run ONE per-row primitive loop over a reused
  * MessageDigest — the builtin-HOF spelling (transform + md5 + conv per
  * element) pays interpreted lambda dispatch AND per-call digest
  * allocation, measured unusable at bench scale for k=32. Production
  * dedup stays on the xxhash64 family ([[ShingleHashes]] +
  * [[MinHashSigs]]: no string materialization at all); this family is
  * the ORACLE-CHECKABLE surface, and the two are pinned to recover the
  * same planted near-duplicate pairs by spec. The expressions generate
  * code through [[NativeLoopCodegen]], as [[ShingleHashes]]: one call
  * per row into the row's loop, which is already tight.
  */
private[graft] object Md5Family {

  // One digest instance per executor thread, reused across rows —
  // getInstance("MD5") per row was measured as a visible constant
  // factor on the expression-heavy stages (provider lookup + object
  // allocation per row). digest() leaves the instance reset, so a
  // thread-local handle is safe without explicit reset() between rows.
  private val tlMd5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }
  def md5(): MessageDigest = tlMd5.get()

  /** First 60 bits of md5(bytes) as a non-negative long. */
  def h60(md: MessageDigest, bytes: Array[Byte]): Long = h60Digest(md.digest(bytes))

  /** First 60 bits of an already-computed 16-byte md5 digest. */
  def h60Digest(d: Array[Byte]): Long = {
    // first 8 bytes big-endian, dropped low nibble = first 15 hex digits
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** UTF-8 bytes of array element i ("" for null slots) with no
    * UTF8String -> String -> re-encode round trip. The raw UTF8String
    * bytes are exactly what the replaced column spellings hashed
    * (string -> binary casts use the backing bytes). */
  def elemBytes(arr: ArrayData, i: Int): Array[Byte] =
    if (arr.isNullAt(i)) Array.emptyByteArray else arr.getUTF8String(i).getBytes

  /** Appends the decimal ASCII digits of a long to buf at `off` (same
    * bytes as Long.toString); returns the new offset. Replaces
    * Long.toString + getBytes in digest inner loops. Buffer must have
    * >= 20 bytes free. */
  def appendDigits(buf: Array[Byte], off: Int, value: Long): Int = {
    if (value == 0L) { buf(off) = '0'; return off + 1 }
    var start = off
    // negate into negative space: -Long.MinValue overflows, Long.MinValue doesn't
    var v = if (value > 0L) -value else value
    if (value < 0L) { buf(start) = '-'; start += 1 }
    var n = 0
    var t = v
    while (t < 0L) { n += 1; t /= 10L }
    val end = start + n
    var p = end - 1
    while (v < 0L) { buf(p) = ('0' - (v % 10L).toInt).toByte; v /= 10L; p -= 1 }
    end
  }
}

/** `array<string> tokens -> array<long>`: md5-family hashed w-shingles,
  * window semantics identical to [[ShingleHashes]] (n > w -> n-w+1
  * windows; n <= w, including 0, -> 1 whole-text shingle). Null token
  * slots join as the empty string. */
case class Md5ShingleHashes(child: Expression, w: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(w > 0, "shingle width must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // raw UTF-8 token bytes once per row; shingles feed the digest
    // token-by-token with a space byte between — byte-identical to the
    // space-joined string the replaced spelling hashed, with no
    // per-shingle String/StringBuilder materialization
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { toks(i) = Md5Family.elemBytes(arr, i); i += 1 }
    val md = Md5Family.md5()
    val m = if (n > w) n - w + 1 else 1
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      var k = p
      val end = math.min(p + w, n)
      while (k < end) {
        if (k > p) md.update(' '.toByte)
        md.update(toks(k))
        k += 1
      }
      out(p) = Md5Family.h60Digest(md.digest())
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<long> shingleHashes -> array<long>` of k md5-family minhash
  * values: sig[j] = min over DISTINCT input hashes of
  * h60(j + ":" + hash). Distinctness is applied internally (min is
  * idempotent under duplicates, so this only saves work). Empty input
  * arrays cannot occur from [[Md5ShingleHashes]] (it emits >= 1
  * shingle); they yield null for safety. */
case class Md5MinHashSigs(child: Expression, k: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(k > 0, "signature length must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<long>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val seen = new java.util.HashSet[Long](n * 2)
    val hs = new Array[Long](n)
    var nd = 0
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      if (seen.add(h)) { hs(nd) = h; nd += 1 }
      i += 1
    }
    val md = Md5Family.md5()
    val out = new Array[Long](k)
    // "j:" + decimal digits of the hash, written straight into one
    // reused ASCII buffer sized for any input: a 10-digit j, ':' and a
    // 20-byte negative long — the string-concat spelling allocated two
    // Strings + an encode per (j, distinct-hash) digest in this n*k
    // inner loop
    val buf = new Array[Byte](32)
    var j = 0
    while (j < k) {
      val pEnd0 = Md5Family.appendDigits(buf, 0, j.toLong)
      buf(pEnd0) = ':'
      val pEnd = pEnd0 + 1
      var best = Long.MaxValue
      var d = 0
      while (d < nd) {
        val end = Md5Family.appendDigits(buf, pEnd, hs(d))
        md.update(buf, 0, end)
        val v = Md5Family.h60Digest(md.digest())
        if (v < best) best = v
        d += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<string> tokens -> long`: 60-bit md5-family SimHash — bit b of
  * the output is set when sum over token OCCURRENCES (duplicates count,
  * matching [[SimHash64]]/the explode+aggregate formulation) of
  * (bit b of h60(token) ? +1 : -1) is positive. 60 bits (not 64) so the
  * packed value and every per-token hash stay non-negative in a signed
  * BIGINT on both engines — the same reason [[Md5Family.h60]] takes 15
  * hex digits. Empty token arrays yield null (token-less docs emit no
  * signature, mirroring [[SimHash64]]). */
case class Md5SimHash60(child: Expression)
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val md = Md5Family.md5()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = Md5Family.h60(md, Md5Family.elemBytes(arr, i))
      var b = 0
      while (b < 60) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<string> tokens -> array<int>`: md5 hashed-n-gram feature
  * buckets — bucket(f) for every unigram, then (when `bigrams`) every
  * adjacent pair joined as `a_b`, in that order, with
  * `bucket(f) = CAST('0x' || substring(md5(f), 1, 8) AS BIGINT) %
  * buckets` (the first 32 md5 bits, non-negative, so `%` == pmod) —
  * bit-identical to the builtin-HOF spelling
  * `pmod(conv(substring(md5(f), 1, 8), 16, 10), buckets)` that the
  * DuckDB oracles replay (pinned by spec). This is the featurizer under
  * [[graft.ops.TextAnalysis.dsirImportance]] /
  * `trainHashedLogReg` / `hashedLinearScore`; the builtin spelling
  * evaluates an interpreted md5 -> 32-hex-char string -> substring ->
  * conv(16,10) decimal parse PER FEATURE with a fresh MessageDigest per
  * call — the 10M-doc corpus smoke measured that path 50-90x slower
  * than this one primitive loop per row (BASELINE.md r11). Feature
  * ORDER is preserved exactly (unigrams then bigrams) because callers
  * fold float sums over the array in order. */
case class Md5NgramBuckets(child: Expression, buckets: Int, bigrams: Boolean)
    extends UnaryExpression with NativeLoopCodegen {
  require(buckets > 0, "buckets must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = Md5Family.md5()
    def bucket(): Int = {
      val d = md.digest()
      // first 4 digest bytes big-endian = first 8 hex digits; unsigned
      // 32-bit value, so % buckets is already the pmod
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (v % buckets).toInt
    }
    // raw token bytes once; bigram "a_b" feeds the digest as
    // a-bytes, '_', b-bytes — same byte stream, no concat allocation
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { toks(i) = Md5Family.elemBytes(arr, i); i += 1 }
    val nBg = if (bigrams && n > 1) n - 1 else 0
    val out = new Array[Int](n + nBg)
    i = 0
    while (i < n) { md.update(toks(i)); out(i) = bucket(); i += 1 }
    i = 0
    while (i < nBg) {
      md.update(toks(i)); md.update('_'.toByte); md.update(toks(i + 1))
      out(n + i) = bucket()
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `array<string> grams -> array<struct<h1:bigint, h2:bigint>>`: the
  * md5-family 120-bit composite gram key, DISTINCT within the row —
  * the native spelling of
  * `array_distinct(transform(transform(G, md5), struct(conv(
  * substring(h, 1, 15)), conv(substring(h, 16, 15)))))` that
  * [[graft.ops.Dedup.sourceOverlap]] / [[graft.ops.Dedup
  * .rareNgramPairs]] exploded per gram through TWO interpreted
  * higher-order lambdas (md5 to a 32-char hex string, two substring +
  * base-16 string parses, per element — the [[Md5IcwsDraws]] cliff).
  * h1 = the digest's first 15 hex digits (top 60 bits), h2 = hex
  * digits 16..30 (the next 60) — both non-negative in a signed BIGINT
  * on both engines. First-occurrence order, exact `array_distinct`
  * set semantics; gram arrays are containsNull=false by their native
  * producers ([[WordGramExpressions]]), so the null-element leg of
  * the replaced lambda chain is unreachable and not replicated.
  * Codegen through [[NativeLoopCodegen]]: one call per row into a tight
  * loop. */
case class Md5PairKeys(child: Expression)
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = Md5Family.md5()
    val seen = new scala.collection.mutable.HashSet[(Long, Long)]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      val d = md.digest(Md5Family.elemBytes(arr, i))
      var h1 = 0L
      var b = 0
      while (b < 8) { h1 = (h1 << 8) | (d(b) & 0xffL); b += 1 }
      h1 = h1 >>> 4
      // h2 = hex digits 16..30: the low nibble of byte 7, then bytes
      // 8..14 — 60 bits, disjoint from h1's prefix
      var h2 = (d(7) & 0xfL)
      b = 8
      while (b < 15) { h2 = (h2 << 8) | (d(b) & 0xffL); b += 1 }
      if (seen.add((h1, h2)))
        out += new GenericInternalRow(Array[Any](h1, h2))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `string token -> array<int>` of the count-min sketch's `depth`
  * bucket indices — the native spelling of
  * `pmod(conv(substring(md5(concat("cms<i>_", tok))), 1, 8), 16, 10),
  * width)` per row, which [[graft.ops.CountMin]] evaluated as `depth`
  * interpreted digest-to-hex-to-parse chains per token occurrence
  * (build) and per probe (estimate). Bucket i = (top 32 bits of
  * md5(utf8("cms<i>_" + tok)), i.e. the first-8-hex-digit prefix) mod
  * width. Codegen through [[NativeLoopCodegen]], which keeps the
  * hosting projection inside its whole-stage span (see the trait
  * scaladoc). */
case class Md5CmsBuckets(child: Expression, depth: Int, width: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(depth >= 1 && width >= 1)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  // "cms<i>_" prefixes are row-independent: one byte table per
  // (deserialized) expression instance, fed to the digest ahead of the
  // raw token bytes instead of a per-(row, depth) string concat+encode
  @transient private lazy val prefixBytes: Array[Array[Byte]] =
    Array.tabulate(depth)(i => Md5Family.utf8("cms" + i + "_"))

  override def nullSafeEval(t: Any): Any = {
    val tok = t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .getBytes
    val md = Md5Family.md5()
    val out = new Array[Any](depth)
    var i = 0
    while (i < depth) {
      md.update(prefixBytes(i))
      md.update(tok)
      val d = md.digest()
      // first 8 hex digits = top 32 bits, non-negative in a long
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      out(i) = (v % width).toInt
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `string token -> struct<bucket:int, rho:int>`: the HyperLogLog
  * register coordinate of one token under the md5-portable 32-bit hash
  * — the native spelling of [[graft.ops.Hll.bucketExpr]] +
  * [[graft.ops.Hll.rhoExpr]], which evaluated the
  * conv(substring(md5(concat("hll_", tok))), 1, 8) hex-parse chain
  * once per leg plus a w-deep when-comparison ladder per token
  * occurrence. hash32 = the digest's first 8 hex digits (top 32
  * bits); bucket = its top p bits; rho = 1-based position of the
  * first 1-bit in the low w = 32-p bits (w+1 when all zero) —
  * computed with numberOfLeadingZeros instead of the ladder, same
  * exact integer semantics. The column spellings stay as the
  * oracle/spec reference (the hashedNgramBucketsHof convention).
  * Codegen through [[NativeLoopCodegen]]: one call per row. */
case class Md5HllRegister(child: Expression, p: Int)
    extends UnaryExpression with NativeLoopCodegen {

  require(p >= 7 && p <= 16, s"p must be in [7,16], got $p")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("rho", IntegerType, nullable = false)))

  override def nullSafeEval(t: Any): Any = {
    val tok = t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .getBytes
    val md = Md5Family.md5()
    md.update(Md5HllRegister.prefixBytes)
    md.update(tok)
    val d = md.digest()
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val w = 32 - p
    val bucket = (v >>> w).toInt
    val suffix = v & ((1L << w) - 1L)
    val rho =
      if (suffix == 0L) w + 1
      else w - (63 - java.lang.Long.numberOfLeadingZeros(suffix))
    new GenericInternalRow(Array[Any](bucket, rho))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5HllRegister {
  private val prefixBytes: Array[Byte] = Md5Family.utf8("hll_")
}

/** `string -> array<double>` of salted md5 uniforms in [0,1): element i
  * = (first 32 bits of md5(utf8(s) ++ utf8(salts(i)))) / 2^32 — the
  * native spelling of the per-salt
  * `conv(substring(md5(concat(s, salt).cast(binary)), 1, 8), 16, 10)
  * .cast(double) / 4294967296.0` chain ([[graft.ops.TextAnalysis
  * .fimTransform]]'s cut/apply draws, replayed verbatim by the DuckDB
  * oracle). One thread-local digest per row computes every salt's
  * uniform; a 32-bit unsigned integer is exact in a double, so the
  * value is bit-identical to the replaced conv-parse. */
case class Md5SaltedUniforms(child: Expression, salts: Seq[String])
    extends UnaryExpression with NativeLoopCodegen {

  require(salts.nonEmpty, "need at least one salt")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string, got $other")
  }

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)

  @transient private lazy val saltBytes: Array[Array[Byte]] =
    salts.map(Md5Family.utf8).toArray

  override def nullSafeEval(t: Any): Any = {
    val idB = t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .getBytes
    val md = Md5Family.md5()
    val out = new Array[Double](saltBytes.length)
    var i = 0
    while (i < out.length) {
      md.update(idB)
      md.update(saltBytes(i))
      val d = md.digest()
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      out(i) = v.toDouble / 4294967296.0
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5ShingleFunctions {
  def md5_simhash60(tokens: Column): Column =
    Bridge.column(Md5SimHash60(Bridge.expression(tokens)))

  def md5_salted_uniforms(s: Column, salts: Seq[String]): Column =
    Bridge.column(Md5SaltedUniforms(Bridge.expression(s), salts))

  def md5_hll_register(tok: Column, p: Int): Column =
    Bridge.column(Md5HllRegister(Bridge.expression(tok), p))

  def md5_pair_keys(grams: Column): Column =
    Bridge.column(Md5PairKeys(Bridge.expression(grams)))

  def md5_cms_buckets(tok: Column, depth: Int, width: Int): Column =
    Bridge.column(Md5CmsBuckets(Bridge.expression(tok), depth, width))

  def md5_ngram_buckets(tokens: Column, buckets: Int, bigrams: Boolean): Column =
    Bridge.column(Md5NgramBuckets(Bridge.expression(tokens), buckets, bigrams))

  def md5_shingle_hashes(tokens: Column, w: Int): Column =
    Bridge.column(Md5ShingleHashes(Bridge.expression(tokens), w))

  def md5_minhash_sigs(shingleHashes: Column, k: Int): Column =
    Bridge.column(Md5MinHashSigs(Bridge.expression(shingleHashes), k))
}
