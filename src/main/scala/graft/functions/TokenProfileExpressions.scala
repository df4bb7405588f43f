package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

/** Native per-document token profile: `array<string> tokens ->
  * struct(token_cnt int, nonspace_len bigint, hits array<int>)` where
  * `hits(i)` counts tokens whose LOWERCASE form appears in the i-th
  * constructor word list. One per-row primitive loop computes everything
  * the quality/language-ID stages need — token count, summed token
  * lengths (== non-space character count for whitespace tokenization),
  * and per-wordlist membership counts.
  *
  * Why an expression: the aggregate formulation exploded the corpus to a
  * row per token, paid a doc-id exchange to regroup, and joined the
  * aggregate back to the document row — three operators and a shuffle for
  * per-row state. This is a map-only pass; the explode formulations are
  * kept as `TextAnalysis.qualityMetricsAgg` / `languageIdAgg` and pinned
  * value-identical by spec. Codegen through [[NativeLoopCodegen]]: one
  * call per row into a tight loop. */
case class TokenProfile(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression with NativeLoopCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<string>, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("token_cnt", IntegerType, nullable = false),
    StructField("nonspace_len", LongType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    lists.map { words =>
      val s = new java.util.HashSet[UTF8String](words.size * 2)
      words.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  override def nullSafeEval(t: Any): Any = {
    val arr = t.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hits = new Array[Int](sets.length)
    var cnt = 0
    var len = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        cnt += 1
        len += tok.numChars()
        val lower = tok.toLowerCase
        var j = 0
        while (j < sets.length) {
          if (sets(j).contains(lower)) hits(j) += 1
          j += 1
        }
      }
      i += 1
    }
    InternalRow(cnt, len, new GenericArrayData(hits))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenProfileFunctions {
  /** Per-row token profile over the given lowercase word lists. */
  def token_profile(tokens: Column, lists: Seq[Seq[String]]): Column =
    Bridge.column(TokenProfile(Bridge.expression(tokens), lists))
}
