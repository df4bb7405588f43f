package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

/** Native token splice for the span-removal rebuild legs of
  * [[graft.ops.Dedup.removeRepeatedSpans]] and
  * [[graft.ops.Dedup.exactSubstrDedup]]:
  * `(array<string> tokens, array<int> removals) -> string` — the
  * tokens whose POSITION is not in `removals`, joined by single
  * spaces. The drop-in twin of the interpreted spelling
  *
  * {{{ array_join(filter(toks, (_, i) =>
  *       !coalesce(array_contains(rm, i), false)), " ") }}}
  *
  * with one added contract: `removals` must be sorted ascending —
  * which both call sites guarantee for free, their removal sets being
  * `sort_array(collect_set(...))`. Sortedness is what the rewrite
  * exploits: instead of per-element lambda dispatch plus an
  * O(|rm|) `array_contains` scan PER TOKEN (O(n·|rm|) per row — and
  * at the 10M-doc corpus point the 4h rebuild stage runs this over
  * every token of every document), a single merge-walk advances one
  * pointer through each array: O(n + |rm|) per row, zero allocations
  * beyond the output parts. The gram-leg precedent
  * ([[WordGramStrings]], 8× on its stage) says interpreted HOFs on
  * corpus-sized hot paths are worth a native twin; this is the last
  * one the r14 audit found.
  *
  * Null semantics are pinned to the replaced spelling: null `tokens`
  * -> null; null `removals` (the left-join miss of a document with
  * nothing to remove) -> NO removals, never a null result; null
  * token slots are skipped with no separator (the `array_join`
  * default); null removal slots are ignored (`collect_set` cannot
  * emit them; a hostile literal must not NPE). Unsorted or
  * out-of-range removal entries degrade to "not removed" for the
  * positions the walk has already passed — exactly the positions an
  * `array_contains` spelling WOULD still remove — so the sortedness
  * precondition is a real contract, kept cheap by construction at the
  * call sites rather than re-verified per row.
  *
  * Custom doGenCode (r17, the [[NativeLoopCodegen]] move): the null
  * contract is asymmetric (null removals != null result), so the
  * generated code inlines that handling around one static call to
  * [[TokenSplice.splice]] — the hosting projection keeps its
  * whole-stage span instead of CodegenFallback's operator-wide break
  * (the rebuild legs of exactSubstrDedup run this over every token of
  * every document). */
case class TokenSplice(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"requires (array<string>, array<int>), got $other")
    }

  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "token_splice"

  // custom eval (not nullSafeEval): a null removal array means "remove
  // nothing", not "null result" — only null tokens null the output
  override def eval(input: InternalRow): Any = {
    val toksV = left.eval(input)
    if (toksV == null) return null
    val rmV = right.eval(input)
    TokenSplice.splice(toksV.asInstanceOf[ArrayData],
      if (rmV == null) null else rmV.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    val u8 = "org.apache.spark.unsafe.types.UTF8String"
    val call = s"graft.functions.TokenSplice.splice(($ad) ${l.value}, " +
      s"${r.isNull} ? null : ($ad) ${r.value})"
    if (nullable) {
      ev.copy(code = code"""
        ${l.code}
        ${r.code}
        boolean ${ev.isNull} = ${l.isNull};
        $u8 ${ev.value} = null;
        if (!${ev.isNull}) { ${ev.value} = $call; }""")
    } else {
      ev.copy(code = code"""
        ${l.code}
        ${r.code}
        $u8 ${ev.value} = $call;""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TokenSplice = copy(left = newLeft, right = newRight)
}

object TokenSplice {
  /** The merge-walk shared by eval and generated code. `toks` non-null;
    * `rm` nullable ("remove nothing"). */
  def splice(toks: ArrayData, rm: ArrayData): UTF8String = {
    val nt = toks.numElements()
    if (nt == 0) return UTF8String.EMPTY_UTF8
    val nr = if (rm == null) 0 else rm.numElements()
    val parts = new Array[UTF8String](2 * nt - 1)
    var m = 0
    var j = 0
    var i = 0
    while (i < nt) {
      // advance past removal entries behind the cursor (null slots too)
      while (j < nr && (rm.isNullAt(j) || rm.getInt(j) < i)) j += 1
      if (j < nr && rm.getInt(j) == i) {
        j += 1 // removed position; collect_set guarantees no duplicates
      } else {
        val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
        if (t != null) { // array_join skips null elements, no separator
          if (m > 0) { parts(m) = WordGramUtil.space; m += 1 }
          parts(m) = t
          m += 1
        }
      }
      i += 1
    }
    if (m == 0) UTF8String.EMPTY_UTF8
    else if (m == parts.length) UTF8String.concat(parts: _*)
    else UTF8String.concat(java.util.Arrays.copyOf(parts, m): _*)
  }
}

object SpliceFunctions {
  /** Space-join of the tokens whose position is NOT in `removals`
    * (sorted ascending — see [[TokenSplice]]). */
  def token_splice(tokens: Column, removals: Column): Column =
    Bridge.column(TokenSplice(Bridge.expression(tokens),
      Bridge.expression(removals)))
}
