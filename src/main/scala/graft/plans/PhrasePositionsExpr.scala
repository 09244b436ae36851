package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: 1-based start positions of an exact
  * token-phrase inside a token array, as `array<int>`.
  *
  * The composed HOF form (`filter(sequence(...), i -> element_at
  * conjunction)`, TextOps.phrasePositionsHof) is a codegen fallback —
  * interpreted per position per row, the measured hot spot of
  * `phrase_search` (~4.3 s of a 36 s bench round at sf0.1). This
  * expression's generated code is one call per row to a precompiled
  * scan ([[positions]]), the same pattern as [[CosineSimilarity]].
  *
  * Semantics are IDENTICAL to the HOF form: positions are 1-based,
  * a phrase longer than the token array (or an empty phrase) yields an
  * empty array, and null elements never match.
  */
case class PhrasePositions(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"phrase_positions expects two string arrays, got ${left.dataType} / ${right.dataType}")
  }

  /** The per-row kernel, shared by eval and generated code. */
  def positions(toks: ArrayData, ph: ArrayData): ArrayData = {
    val n = toks.numElements()
    val m = ph.numElements()
    if (m == 0 || n < m) {
      UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)
    } else {
      val buf = new Array[Int](n - m + 1)
      var cnt = 0
      var i = 0
      while (i + m <= n) {
        var ok = true
        var j = 0
        while (ok && j < m) {
          if (toks.isNullAt(i + j) || ph.isNullAt(j) ||
            !toks.getUTF8String(i + j).equals(ph.getUTF8String(j))) ok = false
          j += 1
        }
        if (ok) { buf(cnt) = i + 1; cnt += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, cnt))
    }
  }

  override def nullSafeEval(t: Any, p: Any): Any =
    positions(t.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phrasePositions", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.positions($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
