package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: dense matrix × vector — out[i] =
  * Σ_j M[i][j]·x[j], sequential left-to-right accumulation in doubles
  * (bit-compatible with DuckDB's `list_dot_product` row by row, so a
  * twin can recompute the rotation exactly).
  *
  * Used for the seeded random-rotation pre-step in front of sign-bit
  * quantization ([[graft.operators.Bq.rotationMatrix]]): a random
  * orthogonal rotation spreads axis-concentrated variance across every
  * sign bit while preserving all angles — measured 0.0 -> 0.9 recall
  * on an axis-aligned low-rank corpus (BqSpec), the standard
  * production pre-transform (FAISS OPQ/rotation family).
  *
  * The matrix (dim² doubles — 32 KB at dim 64) rides inside the
  * expression, which the generated code holds as one reference object
  * and calls once per row ([[mul]]); the composable `transform`/`aggregate` form would
  * either inline dim² literal nodes or re-evaluate whole-row folds per
  * element (both measured plan hazards — see PLANS.md round-8/9/11).
  */
case class MatVec(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression {

  private def rows: Int = matrix.length
  private def cols: Int = matrix.head.length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = Vec.expectFloatArray(child, "mat_vec")

  /** The per-row kernel, shared by eval and generated code. */
  def mul(v: ArrayData): ArrayData = {
    val t = Vec.elemType(child)
    val n = math.min(cols, v.numElements())
    val out = new Array[Double](rows)
    var i = 0
    while (i < rows) {
      val row = matrix(i)
      var acc = 0.0
      var j = 0
      while (j < n) { acc += row(j) * Vec.at(v, j, t); j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = mul(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matVec", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.mul($a);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: MatVec => o.child == child && ExprArrayEq.deq(o.matrix, matrix) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child, ExprArrayEq.dhash(matrix): Integer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
