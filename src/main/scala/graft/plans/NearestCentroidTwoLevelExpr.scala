package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: TWO-LEVEL nearest-centroid assignment —
  * nearest super-cell first (√k candidates), then nearest sub-cell
  * WITHIN that super (k_s candidates), returning the flat-codebook id
  * `offset(super) + sub`. One precompiled kernel ([[assign]]) normalizes
  * the vector once, then runs the shared nearest-centroid loop at both
  * levels; the generated code is one call to it.
  *
  * Exists because the compositional alternative — a CASE over √k
  * [[NearestCentroid]] branches — measured SLOWER than the flat O(k)
  * assignment at nlist=1582 (897 s vs 724 s for the 2.5M-row layout
  * write): the generated CASE exceeds janino limits and falls back to
  * interpreted evaluation, cancelling the 20× arithmetic win. Same
  * naive sequential arithmetic as [[NearestCentroid]] (left-to-right
  * `d += (x-c)²`, strict-< first minimum at both levels), so a SQL twin
  * with the same centroid literals replays the assignment exactly.
  */
case class NearestCentroidTwoLevel(
    child: Expression,
    superCents: Array[Array[Double]],
    subCents: Array[Array[Array[Double]]],
    offsets: Array[Int]
) extends UnaryExpression {

  require(subCents.length == superCents.length && offsets.length == superCents.length,
    "two-level codebook: one sub-codebook and one offset per super-cell")

  private def dim: Int = superCents.head.length

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = Vec.expectFloatArray(child, "nearest_centroid_2l")

  /** The per-row kernel, shared by eval and generated code. */
  def assign(v: ArrayData): Int = {
    val t = Vec.elemType(child)
    val norm = Vec.norm(v, dim, t)
    val u = UnsafeArrayData.createFreshArray(dim, 8)
    var i = 0
    while (i < dim) { u.setDouble(i, Vec.at(v, i, t) / norm); i += 1 }
    val sp = Vec.argmin(u, DoubleType, 0, dim, 1.0, superCents)
    offsets(sp) + Vec.argmin(u, DoubleType, 0, dim, 1.0, subCents(sp))
  }

  override def nullSafeEval(input: Any): Any = assign(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid2l", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.assign($a);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: NearestCentroidTwoLevel => o.child == child && ExprArrayEq.deq(o.superCents, superCents) && ExprArrayEq.deq(o.subCents, subCents) && ExprArrayEq.deq(o.offsets, offsets) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child, ExprArrayEq.dhash(superCents): Integer, ExprArrayEq.dhash(subCents): Integer, ExprArrayEq.dhash(offsets): Integer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
