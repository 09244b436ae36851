package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: index of the nearest centroid (squared
  * euclidean, first-minimum tie-break) — the IVF coarse-quantizer
  * assignment (reference: the IVF-PQ index hint at store.py:274).
  *
  * With `normalizeInput = true` the vector is L2-normalized inside the
  * loop (each element divided by the precomputed norm), which is how a
  * euclidean cell assignment serves a cosine index.
  *
  * The arithmetic is deliberately the naive sequential form —
  * `d += (x_i - c_i)^2` left-to-right, strict `<` first-minimum — so a
  * SQL twin (per-centroid explicit sums over the same centroid literals)
  * reproduces the assignment bit-for-bit. This is what makes the IVF
  * probe hash-verifiable against DuckDB, unlike MLlib's
  * `KMeansModel.transform` (whose fastSquaredDistance short-cuts are not
  * SQL-replicable). The expression rides along as a codegen reference
  * object and the generated code is one call to [[nearest]].
  */
case class NearestCentroid(
    child: Expression,
    centroids: Array[Array[Double]],
    normalizeInput: Boolean
) extends UnaryExpression {

  private def dim: Int = centroids.head.length

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = Vec.expectFloatArray(child, "nearest_centroid")

  /** The per-row kernel, shared by eval and generated code. */
  def nearest(v: ArrayData): Int = {
    val t = Vec.elemType(child)
    Vec.argmin(v, t, 0, dim, if (normalizeInput) Vec.norm(v, dim, t) else 1.0, centroids)
  }

  override def nullSafeEval(input: Any): Any = nearest(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.nearest($a);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: NearestCentroid => o.child == child && o.normalizeInput == normalizeInput && ExprArrayEq.deq(o.centroids, centroids) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child, normalizeInput, ExprArrayEq.dhash(centroids): Integer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
