package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: the IVF RESIDUAL of a vector —
  * `normalize(v) − centroids[cluster]` — with the centroid table as a
  * codegen reference object.
  *
  * This is the encode-side half of residual quantization (FAISS's
  * IVF,PQ / IVF,SQ residual forms): quantizers see the within-cell
  * offset instead of the absolute position, which is what keeps their
  * code budget spent on NEIGHBORHOOD structure when the corpus lives in
  * an anisotropic cone (the round-11 structured study measured
  * global-codebook PQ-ADC at recall 0.075 in that regime — the codes
  * were spanning the cone's offset, not its interior).
  *
  * Why native: the composable form is `zip_with(normalize(v),
  * element_at(<centroid literal array>, cluster+1), -)`, which inlines
  * nlist × dim literal nodes into the plan — fine at the 10-cell
  * correctness scale, a round-8-class plan-size blowup at the √N cells
  * a 10⁹-vector layout needs. Here the table rides along as one
  * reference object and the generated code is one call to [[residual]].
  *
  * Numerics match the composable form and the DuckDB twin exactly:
  * norm = sqrt of the sequential left-to-right Σx² in doubles, each
  * element x/norm − cent[i] (zero-norm vectors yield NaN residuals,
  * like `VectorOps.normalize`). A cluster id outside the table is an
  * error by construction (assignment produced it from the same table).
  */
case class CentroidResidual(
    vec: Expression,
    cluster: Expression,
    centroids: Array[Array[Double]])
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = cluster

  private def dim: Int = centroids.head.length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType, cluster.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType | LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, c) =>
      TypeCheckResult.TypeCheckFailure(
        s"centroid_residual expects (array<float|double>, int cluster), got ($a, $c)")
  }

  /** The per-row kernel, shared by eval and generated code. */
  def residual(v: ArrayData, cluster: Int): ArrayData = {
    val t = Vec.elemType(vec)
    val cent = centroids(cluster)
    val n = math.min(dim, v.numElements())
    val norm = Vec.norm(v, n, t)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = Vec.at(v, i, t) / norm - cent(i); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any, c: Any): Any = residual(v.asInstanceOf[ArrayData], c match {
    case l: Long => l.toInt
    case i       => i.asInstanceOf[Int]
  })

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidResidual", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, cl) => s"${ev.value} = $ref.residual($a, (int) $cl);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: CentroidResidual => o.vec == vec && o.cluster == cluster && ExprArrayEq.deq(o.centroids, centroids) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(vec, cluster, ExprArrayEq.dhash(centroids): Integer)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, cluster = newRight)
}
