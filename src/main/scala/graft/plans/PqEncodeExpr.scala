package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: product-quantization encode — for each
  * of the `m = codebooks.length` subspaces, the index of the nearest
  * codebook centroid (squared euclidean, first-minimum tie-break).
  * Returns `array<int>` of length m.
  *
  * The codebooks ride along as a codegen REFERENCE OBJECT (a few KB),
  * not as literal expression trees — a m·codes·sub literal expansion
  * compiles to megabytes of Java and dominates wall time on small
  * inputs (measured: pq_probe 0.7 s → 5.0 s when expanded literally).
  * This form keeps whole-stage codegen with a generated body of one
  * call to the precompiled [[encode]], numerically identical to the
  * driver-side training loop.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private def m: Int = codebooks.length
  private def sub: Int = codebooks.head.head.length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = Vec.expectFloatArray(child, "pq_encode")

  /** The per-row kernel, shared by eval and generated code. */
  def encode(v: ArrayData): ArrayData = {
    val t = Vec.elemType(child)
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) { codes(j) = Vec.argmin(v, t, j * sub, sub, 1.0, codebooks(j)); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override def nullSafeEval(input: Any): Any = encode(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.encode($a);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: PqEncode => o.child == child && ExprArrayEq.deq(o.codebooks, codebooks) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child, ExprArrayEq.dhash(codebooks): Integer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
