package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: hyperplane-LSH bucket signature — one
  * '0'/'1' char per plane, bit i = sign of the sequential dot product
  * of the vector with integer plane i.
  *
  * The plane matrix rides inside the expression, which the generated
  * code holds as a reference object and calls once per row ([[sig]]:
  * one pass over the vector per plane). Replaces
  * nPlanes separate interpreted `aggregate(zip_with(...))` HOF passes
  * (each a codegen fallback) — the form that matters when bucketing
  * every vector of a 100 TB corpus.
  *
  * Numerics are IDENTICAL to the HOF form and to the DuckDB twin
  * (OracleSql.lshSig): per-element double promotion, left-to-right
  * accumulation from 0.0, sign test `>= 0`. A null element makes the
  * projection NaN (sign false → '0'), matching the HOF's null-poisoned
  * `when().otherwise("0")` rendering.
  */
case class HyperplaneSig(child: Expression, planes: Array[Array[Int]])
    extends UnaryExpression {

  private def dim: Int = planes.head.length

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = Vec.expectFloatArray(child, "hyperplane_sig")

  /** The per-row kernel, shared by eval and generated code. */
  def sig(v: ArrayData): UTF8String = {
    val t = Vec.elemType(child)
    val nulls = Vec.containsNull(child)
    val n = math.min(dim, v.numElements())
    val chars = new Array[Char](planes.length)
    var i = 0
    while (i < planes.length) {
      val w = planes(i)
      var dot = 0.0
      var d = 0
      while (d < n) {
        val x = if (nulls && v.isNullAt(d)) Double.NaN else Vec.at(v, d, t)
        dot += x * w(d)
        d += 1
      }
      chars(i) = if (dot >= 0) '1' else '0'
      i += 1
    }
    UTF8String.fromString(new String(chars))
  }

  override def nullSafeEval(input: Any): Any = sig(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneSig", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.sig($a);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: HyperplaneSig => o.child == child && ExprArrayEq.deq(o.planes, planes) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child, ExprArrayEq.dhash(planes): Integer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
