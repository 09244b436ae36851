package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: sign-bit pack of vector dims
  * [word·64, min(dim, word·64+64)) into one long — bit (i mod 64) set
  * iff element i > 0 (strict: zeros, NaNs, nulls and out-of-range
  * indexes pack as 0, matching the element_at/when chain it replaces
  * and the DuckDB twin's direct sign test).
  *
  * Why native and not 64 `when(element_at(...))` terms: the chain is
  * correct and plans in microseconds, but fused into a stage that also
  * carries the IVF assignment ([[NearestCentroid]] over √N centroids),
  * the generated `processNext` blows past HotSpot's ~8 KB JIT bytecode
  * ceiling and the WHOLE stage — including the 64k-flop-per-row
  * assignment loop — runs in the bytecode interpreter. Measured on the
  * round-11 structured-recall study: `Bq.writeIvfBq` at 1M vectors /
  * nlist=1000 sat at 30 cores for >25 min (vs ~30 s for the same-shape
  * SQ write whose quantize is two small HOF loops); with this
  * expression the write is seconds. Invisible at the 500-vector
  * correctness scale — plan SIZE is a scale axis (the round-8 ADC and
  * round-10 CASE-assignment lesson, third sighting, new path).
  */
case class PackSignBits(child: Expression, word: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = Vec.expectFloatArray(child, "pack_sign_bits")

  /** The per-row kernel, shared by eval and generated code. */
  def pack(v: ArrayData): Long = {
    val t = Vec.elemType(child)
    val nulls = Vec.containsNull(child)
    val n = math.min(math.min(dim, word * 64 + 64), v.numElements())
    var bits = 0L
    var i = word * 64
    while (i < n) {
      if (!(nulls && v.isNullAt(i)) && Vec.at(v, i, t) > 0) bits |= 1L << (i % 64)
      i += 1
    }
    bits
  }

  override def nullSafeEval(input: Any): Any = pack(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("packSignBits", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.pack($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
