package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native hashed-BoW featurization of a token array: one pass over the
  * tokens (dim = first md5 byte mod dims, exactly
  * `conv(substring(md5(term),1,2),16,10) % dims` — TextOps.hashedBowDim),
  * then one L2-normalization pass — O(tokens + dims) total, vs the
  * O(dims·tokens) `aggregate`/`zip_with` fold it replaces on the
  * streaming path. Count accumulation, squared-sum order and the
  * norm>0 guard mirror the HOF form exactly, so outputs are
  * bit-for-bit identical (FeaturizeSpec pins inline == batch).
  */
case class HashedBow(child: Expression, dims: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"hashed_bow expects array<string>, got $t")
  }

  /** The per-row kernel, shared by eval and generated code. */
  def bow(tokens: ArrayData): ArrayData = {
    val counts = new Array[Double](dims)
    val md = HashedBow.mdTL.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        md.reset()
        val digest = md.digest(tokens.getUTF8String(i).getBytes)
        counts((digest(0) & 0xff) % dims) += 1.0
      }
      i += 1
    }
    var s = 0.0
    var j = 0
    while (j < dims) { s += counts(j) * counts(j); j += 1 }
    if (s > 0) {
      val norm = math.sqrt(s)
      j = 0
      while (j < dims) { counts(j) /= norm; j += 1 }
    }
    new GenericArrayData(counts)
  }

  override def nullSafeEval(input: Any): Any = bow(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashedBow", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.bow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedBow {
  private val mdTL: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}
