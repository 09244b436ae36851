package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The element reads and loops the vector expressions' kernels share.
  *
  * A kernel reads its input's element type once per row and passes it
  * down; the type tests in [[at]] are then loop-invariant, and HotSpot's
  * loop unswitching hoists them out of the inner loop — the float/double
  * dispatch the expressions' generated Java used to make at codegen time.
  */
private[plans] object Vec {

  def elemType(e: Expression): DataType = e.dataType.asInstanceOf[ArrayType].elementType

  def containsNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _               => false
  }

  def expectFloatArray(e: Expression, fn: String): TypeCheckResult = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$fn expects array<float|double>, got $t")
  }

  /** Element `i` promoted to double, for every numeric element type. */
  def at(v: ArrayData, i: Int, t: DataType): Double =
    if (t == FloatType) v.getFloat(i).toDouble
    else if (t == DoubleType) v.getDouble(i)
    else t match {
      case IntegerType => v.getInt(i).toDouble
      case LongType    => v.getLong(i).toDouble
      case ShortType   => v.getShort(i).toDouble
      case _           => v.getByte(i).toDouble
    }

  /** `sqrt` of the sequential left-to-right Σx² over `[0, n)`. */
  def norm(v: ArrayData, n: Int, t: DataType): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { val x = at(v, i, t); s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Index of the centroid nearest `v[off, off + len) / norm`: squared
    * euclidean summed left to right from 0.0, strict-`<` first minimum.
    * A norm of 1 skips the division, which is exact (`x / 1.0 == x`).
    * This sequential form is what the DuckDB twins replay with
    * per-centroid explicit sums over the same centroid literals.
    */
  def argmin(v: ArrayData, t: DataType, off: Int, len: Int, norm: Double,
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cc = cents(c)
      var d = 0.0
      var i = 0
      while (i < len) {
        val x = at(v, off + i, t)
        val e = (if (norm == 1.0) x else x / norm) - cc(i)
        d += e * e
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}
