package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: cosine similarity over two numeric
  * arrays, one fused loop, inside whole-stage codegen.
  *
  * The composed HOF form (`aggregate(zip_with(...))`, VectorOps.cosine)
  * is expression-tree-interpreted (higher-order functions are codegen
  * fallbacks) and walks each vector three times. This expression's
  * generated code is one call to a precompiled loop ([[cosine]])
  * accumulating dot/|a|²/|b|² — the hot-path form for O(pairs)
  * similarity stages.
  *
  * Numerics are IDENTICAL to the HOF form (same element order, same
  * IEEE ops: per-element double promotion, sequential sums, final
  * dot/(sqrt·sqrt)), so results are interchangeable under the oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // nullable even for non-null array columns when elements may be null
  // (a null element null-poisons the result, like the HOF form)
  override def nullable: Boolean = super.nullable || mayHaveNullElements

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt: NumericType, _), ArrayType(rt: NumericType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects two numeric arrays, got ${left.dataType} / ${right.dataType}")
  }

  /** The per-row kernel, shared by eval and generated code: one fused
    * loop over `[0, min(|a|, |b|))`. It ignores null elements; callers
    * test [[hasNullElement]] first when the schema allows them.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val lt = Vec.elemType(left)
    val rt = Vec.elemType(right)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = Vec.at(a, i, lt)
      val y = Vec.at(b, i, rt)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zip_with pads the shorter side with null, so the HOF form is
    // null on unequal lengths; callers pass equal lengths in practice
    // and the norms here cover [0, n) only
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Whether a null element in `[0, min(|a|, |b|))` null-poisons the
    * result, exactly like the HOF form (zip_with product null →
    * aggregate propagates null).
    */
  def hasNullElement(a: ArrayData, b: ArrayData): Boolean = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n && !a.isNullAt(i) && !b.isNullAt(i)) i += 1
    i < n
  }

  private def mayHaveNullElements: Boolean = Vec.containsNull(left) || Vec.containsNull(right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (mayHaveNullElements && hasNullElement(a, b)) null else cosine(a, b)
  }

  // the null test is only compiled in when the schema allows null
  // elements; the common containsNull=false case is one call
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSim", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      if (mayHaveNullElements)
        s"if ($ref.hasNullElement($a, $b)) { ${ev.isNull} = true; } else { ${ev.value} = $ref.cosine($a, $b); }"
      else s"${ev.value} = $ref.cosine($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SparkSessionExtensions installer: registers `cosine_sim` so it is
  * callable from SQL and via `call_function`. Wire with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or programmatically on an existing session via [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}

object GraftFunctions {
  private def function(name: String, cls: Class[_], arity: Int)(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == arity,
        s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
      build(children)
    })

  /** The SQL functions both registrations install. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    function("cosine_sim", classOf[CosineSimilarity], 2)(c => CosineSimilarity(c.head, c(1))),
    function("phrase_positions", classOf[PhrasePositions], 2)(c => PhrasePositions(c.head, c(1))),
    function("norm_text", classOf[NormalizeText], 1)(c => NormalizeText(c.head)))

  /** Register on an already-constructed session (driver-owned sessions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    ensureStrategy(spark)
  }

  /** Idempotently add the TopKPerKey planner strategy to a session that
    * wasn't built with spark.sql.extensions.
    */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!ss.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      ss.experimental.extraStrategies = ss.experimental.extraStrategies :+ TopKPerKeyStrategy
  }
}
