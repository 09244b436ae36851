package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: crawl-scale text NORMALIZATION — the
  * standard cleanup every pre-tokenization pipeline runs (C4/CCNet do
  * exactly this before anything else):
  *
  *   1. Unicode NFC (decomposed e+◌́ → é, compatibility singletons like
  *      U+2126 Ω → U+03A9) so the same visible text hashes/tokenizes
  *      the same whatever the producer emitted;
  *   2. control characters and whitespace runs collapse to one space;
  *   3. trim.
  *
  * Runs inside whole-stage codegen as one call per row to
  * [[normalize]] (the work is the NFC pass + one precompiled-regex
  * replace; generated code stays small). The DuckDB twin is
  * `trim(regexp_replace(nfc_normalize(s), '[\s\x00-\x1f\x7f]+', ' ', 'g'))`
  * — NFC is a Unicode spec, so both engines produce identical bytes.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"norm_text expects a string, got $t")
  }

  /** The per-row kernel, shared by eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    UTF8String.fromString(NormalizeText.runs.matcher(nfc).replaceAll(" ").trim)
  }

  override def nullSafeEval(s: Any): Any = normalize(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normText", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.normalize($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeText {
  // \s is ASCII whitespace in both Java and RE2; every other control in
  // [\x00-\x1f\x7f] is covered explicitly so the two engines agree
  private val runs = java.util.regex.Pattern.compile("[\\s\\x00-\\x1f\\x7f]+")
}
