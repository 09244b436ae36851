package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: BPE token count of one pre-token under a fixed
  * merge table (reference: chunker.py:24 `_get_tokenizer` — token
  * budgets come from a real tokenizer, not whitespace counts).
  *
  * The merge table rides inside the expression, which the generated
  * code holds as a reference object (same pattern as [[PqEncode]]) and
  * calls once per row, so the projection stays inside whole-stage
  * codegen. Merges apply in rank order with left-to-right
  * non-overlapping passes — semantics shared exactly with
  * [[graft.operators.Bpe.encodeWord]] and the DuckDB twin's `replace()`
  * chain (see Bpe's scaladoc for the equivalence with best-rank-first
  * encoding).
  */
case class BpeWordTokens(child: Expression, merges: Array[Array[String]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t          => TypeCheckResult.TypeCheckFailure(s"bpe_word_tokens expects string, got $t")
  }

  /** The per-row kernel, shared by eval and generated code. */
  def count(word: UTF8String): Int = BpeWordTokens.countStr(word.toString, merges)

  override def nullSafeEval(input: Any): Any = count(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeWordTokens", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: BpeWordTokens => o.child == child && ExprArrayEq.deq(o.merges, merges) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child, ExprArrayEq.dhash(merges): Integer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeWordTokens {

  private[plans] def countStr(word: String, merges: Array[Array[String]]): Int = {
    var syms = graft.operators.Bpe.codePointSyms(word)
    var m = 0
    while (m < merges.length && syms.length >= 2) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      var has = false; var i = 0
      while (!has && i < syms.length - 1) {
        if (syms(i) == l && syms(i + 1) == r) has = true
        i += 1
      }
      if (has) syms = graft.operators.Bpe.mergePair(syms, l, r)
      m += 1
    }
    syms.length
  }
}

/** BPE token count of a WHOLE text: pre-tokenize (the shared
  * [[graft.operators.Bpe.PretokenRegex]] over the already-lowered input —
  * callers pass `lower(text)`) then sum per-pre-token encode lengths.
  * Merges never cross pre-token boundaries, so this equals the sum of
  * [[BpeWordTokens]] over the exploded pre-token stream — but as ONE
  * narrow codegen'd projection with no explode, no shuffle, no join:
  * the right shape for corpus-wide token budgeting at 100 TB.
  */
case class BpeTextTokens(child: Expression, merges: Array[Array[String]])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t          => TypeCheckResult.TypeCheckFailure(s"bpe_text_tokens expects string, got $t")
  }

  /** The per-row kernel, shared by eval and generated code. */
  def count(text: UTF8String): Long = {
    val m = BpeTextTokens.pretoken.matcher(text.toString)
    var total = 0L
    while (m.find()) total += BpeWordTokens.countStr(m.group(), merges)
    total
  }

  override def nullSafeEval(input: Any): Any = count(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTextTokens", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  // structural equality over array contents (see [[ExprArrayEq]])
  override def equals(other: Any): Boolean = other match {
    case o: BpeTextTokens => o.child == child && ExprArrayEq.deq(o.merges, merges) && o.productArity == productArity
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child, ExprArrayEq.dhash(merges): Integer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeTextTokens {
  private val pretoken =
    java.util.regex.Pattern.compile(graft.operators.Bpe.PretokenRegex)
}
