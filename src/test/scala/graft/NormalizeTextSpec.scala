package graft

import org.apache.spark.sql.functions._

class NormalizeTextSpec extends SparkSpec {
  import spark.implicits._

  private def norm(s: String): String =
    graft.plans.NormalizeText(org.apache.spark.sql.catalyst.expressions.Literal(s))
      .normalize(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString

  test("NFC composition, singleton mapping, control/whitespace collapse, trim") {
    assert(norm("é") == "é", "decomposed acute must compose")
    assert(norm("Ω") == "Ω", "ohm sign is an NFC singleton")
    assert(norm(" a   b\r\nc\td  ") == "a b c d")
    assert(norm("") == "" && norm(" \r\n\t ") == "")
    // already-normal text passes through untouched
    assert(norm("plain ascii text") == "plain ascii text")
  }

  test("expression is codegen (no CodegenFallback), callable from SQL, null-safe") {
    graft.plans.GraftFunctions.register(spark)
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.plans.NormalizeText]))
    // NB Spark's chr() wraps at 256 (chr(769) = chr(1)), unlike
    // DuckDB's codepoint chr() \u2014 plant the combining char via the SQL
    // string \u escape instead
    val got = spark.sql("SELECT norm_text('e\\u0301  x\\u0001') AS t")
      .as[String].head()
    assert(got == "\u00e9 x")
    assert(spark.sql("SELECT norm_text(CAST(NULL AS STRING)) AS t").head().isNullAt(0))
  }

  test("distributed run agrees with the driver-side kernel over real docs") {
    graft.plans.GraftFunctions.register(spark)
    val planted = Tables.documents(spark, sf).select(col("doc_id"),
      concat(col("text"), lit(" q  é")).as("m"))
    val viaExpr = planted
      .select(col("doc_id"), call_function("norm_text", col("m")).as("n"))
      .as[(Long, String)].collect().toMap
    val viaDriver = planted.as[(Long, String)].collect().map { case (id, m) => id -> norm(m) }.toMap
    assert(viaExpr == viaDriver)
    assert(viaExpr.values.forall(_.endsWith("q \u00e9")))
  }
}
