package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** OracleSql writes each operator core once, in the builder its twins
  * share (as the Spark side writes it once): a second hand-written copy
  * of the BM25 idf or of the query-vector CTE is a twin that can drift
  * from the others.
  */
class OracleFoldSpec extends AnyFunSuite {

  private lazy val source =
    new String(Files.readAllBytes(Paths.get("src/main/scala/graft/OracleSql.scala")), UTF_8)

  Seq(
    "ln(1.0 + (st.n" -> "the BM25 idf (bm25Score)",
    "FROM embeddings WHERE vec_id = 0" -> "the query-vector CTE (queryCte)"
  ).foreach { case (fragment, core) =>
    test(s"OracleSql spells $core once") {
      val n = source.split(java.util.regex.Pattern.quote(fragment), -1).length - 1
      assert(n == 1, s"`$fragment` appears $n times in OracleSql.scala; build on $core")
    }
  }
}
