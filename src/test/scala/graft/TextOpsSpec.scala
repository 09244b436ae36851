package graft

import graft.functions.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenize lowercases, splits on non-alphanumerics and drops empties") {
    val out = Seq(Tuple1("  Hello, World!  x2 ")).toDF("text")
      .select(TextOps.tokenize(col("text"))).as[Seq[String]].head()
    assert(out == Seq("hello", "world", "x2"))
  }

  test("shingles yields n-k+1 hashes and empty below k") {
    val df = Seq(Tuple1("a b c d")).toDF("text")
    val sh = df.select(TextOps.shingles(TextOps.tokenize(col("text")), 3)).as[Seq[String]].head()
    assert(sh.length == 2) // abc, bcd
    val short = Seq(Tuple1("a b")).toDF("text")
      .select(TextOps.shingles(TextOps.tokenize(col("text")), 3)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("rawShingles (lambda-bound form) equals the brute-force sliding window") {
    val rnd = new scala.util.Random(7)
    val texts = Seq.tabulate(60) { i =>
      val n = rnd.nextInt(15) // 0..14 tokens, crossing every k boundary
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar.toString * (1 + rnd.nextInt(2)))
        .mkString(" ")
    } :+ "" :+ "a b c" // empty and exactly-k cases
    for (k <- Seq(2, 3, 10)) {
      val got = texts.map(Tuple1(_)).toDF("text")
        .select(TextOps.rawShingles(TextOps.tokenize(col("text")), k))
        .as[Seq[String]].collect().toSeq
      val want = texts.map { t =>
        val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
        if (toks.length >= k) toks.sliding(k).map(_.mkString(" ")).toSeq else Seq.empty
      }
      assert(got == want, s"k=$k")
    }
    // null text yields an empty shingle array, not null
    val nul = Seq(Tuple1(null: String)).toDF("text")
      .select(TextOps.rawShingles(TextOps.tokenize(col("text")), 3))
      .as[Seq[String]].head()
    assert(nul != null && nul.isEmpty)
  }

  test("explodeShingles matches plain explode semantics (empty arrays yield no rows)") {
    val df = Seq(("d1", "a b c d"), ("d2", "a b"), ("d3", "")).toDF("id", "text")
      .select(col("id"), TextOps.tokenize(col("text")).as("_toks"))
    val viaHelper = TextOps.explodeShingles(
      df, TextOps.rawShingles(col("_toks"), 3), "g", col("id"))
      .select("id", "g").as[(String, String)].collect().sorted.toSeq
    val viaPlain = df.select(col("id"),
        explode(TextOps.rawShingles(col("_toks"), 3)).as("g"))
      .select("id", "g").as[(String, String)].collect().sorted.toSeq
    assert(viaHelper == viaPlain)
    assert(viaHelper == Seq(("d1", "a b c"), ("d1", "b c d")))
  }

  test("charEntropy closed forms: constant, alternating, uniform, empty, non-alnum") {
    val df = Seq(
      (1L, "aaaa"),            // one symbol: H = 0, max ratio 1
      (2L, "abab abab"),       // two equiprobable: H = 1, ratio 0.5
      (3L, ('a' to 'z').mkString + ('0' to '9').mkString), // uniform 36: H = log2(36)
      (4L, "!!! ???"),         // nothing in [a-z0-9]: n = 0, defined as 0
      (5L, "AaAa")             // case folds before counting
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.charEntropy(df, "text", "doc_id")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out(0) == ((1L, 4L, 0.0, 1.0)))
    assert(out(1) == ((2L, 8L, 1.0, 0.5)))
    assert(out(2)._2 == 36L)
    assert(math.abs(out(2)._3 - math.round(math.log(36) / math.log(2) * 10000) / 10000.0) < 1e-9)
    assert(out(2)._4 == math.round(1.0 / 36 * 10000) / 10000.0)
    assert(out(3) == ((4L, 0L, 0.0, 0.0)))
    assert(out(4) == ((5L, 4L, 0.0, 1.0)))
  }

  test("extractTitle takes the first markdown heading, strips #, caps at 200") {
    val cases = Seq(
      ("## My Title\nbody text", "src/path/doc.md", "My Title"),
      ("no heading here\njust text", "dir/sub/file.txt", "file.txt"),
      ("   #   Padded Heading   \nrest", "x", "Padded Heading"),
      ("#" + ("T" * 300), "y", "T" * 200)
    ).toDF("text", "source", "expected")
    val out = cases.withColumn("got", TextOps.extractTitle(col("text"), col("source")))
      .filter(col("got") =!= col("expected"))
    assert(out.count() == 0, out.select("got", "expected").collect().mkString("; "))
  }

  test("extractTitle falls back to windows-style basename") {
    val out = Seq(Tuple1(("plain text", "C:\\docs\\file.pdf"))).toDF("pair")
      .select(TextOps.extractTitle(col("pair._1"), col("pair._2"))).as[String].head()
    assert(out == "file.pdf")
  }

  test("hashedBowDim is stable and within [0, 64)") {
    val terms = Seq("spark", "filter", "join", "stream", "spark").toDF("term")
    val dims = terms.select(TextOps.hashedBowDim(col("term")).as("d")).as[Long].collect()
    assert(dims.forall(d => d >= 0 && d < 64))
    assert(dims(0) == dims(4), "same term must hash to the same dim")
  }
}
