package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** editDistanceJoin must equal the brute-force all-pairs join — the
  * deletion-neighborhood blocking is only allowed to move work, never
  * drop a pair — across uniform-prefix data, short/empty strings, and
  * both supported thresholds.
  */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._
  import FuzzyJoinSpec.brute

  private def check(df: DataFrame, t: Int): Unit = {
    val got = Dedup.editDistanceJoin(df, "s", "id", maxDist = t)
      .orderBy("id_a", "id_b").collect().toSeq
    val want = brute(df, "s", "id", t).orderBy("id_a", "id_b").collect().toSeq
    assert(got == want)
  }

  test("uniform-prefix corpus at t=1 and t=2 (the regime that degenerates q-gram blocking)") {
    val df = (0 until 300).map(i => (i.toLong, f"Customer#$i%09d")).toDF("id", "s")
    check(df, 1)
    check(df, 2)
  }

  test("short strings, duplicates, inserts/deletes and the empty string") {
    val df = Seq(
      1L -> "ab", 2L -> "ac", 3L -> "abc",          // substitution + 1-char extension
      4L -> "abcd", 5L -> "abcde", 6L -> "abcdef",  // chained insertions
      7L -> "abcdeg", 8L -> "zzzzzz", 9L -> "",     // far pair; empty string
      10L -> "a", 11L -> "ab"                       // dup string under distinct ids
    ).toDF("id", "s")
    check(df, 0)
    check(df, 1)
    check(df, 2)
  }

  test("matches the DuckDB-twin semantics on the real customer table") {
    val customers = Tables.customer(spark, sf)
    val got = Dedup.editDistanceJoin(customers, "c_name", "c_custkey", maxDist = 1)
      .orderBy("id_a", "id_b").collect().toSeq
    val want = brute(customers, "c_name", "c_custkey", 1)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("randomized fuzz vs brute force at t=1 and t=2 (seeded)") {
    // small alphabet + short lengths force dense distance-1/2
    // neighborhoods — the regime where a blocking bug would show
    val rnd = new scala.util.Random(4242)
    val strings = Seq.fill(250)(
      (0 until rnd.nextInt(9)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val df = strings.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    check(df, 1)
    check(df, 2)
  }

  test("thresholds beyond the combinatorial range are rejected") {
    val df = Seq(1L -> "abc").toDF("id", "s")
    val e = intercept[IllegalArgumentException] {
      Dedup.editDistanceJoin(df, "s", "id", maxDist = 3)
    }
    assert(e.getMessage.contains("maxDist"))
  }
}

object FuzzyJoinSpec {
  /** All-pairs Levenshtein join: (id_a, id_b, dist) with id_a < id_b. */
  def brute(df: DataFrame, textCol: String, idCol: String, t: Int): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(textCol).as("_sa"))
    val b = df.select(col(idCol).as("id_b"), col(textCol).as("_sb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")))
      .filter(col("dist") <= t)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }
}
