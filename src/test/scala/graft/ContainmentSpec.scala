package graft

import graft.operators.Dedup
import graft.functions.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Asymmetric containment pairs: the rarity-prefix blocking must equal
  * the brute-force all-pairs result, find excerpts that Jaccard-based
  * near-dup structurally misses, and respect the threshold exactly.
  */
class ContainmentSpec extends SparkSpec {
  import spark.implicits._
  import ContainmentSpec.brute

  test("equals brute force, including a doc of corpus-ubiquitous shingles") {
    val common = "the quick brown fox jumps over the lazy dog again and again"
    val df = (
      (0 until 30).map(i => (i.toLong, s"$common tail$i piece$i word$i extra$i")) :+
        (100L, common) :+                      // contained in all 30 (ubiquitous shingles)
        (101L, "totally different text with nothing shared at all here now")
      ).toDF("id", "s")
    val got = Dedup.containmentPairs(df, "s", "id", tau = 0.8)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == brute(df, 0.8))
    assert(got.count(_._1 == 100L) == 30, "the common core is contained in every variant")
  }

  test("finds the excerpt Jaccard misses") {
    val long = (1 to 200).map(i => s"w$i").mkString(" ")
    val excerpt = (50 to 70).map(i => s"w$i").mkString(" ")
    val df = Seq(1L -> long, 2L -> excerpt, 3L -> "unrelated words only here").toDF("id", "s")
    val got = Dedup.containmentPairs(df, "s", "id", tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((2L, 1L, 1.0)), s"got $got")
    // the symmetric Jaccard of that pair is tiny — no near-dup
    // threshold would have found it
    val jac = 19.0 / (198 + 19 - 19)
    assert(jac < 0.15)
  }

  test("randomized fuzz vs brute force (seeded)") {
    val rnd = new scala.util.Random(99)
    val vocab = (0 until 12).map(i => s"v$i")
    val rows = (0 until 120).map { i =>
      (i.toLong, (0 until (3 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(12))).mkString(" "))
    }
    val df = rows.toDF("id", "s")
    for (tau <- Seq(0.5, 0.8, 1.0)) {
      val got = Dedup.containmentPairs(df, "s", "id", tau)
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == brute(df, tau), s"tau=$tau")
    }
  }

  test("threshold boundary: containment just below tau is excluded") {
    // A has 10 shingles (12 tokens), 8 of them inside B -> 0.8
    val a = (1 to 12).map(i => s"t$i").mkString(" ")
    val b = (1 to 10).map(i => s"t$i").mkString(" ") + " zz1 zz2 zz3"
    val df = Seq(1L -> a, 2L -> b).toDF("id", "s")
    def at(tau: Double) =
      Dedup.containmentPairs(df, "s", "id", tau).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at(0.8).contains((1L, 2L)))
    assert(!at(0.81).contains((1L, 2L)))
  }

  test("hot-shingle hybrid equals brute force on the boilerplate fixture") {
    // the `common` core's shingles occur in 31 docs — with hotDf=2
    // every one of them routes through the hot path (a fixture this
    // shape used to trip the maxDf fail-fast)
    val common = "the quick brown fox jumps over the lazy dog again and again"
    val df = (
      (0 until 30).map(i => (i.toLong, s"$common tail$i piece$i word$i extra$i")) :+
        (100L, common) :+
        (101L, "totally different text with nothing shared at all here now")
      ).toDF("id", "s")
    for (tau <- Seq(0.5, 0.8, 1.0)) {
      val got = Dedup.containmentPairs(df, "s", "id", tau, hotDf = 2L)
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == brute(df, tau), s"tau=$tau")
    }
  }

  test("hot-shingle hybrid: randomized fuzz vs brute force (seeded)") {
    // tiny vocabulary => most shingles are corpus-hot at hotDf=3;
    // docs range from all-hot to mixed, exercising the prefix-probe
    // completeness argument (pairs whose shared shingles are ALL hot)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 10).map(i => s"h$i")
    val rows = (0 until 90).map { i =>
      (i.toLong, (0 until (3 + rnd.nextInt(18))).map(_ => vocab(rnd.nextInt(10))).mkString(" "))
    }
    val df = rows.toDF("id", "s")
    for (tau <- Seq(0.5, 0.8, 1.0); cap <- Seq(1L, 3L, 10L)) {
      val got = Dedup.containmentPairs(df, "s", "id", tau, hotDf = cap)
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == brute(df, tau), s"tau=$tau hotDf=$cap")
    }
  }

  test("hybrid and fast path agree exactly at the routing boundary") {
    val rnd = new scala.util.Random(21)
    val vocab = (0 until 14).map(i => s"b$i")
    val rows = (0 until 60).map { i =>
      (i.toLong, (0 until (4 + rnd.nextInt(15))).map(_ => vocab(rnd.nextInt(14))).mkString(" "))
    }
    val df = rows.toDF("id", "s")
    val fast = Dedup.containmentPairs(df, "s", "id", 0.7, hotDf = 100000L)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val hybrid = Dedup.containmentPairs(df, "s", "id", 0.7, hotDf = 1L)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fast == hybrid)
  }
}

object ContainmentSpec {
  /** All-pairs containment over (id, s), rounded as the operator rounds. */
  def brute(df: DataFrame, tau: Double): Seq[(Long, Long, Double)] = {
    val sh = df
      .select(col("id"), TextOps.tokenize(col("s")).as("_t"))
      .select(col("id"), array_distinct(TextOps.shingles(col("_t"))).as("sh"))
      .filter(size(col("sh")) > 0)
    sh.select(col("id").as("id_a"), col("sh").as("sa"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sb")))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("c", round(
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(col("sa")).cast("double"), 4))
      .filter(col("c") >= tau)
      .select("id_a", "id_b", "c")
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }
}
