package graft

import graft.functions.{TextOps, VectorOps}
import graft.operators.{Ann, Dedup, Lsh}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every near-dup pair generator against a brute-force all-pairs verify
  * on one small seeded corpus, each held to its own stated guarantee:
  * `sound` holds every pair the generator may report (all true pairs,
  * with the verified value), `complete` every pair it must report.
  * Exact generators have sound == complete == brute force; MinHash and
  * LSH only promise soundness; SimHash also promises every pair within
  * `maxHamming` that shares a 16-bit word.
  */
class PairGeneratorSpec extends SparkSpec {
  import spark.implicits._

  // 60 docs over a 30-word vocabulary, plus planted near-dups (one token
  // replaced), exact copies and excerpts
  private lazy val texts: DataFrame = {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"w$i")
    val base = (0 until 60).map(i => i.toLong -> Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(30))))
    val edits = base.take(10).map { case (i, t) => (100 + i) -> t.updated(3, "zz") }
    val copies = base.slice(10, 14).map { case (i, t) => (200 + i) -> t }
    val excerpts = base.slice(14, 18).map { case (i, t) => (300 + i) -> t.slice(2, 8) }
    (base ++ edits ++ copies ++ excerpts).map { case (i, t) => (i, t.mkString(" ")) }.toDF("id", "s")
  }

  // 40 vectors in 3 blocks, plus planted perturbed copies
  private lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(12)
    val base = (0 until 40).map(i => (i.toLong, i % 3, Seq.fill(8)(rnd.nextGaussian())))
    val near = base.take(12).map { case (i, b, v) => (100 + i, b, v.updated(0, v.head + 0.05)) }
    (base ++ near).toDF("vec_id", "label", "embedding")
  }

  // short strings over a 3-letter alphabet: dense distance-1 neighborhoods
  private lazy val strings: DataFrame = {
    val rnd = new scala.util.Random(13)
    Seq.tabulate(120)(i => (i.toLong, Seq.fill(rnd.nextInt(7))(('a' + rnd.nextInt(3)).toChar).mkString))
      .toDF("id", "s")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def allPairs(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(c => col(c).as(s"${c}_a")): _*)
      .crossJoin(df.select(cols.map(c => col(c).as(s"${c}_b")): _*))

  private def shingleSets: DataFrame =
    texts.select(col("id"), array_distinct(TextOps.shingles(TextOps.tokenize(col("s")))).as("sh"))

  private def jaccardPairs: DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    allPairs(shingleSets, "id", "sh").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(inter / ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter), 4).as("j"))
  }

  private def cosinePairs(df: DataFrame, threshold: Double, sameBlock: Boolean): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    allPairs(df, "vec_id", "label", "embedding")
      .filter(col("vec_id_a") < col("vec_id_b"))
      .filter(if (sameBlock) col("label_a") === col("label_b") else lit(true))
      .select(col("vec_id_a"), col("vec_id_b"),
        VectorOps.cosineFastRounded(col("embedding_a"), col("embedding_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  private def simHashRows: (Set[Seq[Any]], Set[Seq[Any]]) = {
    val sig = Dedup.simHash64(texts, "s", "id").as[(Long, String)].collect()
    val pairs = for ((a, sa) <- sig; (b, sb) <- sig if a < b) yield {
      val ham = sa.zip(sb).count { case (x, y) => x != y }.toLong
      (Seq[Any](a, b, ham), ham, sa.grouped(16).zip(sb.grouped(16)).exists { case (x, y) => x == y })
    }
    val sound = pairs.filter(_._2 <= 3)
    (sound.map(_._1).toSet, sound.filter(_._3).map(_._1).toSet)
  }

  private def semDeDupRows(centroids: Array[Array[Double]], threshold: Double): Set[Seq[Any]] = {
    graft.plans.GraftFunctions.register(spark)
    val cents = centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }.toDF("cluster", "cv")
    val scored = Ann.assign(vectors, "embedding", centroids).join(cents, "cluster")
      .withColumn("cs", VectorOps.cosineFastRounded(col("embedding"), col("cv")))
    val removed = allPairs(scored, "vec_id", "cluster", "embedding", "cs")
      .filter(col("cluster_a") === col("cluster_b") && col("vec_id_a") =!= col("vec_id_b"))
      .filter(VectorOps.cosineFastRounded(col("embedding_a"), col("embedding_b")) >= threshold)
      .filter(col("cs_b") < col("cs_a") || (col("cs_b") === col("cs_a") && col("vec_id_b") < col("vec_id_a")))
      .select("vec_id_a").as[Long].collect().toSet
    vectors.select("vec_id").as[Long].collect().map(id => Seq[Any](id, !removed(id))).toSet
  }

  private case class Gen(name: String, got: () => Set[Seq[Any]],
      sound: () => Set[Seq[Any]], complete: () => Set[Seq[Any]])

  private def exact(name: String, got: => Set[Seq[Any]], brute: => Set[Seq[Any]]): Gen = {
    lazy val b = brute
    Gen(name, () => got, () => b, () => b)
  }

  private lazy val simHash = simHashRows
  private val centroids =
    Array(Array.fill(8)(1.0), Array.fill(8)(-1.0), Array.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0))

  private val generators: Seq[Gen] = Seq(
    Gen("minHashLshPairs",
      () => rows(Dedup.minHashLshPairs(texts, "s", "id", threshold = 0.3)),
      () => rows(jaccardPairs.filter(col("j") >= 0.3)), () => Set.empty),
    Gen("simHashPairs",
      () => rows(Dedup.simHashPairs(texts, "s", "id", maxHamming = 3)),
      () => simHash._1, () => simHash._2),
    Gen("Lsh.nearDupPairs",
      () => rows(Lsh.nearDupPairs(vectors, "embedding", "vec_id", dim = 8, nPlanes = 4, threshold = 0.9)),
      () => rows(cosinePairs(vectors, 0.9, sameBlock = false)), () => Set.empty),
    exact("editDistanceJoin",
      rows(Dedup.editDistanceJoin(strings, "s", "id", maxDist = 1)),
      rows(FuzzyJoinSpec.brute(strings, "s", "id", 1))),
    exact("containmentPairs",
      rows(Dedup.containmentPairs(texts, "s", "id", tau = 0.8)),
      ContainmentSpec.brute(texts, 0.8).map { case (a, b, c) => Seq[Any](a, b, c) }.toSet),
    exact("containmentPairs (hot-shingle hybrid)",
      rows(Dedup.containmentPairs(texts, "s", "id", tau = 0.8, hotDf = 2L)),
      ContainmentSpec.brute(texts, 0.8).map { case (a, b, c) => Seq[Any](a, b, c) }.toSet),
    exact("ngramJaccardPairs",
      rows(Dedup.ngramJaccardPairs(texts, "s", "id")),
      rows(jaccardPairs)),
    exact("embeddingNearDupPairs",
      rows(Dedup.embeddingNearDupPairs(vectors, "embedding", "vec_id", "label", 0.9)
        .select("id_a", "id_b", "cos_sim")),
      rows(cosinePairs(vectors, 0.9, sameBlock = true))),
    exact("semDeDup",
      rows(Dedup.semDeDup(vectors, "embedding", "vec_id", centroids, threshold = 0.9)
        .select("vec_id", "kept")),
      semDeDupRows(centroids, 0.9))
  )

  generators.foreach { g =>
    test(s"${g.name}: reports only true pairs and every pair it promises") {
      val got = g.got()
      assert(got.nonEmpty, s"${g.name} found nothing on the planted corpus")
      val wrong = got -- g.sound()
      assert(wrong.isEmpty, s"${g.name} reported pairs the brute force rejects: ${wrong.take(10)}")
      val missed = g.complete() -- got
      assert(missed.isEmpty, s"${g.name} missed promised pairs: ${missed.take(10)}")
    }
  }
}
