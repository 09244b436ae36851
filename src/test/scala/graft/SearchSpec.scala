package graft

import graft.operators.Search
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def tokens(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), explode(graft.functions.TextOps.tokenize(col("text"))).as("term"))

  test("BM25 matches the hand-computed score on a tiny fixture") {
    // corpus: 3 docs; query term "cat" appears in doc 1 (x2, dl=4) and doc 2 (x1, dl=2)
    val toks = tokens(
      1L -> "cat cat dog bird",
      2L -> "cat fish",
      3L -> "dog dog dog"
    )
    val out = Search.bm25Scores(toks, "doc_id", Seq("cat")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, df=2, avgdl=3 → idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    val idf = math.log(1.6)
    def tfn(tf: Double, dl: Double) = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    assert(math.abs(out(1L) - idf * tfn(2, 4)) < 1e-12)
    assert(math.abs(out(2L) - idf * tfn(1, 2)) < 1e-12)
    assert(!out.contains(3L), "doc without query terms must not be scored")
  }

  test("BM25 ranks rarer terms higher than common ones") {
    val toks = tokens(
      1L -> "rare common common",
      2L -> "common common common",
      3L -> "common filler filler",
      4L -> "filler filler filler"
    )
    val out = Search.bm25Scores(toks, "doc_id", Seq("rare", "common")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > out(2L), "doc with the rare term should outrank common-only doc")
  }

  test("BM25 scorers take hash-colliding terms (\"an\"/\"c0\") as two terms") {
    assert("an".hashCode == "c0".hashCode)
    val toks = tokens(
      1L -> "an an dog",
      2L -> "c0 cat",
      3L -> "an c0 c0 bird",
      4L -> "dog bird cat"
    )
    val out = Search.bm25WeightedScores(toks, "doc_id", Seq("an" -> 0.5, "c0" -> 2.0)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=4, avgdl=3, df(an)=df(c0)=2 → idf = ln(1 + 2.5/2.5) = ln 2
    def w(tf: Double, dl: Double) =
      math.log(2.0) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    val want = Map(1L -> 0.5 * w(2, 3), 2L -> 2.0 * w(1, 2), 3L -> (0.5 * w(1, 4) + 2.0 * w(2, 4)))
    assert(out.keySet == want.keySet)
    want.foreach { case (id, v) => assert(math.abs(out(id) - v) < 1e-12, s"doc $id: ${out(id)} vs $v") }
    // RM3 runs both of its scoring passes on the pair
    val rm3 = Search.rm3ExpandTopK(toks, "doc_id", Seq("an", "c0"), k = 4, fbDocs = 2, fbTerms = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(rm3.nonEmpty && rm3.take(2).toSet.subsetOf(Set(1L, 2L, 3L)), rm3.toString)
  }

  test("knnTopK returns the query's nearest vectors in cosine order") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("q_vec")
    val out = Search.knnTopK(corpus, q, "embedding", "q_vec", "vec_id", 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("knnTopK on an empty corpus returns empty; never more than k rows") {
    // (reference: test_store.py search_empty_table / at_most_top_k)
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("q_vec")
    val empty = corpus.filter(col("vec_id") < 0)
    assert(Search.knnTopK(empty, q, "embedding", "q_vec", "vec_id", 5).count() == 0)
    assert(Search.knnTopK(corpus, q, "embedding", "q_vec", "vec_id", 5).count() == 2)
    assert(Search.knnTopK(corpus, q, "embedding", "q_vec", "vec_id", 1).count() == 1)
  }

  test("rrfFuse combines legs and prefers doubly-ranked ids") {
    val legA = Seq((1L, 10.0), (2L, 9.0), (3L, 8.0)).toDF("id", "sa")
    val legB = Seq((2L, 0.9), (4L, 0.8)).toDF("id", "sb")
    val out = Search.rrfFuse(legA, legB, "id", "sa", "sb", k = 4).collect()
    val top = out.head
    assert(top.getLong(0) == 2L, "id 2 is in both legs and must fuse highest")
    // id 2: 1/62 + 1/61 ; id 1: 1/61 only
    val expected = BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(top.getDouble(1) - expected) < 1e-9)
  }

  test("rrfFuse bounds unlimited legs internally (global window stays provably small)") {
    // an "unlimited" leg: 5000 rows, no caller-side limit
    val legA = spark.range(5000).select(col("id"), (lit(10000) - col("id")).cast("double").as("sa"))
    val legB = spark.range(5000).select(col("id"), (col("id") % 97).cast("double").as("sb"))
    val bounded = Search.rrfFuse(legA, legB, "id", "sa", "sb", k = 5, maxLegSize = 50)
    // result must equal fusing the pre-limited top-50 legs (truncation is
    // rank-preserving: each leg's top-50 is exactly what the guard keeps)
    val preLimited = Search.rrfFuse(
      legA.orderBy(col("sa").desc, col("id")).limit(50),
      legB.orderBy(col("sb").desc, col("id")).limit(50),
      "id", "sa", "sb", k = 5)
    assert(bounded.collect().toSeq == preLimited.collect().toSeq)
    assertThrows[IllegalArgumentException] {
      Search.rrfFuse(legA, legB, "id", "sa", "sb", k = 100, maxLegSize = 10)
    }
  }

  test("maxsim_search: bounded late-interaction scores, single-scan windowed plan") {
    val out = Queries.maxsimSearch(spark, sf)
    val rows = out.collect()
    assert(rows.length == 10, "top-10 contract")
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), "must be sorted by maxsim desc")
    // each of the 4 query terms contributes a cosine in [0,1]
    assert(scores.forall(s => s > 0.0 && s <= 4.0 + 1e-9), s"score out of range: ${scores.toSeq}")
    // one corpus pass + window for the norms — NOT a second aggregation
    // joined back (which would double the scan count)
    val plan = out.queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"maxsim must not re-scan the corpus per leg: $scans scans")
    assert(plan.contains("BroadcastHashJoin"), "query dims must broadcast")
  }

  test("bm25PerGroup: per-group statistics, bounded-heap top-k per group") {
    val toks = Seq(
      // group A: 'rare' in 1 of 3 docs; group B: 'rare' in every doc
      (1L, "a", "rare common common"), (2L, "a", "common common x"), (3L, "a", "common y z"),
      (10L, "b", "rare p"), (11L, "b", "rare q"), (12L, "b", "rare r")
    ).toDF("doc_id", "grp", "text")
      .select(col("doc_id"), col("grp"),
        explode(graft.functions.TextOps.tokenize(col("text"))).as("term"))
    val out = Search.bm25PerGroup(toks, "doc_id", "grp", Seq("rare"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val byGrp = out.groupBy(_._1)
    // group A: only doc 1 matches; idf_a = ln(1 + (3-1+0.5)/1.5) > 0
    assert(byGrp("a").map(_._2).toSet == Set(1L))
    assert(byGrp("a").head._3 > 0)
    // group B: all three docs match, and 'rare' is in EVERY b-doc, so
    // its per-group idf — ln(1 + 0.5/3.5) — is far smaller than a
    // global idf would be: per-group stats are genuinely per-group
    assert(byGrp("b").map(_._2).toSet == Set(10L, 11L, 12L))
    assert(byGrp("b").map(_._3).max < byGrp("a").head._3,
      s"ubiquitous-in-group term must score low in that group: $out")
    // plan: per-group top-k via the bounded heap; df/stats broadcast
    val plan = Search.bm25PerGroup(toks, "doc_id", "grp", Seq("rare"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"))
    assert(!plan.contains("SortMergeJoin"), "df/stats tables must broadcast")
  }

  test("hardNegatives: top-k nearest with a DIFFERENT label, corpus streamed once") {
    val out = Queries.hardNegatives(spark, sf)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.map(_._1).distinct.length == 8, "one group per anchor")
    assert(rows.groupBy(_._1).forall(_._2.length == 3), "k=3 per anchor")
    // no mined negative may share its anchor's label
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall { case (a, v, _, _) => labels(a) != labels(v) },
      "hard negative sharing the anchor's label")
    // within each anchor, scores descend with rank
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._4).map(_._3)
      assert(byRank.sameElements(byRank.sorted.reverse))
    }
    // plan: anchors broadcast against ONE corpus scan, bounded-heap top-k
    // (fresh DF — a collected AQE plan string appends the initial plan,
    // double-counting every scan)
    val plan = Queries.hardNegatives(spark, sf).queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size <= 2,
      "corpus must stream once (plus the broadcast anchor scan)")
    assert(plan.contains("TopKPerKey"), "per-anchor top-k must be the bounded-heap operator")
  }

  test("semantic_search returns a descending, bounded cosine ranking over documents") {
    val out = Queries.semanticSearch(spark, sf).collect()
    assert(out.length == 10, "top-10 contract")
    val sims = out.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted.reverse), "must be sorted by cos_sim desc")
    assert(sims.forall(s => s >= -1e-9 && s <= 1.0 + 1e-9), "cosine must be in [0,1] for count vectors")
    // every hit must actually share at least one hashed query dim (dot > 0)
    assert(sims.forall(_ > 0.0), "only docs sharing a query dim can appear")
  }

  test("mmrRerank suppresses near-duplicate hits that plain top-k keeps") {
    // corpus: three exact clones of the query direction, one
    // orthogonal-ish doc. Plain top-3 = the three clones; MMR must
    // swap a clone out for the diverse doc by rank 2.
    def v(parts: (Int, Float)*): Array[Float] = {
      val a = new Array[Float](64)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val clone = v(0 -> 1.0f, 1 -> 0.1f)
    val corpus = Seq(
      (1L, clone), (2L, clone), (3L, clone),
      (4L, v(5 -> 1.0f, 0 -> 0.2f)) // low rel, but diverse
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(v(0 -> 1.0f))).toDF("q_vec")
    val out = Search.mmrRerank(corpus, q, "embedding", "q_vec", "vec_id",
      k = 3, poolSize = 4, lambda = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), "ranks 1..3")
    assert(out(0)._2 == 1L, "first pick is pure relevance, tie to min id")
    assert(out(1)._2 == 4L,
      s"second pick must be the diverse doc, not a clone: $out")
    // a clone's mmr at step 2 is 0.3*rel - 0.7*1.0 << the diverse doc's
    assert(out(1)._4 < out(1)._3, "picked mmr reflects the redundancy penalty")
    // greedy is deterministic and ordered by rank
    val again = Search.mmrRerank(corpus, q, "embedding", "q_vec", "vec_id",
      k = 3, poolSize = 4, lambda = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == again.toSeq)
  }
}
