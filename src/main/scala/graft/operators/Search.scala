package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Batch search operators: vector KNN, BM25 full-text, hybrid RRF fusion.
  *
  * Spark-first re-expression of the reference's hybrid search
  * (reference: store.py:261 `Store.search`, vector leg store.py:313,
  * FTS leg store.py:197, fusion server.py:228-238).
  *
  * Scale design:
  *  - the query side (one vector / a handful of terms) is always the
  *    broadcast side; the corpus is never collected or re-shuffled;
  *  - global top-k goes through `orderBy(...).limit(k)` which Spark
  *    executes as TakeOrderedAndProject (per-partition heap + driver
  *    merge of k rows — no full sort shuffle);
  *  - per-group top-k is the bounded-heap [[graft.plans.TopK]]
  *    operator, never a self-join or a sorted window;
  *  - every BM25 scorer over a token table (plain, weighted, phrase,
  *    RM3, per-group) runs on one pivoted body: ONE shuffle of the
  *    token table for doc length and per-term tf; the term statistics
  *    (df per query term, N / avgdl per corpus or group) are tiny
  *    aggregates joined back by broadcast; and [[bm25Term]] is the one
  *    BM25 formula, shared with the persisted-index probe ([[Fts]]).
  */
object Search {

  /** Brute-force cosine top-k against a one-row query DataFrame.
    *
    * `queryDf` must have a single row holding `queryVecCol`; it is
    * explicitly broadcast so the plan is a broadcast nested-loop over
    * the corpus scan — the exact-search baseline at any corpus size.
    */
  def knnTopK(
      corpus: DataFrame,
      queryDf: DataFrame,
      corpusVec: String,
      queryVec: String,
      idCol: String,
      k: Int,
      scoreName: String = "cos_sim"
  ): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val scored = corpus
      .crossJoin(broadcast(queryDf))
      .withColumn(scoreName, VectorOps.cosineFastRounded(col(corpusVec), col(queryVec)))
      .drop(queryVec)
    scored.orderBy(col(scoreName).desc, col(idCol)).limit(k)
  }

  /** Per-group cosine top-k via window row_number (no self-join). */
  def knnTopKPerGroup(
      corpus: DataFrame,
      queryDf: DataFrame,
      corpusVec: String,
      queryVec: String,
      idCol: String,
      groupCol: String,
      k: Int,
      scoreName: String = "cos_sim"
  ): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val scored = corpus
      .crossJoin(broadcast(queryDf))
      .withColumn(scoreName, VectorOps.cosineFastRounded(col(corpusVec), col(queryVec)))
      .select(groupCol, idCol, scoreName)
    // bounded-heap custom operator: same ranks as the window idiom
    // (ordering is total via the id tie-break), no per-partition sort
    graft.plans.TopK
      .perKey(scored, Seq(groupCol), Seq((scoreName, false), (idCol, true)), k)
      .select(col(groupCol), col(idCol), col(scoreName), col("rk"))
  }

  /** Batch KNN: top-k per query for a whole DataFrame of query vectors
    * — the batch-retrieval workload (offline eval, hard-negative
    * mining). The query set broadcasts; per-query top-k is a window
    * row_number, so corpus rows stream once through one join.
    */
  def knnBatch(
      corpus: DataFrame,
      queries: DataFrame,
      corpusVec: String,
      queryVec: String,
      corpusId: String,
      queryId: String,
      k: Int,
      scoreName: String = "cos_sim",
      excludeSelf: Boolean = false
  ): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val joined = corpus.crossJoin(broadcast(queries))
    val scored = (if (excludeSelf) joined.filter(col(corpusId) =!= col(queryId)) else joined)
      .withColumn(scoreName, VectorOps.cosineFastRounded(col(corpusVec), col(queryVec)))
      .select(queryId, corpusId, scoreName)
    graft.plans.TopK
      .perKey(scored, Seq(queryId), Seq((scoreName, false), (corpusId, true)), k)
      .select(col(queryId), col(corpusId), col(scoreName), col("rk"))
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein '98)
    * diversified re-ranking — the serving-path step between retrieval
    * and the context window: from a relevance-ranked candidate pool,
    * greedily pick results that balance relevance against redundancy
    * with what's already picked:
    *
    *   step 1: argmax rel;   step j: argmax λ·rel − (1−λ)·max_{s∈S} sim(·,s)
    *
    * (ties to the lowest id; the first pick carries its raw relevance
    * as its mmr score). Near-duplicate hits — which a plain top-k is
    * FULL of on a deduplicated-imperfectly corpus — get suppressed in
    * favor of coverage.
    *
    * Scale shape: the DISTRIBUTED part is the candidate generation
    * (any ANN/BM25 top-`poolSize` — here the exact scan);
    * the greedy itself is O(poolSize²·dim) over a BOUNDED pool, a
    * driver artifact by construction (same class as the fbDocs RM3
    * feedback rows: collecting it is the honest shape, not a
    * scalability leak). All similarity arithmetic is rounded like the
    * rest of the cosine stack, so the greedy is cross-engine exact.
    */
  def mmrRerank(
      corpus: DataFrame,
      queryDf: DataFrame,
      corpusVec: String,
      queryVec: String,
      idCol: String,
      k: Int = 5,
      poolSize: Int = 20,
      lambda: Double = 0.7
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pool = knnTopK(corpus, queryDf, corpusVec, queryVec, idCol, poolSize)
      .select(col(idCol), col(corpusVec), col("cos_sim"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    def cos5(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double, Double)]
    var remaining = pool.toBuffer
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, emb, rel) =>
        val mmr =
          if (selected.isEmpty) rel
          else lambda * rel - (1 - lambda) * selected.map(s => cos5(emb, s._2)).max
        (id, emb, rel, mmr)
      }
      val pick = scored.minBy { case (id, _, _, m) => (-m, id) }
      selected += pick
      remaining = remaining.filterNot(_._1 == pick._1)
    }
    selected.zipWithIndex
      .map { case ((id, _, rel, mmr), i) =>
        ((i + 1).toLong, id, rel,
          BigDecimal(mmr).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toSeq.toDF("rk", idCol, "rel", "mmr")
  }

  /** FACETED BM25: top-k per group with PER-GROUP corpus statistics —
    * each library/source is scored as its own sub-corpus (its own N,
    * avgdl, df), which is the correct semantics when groups differ in
    * size and vocabulary (a global-idf ranking would let a large
    * group's term statistics distort a small group's ordering). The
    * grouped-search face of the reference's library filter: one query,
    * every library's best hits.
    *
    * Shape at scale: [[bm25Pivot]] keyed by (group, doc) — one
    * co-partitioned shuffle; per-group stats are O(groups × query
    * terms) and broadcast; per-group top-k is the bounded-heap
    * operator.
    */
  def bm25PerGroup(
      tokens: DataFrame,
      idCol: String,
      groupCol: String,
      queryTerms: Seq[String],
      k: Int
  ): DataFrame = {
    val scored = bm25Pivot(tokens, idCol, Seq(groupCol), queryTerms.map(_ -> None))
      .select(col(groupCol), col(idCol), round(col("score"), 5).as("bm25"))
    graft.plans.TopK
      .perKey(scored, Seq(groupCol), Seq(("bm25", false), (idCol, true)), k)
      .select(col(groupCol), col(idCol), col("bm25"), col("rk"))
  }

  /** Hard-negative mining for contrastive training (SimCSE/DPR-style):
    * for every anchor, the `k` most-cosine-similar corpus vectors with
    * a DIFFERENT label — the near-misses a contrastive loss learns the
    * most from. Same plan shape as [[knnBatch]] (anchors broadcast, the
    * corpus streams ONCE, bounded-heap per-anchor top-k), with the
    * label inequality applied BEFORE the distance math so in-class rows
    * never reach the heap. At 100 TB: the corpus-side scan is the only
    * large input; no shuffle carries vectors.
    */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      corpusVec: String,
      anchorVec: String,
      corpusId: String,
      anchorId: String,
      corpusLabel: String,
      anchorLabel: String,
      k: Int
  ): DataFrame = {
    graft.plans.GraftFunctions.register(corpus.sparkSession)
    val scored = corpus.crossJoin(broadcast(anchors))
      .filter(col(corpusLabel) =!= col(anchorLabel))
      .withColumn("cos_sim", VectorOps.cosineFastRounded(col(corpusVec), col(anchorVec)))
      .select(anchorId, corpusId, "cos_sim")
    graft.plans.TopK
      .perKey(scored, Seq(anchorId), Seq(("cos_sim", false), (corpusId, true)), k)
      .select(col(anchorId), col(corpusId), col("cos_sim"), col("rk"))
  }

  /** BM25 scores for every document matching at least one query term.
    *
    * @param tokens  DataFrame of (idCol, term) — one row per token
    *                occurrence (pre-exploded so it can be reused).
    * @return (idCol, score) for matching docs, unrounded.
    */
  def bm25Scores(tokens: DataFrame, idCol: String, queryTerms: Seq[String]): DataFrame =
    bm25Pivot(tokens, idCol, Nil, queryTerms.map(_ -> None))

  /** One query term's BM25 contribution (k1 = 1.2, b = 0.75, as every
    * DuckDB twin writes them) over the per-doc `dl` and the corpus `n`
    * / `avgdl` columns — the one idf × tfNorm expression every BM25
    * scorer and the FTS probe share. A `weight` multiplies the idf
    * first, `(w · idf) · tfNorm`, so weighted and unweighted scores keep
    * their plans.
    */
  private[operators] def bm25Term(tf: Column, df: Column, weight: Option[Double] = None): Column = {
    val (k1, b) = (1.2, 0.75)
    val idf = log(lit(1.0) + (col("n") - df + 0.5) / (df + 0.5))
    val tfNorm = tf * lit(k1 + 1) /
      (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    when(tf > 0, weight.fold(idf)(w => lit(w) * idf) * tfNorm).otherwise(lit(0.0))
  }

  /** The one pivoted BM25 body over a token table: (groups…, id, score)
    * for every doc matching a query term, unrounded, each term's
    * contribution optionally weighted. ONE shuffle of the token table —
    * doc length and a per-term tf pivot in a single map-side-combined
    * aggregation keyed by (groups…, doc) — then the stats (N, avgdl, df
    * per term; per group, or one corpus row for `groups` = Nil), tiny
    * and broadcast back. Pivot columns are named by POSITION over the
    * distinct terms (a repeated term counts once, with its first
    * weight); no term scores no doc.
    */
  private def bm25Pivot(
      tokens: DataFrame,
      idCol: String,
      groups: Seq[String],
      termWeights: Seq[(String, Option[Double])]
  ): DataFrame = {
    val keys = (groups :+ idCol).map(col)
    val terms = termWeights.distinctBy(_._1)
    if (terms.isEmpty) return tokens.select(keys: _*).limit(0).withColumn("score", lit(0.0))
    val tfCols = terms.indices.map(i => s"tf_$i")
    val perDocAggs = count(lit(1)).cast("double").as("dl") +:
      terms.zip(tfCols).map { case ((t, _), c) =>
        count(when(col("term") === t, true)).cast("double").as(c)
      }
    val perDoc = tokens.groupBy(keys: _*).agg(perDocAggs.head, perDocAggs.tail: _*)
    val statAggs = count(lit(1)).cast("double").as("n") +: avg("dl").as("avgdl") +:
      tfCols.map(c => count(when(col(c) > 0, true)).cast("double").as(s"df_$c"))
    val stats = perDoc.groupBy(groups.map(col): _*).agg(statAggs.head, statAggs.tail: _*)
    val matched = perDoc.filter(tfCols.map(c => col(c) > 0).reduce(_ || _))
    val contribs = terms.zip(tfCols).map { case ((_, w), c) => bm25Term(col(c), col(s"df_$c"), w) }
    (if (groups.isEmpty) matched.crossJoin(broadcast(stats))
     else matched.join(broadcast(stats), groups))
      .select(keys :+ contribs.reduce(_ + _).as("score"): _*)
  }

  /** BM25 top-k with the canonical rounded score. */
  def bm25TopK(
      tokens: DataFrame,
      idCol: String,
      queryTerms: Seq[String],
      k: Int
  ): DataFrame =
    bm25Scores(tokens, idCol, queryTerms)
      .withColumn("bm25", round(col("score"), 5))
      .select(col(idCol), col("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)

  /** Two-stage retrieve-then-RERANK with the checked-in CROSS-ENCODER
    * ([[graft.operators.Featurize.crossEncoderScorer]]): BM25
    * retrieval cuts the corpus to a bounded `pool`, then the model
    * scores each (query, document) pair JOINTLY — query and document
    * tokens attend to each other, the interaction the bi-encoder
    * tower split gives up for indexability. The standard production
    * serving shape: the O(L²) attention runs `pool` times per query,
    * never corpus-times; scoring is a `mapPartitions` with one model
    * session per partition (the ONNX-session seam — an
    * externally-trained reranker drops in by replacing the artifact).
    * Output (id, bm25, ce_score) ranked by the model, ties by id.
    */
  def crossEncoderRerank(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k: Int = 10,
      pool: Int = 20
  ): DataFrame =
    rerankWithScorer(docs, textCol, idCol, queryTerms, k, pool,
      graft.operators.Featurize.crossEncoderScorer(), round5 = true)

  /** QUANTIZED-INTEGER cross-encoder rerank — the same
    * retrieve-then-rerank pipeline with
    * [[graft.operators.Featurize.quantCrossScorer]]: the joint score
    * is an exact dyadic rational (integer / 2^12), so NO rounding is
    * applied (there is nothing to normalize cross-engine — the twin
    * lands the identical bits) and the (score DESC, id) ordering is
    * integer-backed and deterministic on both engines.
    */
  def quantCrossRerank(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k: Int = 10,
      pool: Int = 20
  ): DataFrame =
    rerankWithScorer(docs, textCol, idCol, queryTerms, k, pool,
      graft.operators.Featurize.quantCrossScorer(), round5 = false)

  private def rerankWithScorer(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k: Int,
      pool: Int,
      mkScorer: () => (String, String) => Double,
      round5: Boolean
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tokens = docs
      .select(col(idCol), explode(graft.functions.TextOps.tokenize(col(textCol))).as("term"))
    val cand = bm25TopK(tokens, idCol, queryTerms, pool)
      .join(docs.select(col(idCol), col(textCol)), idCol)
    val queryText = queryTerms.mkString(" ")
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("bm25", DoubleType, nullable = false),
      StructField("ce_score", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    cand.mapPartitions { rows =>
      val scorer = mkScorer()
      rows.map { r =>
        val score = scorer(queryText, r.getString(2))
        Row(r.getLong(0), r.getDouble(1),
          if (round5) BigDecimal(score).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
          else score)
      }
    }(enc)
      .orderBy(col("ce_score").desc, col(idCol))
      .limit(k)
  }

  /** Term-WEIGHTED BM25 scores — [[bm25Scores]] with a per-term weight
    * multiplier on each contribution (the scoring half of RM3 query
    * expansion). Same single-shuffle pivoted shape; weights are plan
    * literals.
    */
  def bm25WeightedScores(tokens: DataFrame, idCol: String, termWeights: Seq[(String, Double)]): DataFrame =
    bm25Pivot(tokens, idCol, Nil, termWeights.map { case (t, w) => t -> Some(w) })

  /** RM3 pseudo-relevance-feedback query expansion (Lavrenko &
    * Croft 2001 relevance models; the Anserini/Indri default): run the
    * original query, build a relevance model from the top `fbDocs`
    * feedback documents, expand the query with the `fbTerms` heaviest
    * non-query terms, and rescore with the interpolated term weights —
    * original terms carry α/|Q| each, expansion terms share (1−α)
    * proportional to their renormalized RM1 mass
    * rm1(w) = Σ_d (tf_{w,d}/dl_d)·s_d / Σ_d s_d.
    *
    * Determinism contract (shared with the DuckDB twin): feedback
    * scores are the ROUND(…,5) round-1 scores; rm1 and the final
    * interpolated weights are ROUND(…,8) BEFORE selection and scoring,
    * so term selection can never diverge on an ulp; final scores are
    * ROUND(…,5) with (score DESC, id) ordering throughout.
    *
    * Scale shape: two single-shuffle scoring passes over the token
    * table plus one aggregation restricted to the fbDocs feedback docs
    * (broadcast semi-join on ≤ fbDocs ids). The collected artifacts
    * are the feedback doc list (≤ fbDocs rows) and the expansion terms
    * (≤ fbTerms rows) — bounded, independent of corpus size.
    */
  def rm3ExpandTopK(
      tokens: DataFrame,
      idCol: String,
      queryTerms: Seq[String],
      k: Int,
      fbDocs: Int = 10,
      fbTerms: Int = 5,
      alpha: Double = 0.5
  ): DataFrame = {
    val fb = bm25TopK(tokens, idCol, queryTerms, fbDocs).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val sSum = fb.map(_._2).sum
    val fbDf = tokens.sparkSession.createDataFrame(fb.toSeq).toDF("_fbid", "_s")

    val fbTok = tokens.join(
      broadcast(fbDf), col(idCol) === col("_fbid"), "inner")
    val fbDl = fbTok.groupBy(col(idCol)).agg(count(lit(1)).cast("double").as("_dl"))
    val rm1 = fbTok
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"), col("_s"))
      .agg(count(lit(1)).cast("double").as("_tf"))
      .join(broadcast(fbDl), idCol)
      .groupBy(col("term"))
      .agg(round(sum(col("_tf") / col("_dl") * col("_s")) / lit(sSum), 8).as("_w"))
      .orderBy(col("_w").desc, col("term"))
      .limit(fbTerms)
      .collect().map(r => (r.getString(0), r.getDouble(1)))

    val wSum = rm1.map(_._2).sum
    val qw = BigDecimal(alpha / queryTerms.size)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Degenerate feedback (no non-query terms / zero RM1 mass): fall
    // back to the unexpanded weighted query instead of dividing by 0.
    val expansion =
      if (wSum <= 0.0) Seq.empty[(String, Double)]
      else rm1.toSeq.map { case (t, w) =>
        t -> BigDecimal((1 - alpha) * w / wSum)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val weights = queryTerms.map(_ -> qw) ++ expansion
    bm25WeightedScores(tokens, idCol, weights)
      .withColumn("rm3", round(col("score"), 5))
      .select(col(idCol), col("rm3"))
      .orderBy(col("rm3").desc, col(idCol))
      .limit(k)
  }

  /** BM25 with an exact-phrase proximity boost: the FTS score plus
    * `boost · ln(1 + phrase occurrences)`. Phrase counting is the
    * native codegen'd [[graft.plans.PhrasePositions]] scan over the
    * same bound token arrays that feed the BM25 explode, so the text
    * is tokenized once; everything else keeps the single-shuffle BM25
    * shape.
    */
  def bm25PhraseTopK(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      phrase: Seq[String],
      k: Int,
      boost: Double = 0.5
  ): DataFrame = {
    val toks = docs.select(col(idCol), graft.functions.TextOps.tokenize(col(textCol)).as("_toks"))
    val tokens = toks.select(col(idCol), explode(col("_toks")).as("term"))
    val pc = toks.select(
      col(idCol),
      size(graft.functions.TextOps.phrasePositions(col("_toks"), phrase)).cast("double").as("_pc")
    )
    bm25Scores(tokens, idCol, queryTerms)
      .join(pc, Seq(idCol))
      .withColumn("bm25p", round(col("score") + lit(boost) * log(lit(1.0) + col("_pc")), 5))
      .select(col(idCol), col("bm25p"))
      .orderBy(col("bm25p").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank-fusion of two ranked legs on a shared id.
    *
    * Ranks are dense integers (window row_number over each leg's rounded
    * score), so the fused score is a sum of exact rationals — fully
    * deterministic. Missing legs contribute 0, matching the usual RRF
    * treatment (reference: server.py:228-238 hybrid docstring).
    *
    * Each leg is truncated to its top `maxLegSize` rows FIRST (a
    * TakeOrderedAndProject — per-partition heap, no sort shuffle), so
    * the global rank window that follows is provably bounded: without
    * the truncation an unlimited leg would funnel the whole corpus
    * through a single-partition sort. Ranks beyond maxLegSize contribute
    * < 1/(rrfK + maxLegSize) each — standard RRF truncation.
    */
  def rrfFuse(
      legA: DataFrame, // (id, scoreA) — already scored, higher = better
      legB: DataFrame, // (id, scoreB)
      idCol: String,
      scoreA: String,
      scoreB: String,
      k: Int,
      rrfK: Int = 60,
      maxLegSize: Int = 1000
  ): DataFrame = {
    require(maxLegSize >= k, s"maxLegSize $maxLegSize must be >= k $k")
    val la = legA.orderBy(col(scoreA).desc, col(idCol)).limit(maxLegSize)
    val lb = legB.orderBy(col(scoreB).desc, col(idCol)).limit(maxLegSize)
    val wA = Window.orderBy(col(scoreA).desc, col(idCol))
    val wB = Window.orderBy(col(scoreB).desc, col(idCol))
    val ra = la.withColumn("rk_a", row_number().over(wA).cast("long"))
    val rb = lb.withColumn("rk_b", row_number().over(wB).cast("long"))
    ra
      .join(rb, Seq(idCol), "full_outer")
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rk_a")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("rk_b")), lit(0.0)),
          6
        )
      )
      .select(col(idCol), col("rrf"), col("rk_a"), col("rk_b"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }
}
