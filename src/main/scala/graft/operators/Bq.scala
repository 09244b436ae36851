package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary quantization (1 bit per dimension) for embedding columns —
  * the compression tier BELOW SQ8 (C7): each dimension collapses to
  * its sign bit, every 64 dims pack into one long word (the test
  * corpus' 64-dim vectors take ONE; a 768-dim production embedding
  * takes 12 — the word count scales with ⌈dim/64⌉, nothing else
  * changes), and the candidate scan is pure integer bit work
  * (XOR + popcount per word), the cheapest distance a vector index
  * can compute. Sign agreement on the unit sphere is the
  * hyperplane-LSH argument (Charikar '02, axis-aligned planes):
  * hamming distance is a monotone-enough proxy for angle that a
  * bounded exact re-rank recovers the true top-k — the same refine
  * contract as [[Sq.probe]]/[[Pca.probe]].
  *
  * Scale shape: the packed columns are 8 bytes per 64 dims — 32×
  * smaller than the float32 embeddings — so the exhaustive candidate
  * scan reads ~3% of the raw bytes, XOR+popcount stays inside
  * whole-stage codegen with no branches, and only `refine` rows per
  * query touch full vectors (served from the base table by id; a
  * cluster layout co-locates them exactly as the SQ path does).
  * Everything is deterministic integer/IEEE arithmetic, so the whole
  * probe has an exact DuckDB twin with NO fitted constants (the twin
  * counts sign disagreements directly — packing-independent).
  *
  * Reference anchor: store.py:274 (index hint) — binary quantization
  * is the third standard ANN memory lever next to IVF (A15), PQ (C6)
  * and SQ8 (C7).
  */
object Bq extends IndexMaintenance {

  /** Packed words needed for `dim` dimensions. */
  def nWords(dim: Int): Int = (dim + 63) / 64

  /** Sign bits of dims [word·64, min(dim, word·64+64)) as one long:
    * bit (i mod 64) set iff v[i+1] > 0 (strict — zeros pack as 0,
    * matching the twin). A NATIVE loop expression
    * ([[graft.plans.PackSignBits]]), not 64 when/element_at terms: the
    * flat chain plans fine alone, but fused into the same codegen
    * stage as the IVF assignment it pushed `processNext` past
    * HotSpot's JIT bytecode ceiling and the whole write stage ran
    * interpreted — measured >25 min for `writeIvfBq` at 1M vectors
    * where the expression form takes seconds (see the expression's
    * doc for the full account).
    */
  def packWordExpr(v: Column, word: Int, dim: Int): Column =
    // coalesce: a fully-NULL vector packs as the all-zeros word (what
    // the when/element_at chain this replaced summed to), never a NULL
    // word — NULL would sort FIRST under the ascending hamming orderBy
    // and outrank every real vector (round-11 ADVICE)
    coalesce(
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.PackSignBits(
          org.apache.spark.sql.GraftBridge.expression(v), word, dim)),
      lit(0L))

  /** Single-word convenience for dim ≤ 64 (the registered queries'
    * shape).
    */
  def packExpr(v: Column, dim: Int = 64): Column = {
    require(dim <= 64, s"packExpr is the one-word form; use pack for dim=$dim")
    packWordExpr(v, 0, dim)
  }

  /** Add the packed-word columns `<prefix>0 … <prefix>{nWords−1}` —
    * a narrow projection; at scale these are the persisted index
    * artifact (id, cluster, words).
    */
  def pack(df: DataFrame, vecCol: String, prefix: String = "bq_w", dim: Int = 64): DataFrame =
    (0 until nWords(dim)).foldLeft(df) { (d, w) =>
      d.withColumn(s"$prefix$w", packWordExpr(col(vecCol), w, dim))
    }

  /** Σ popcount(a_w xor b_w) over the packed words. */
  def hammingExpr(prefixA: String, prefixB: String, dim: Int): Column =
    (0 until nWords(dim))
      .map(w => bit_count(col(s"$prefixA$w").bitwiseXOR(col(s"$prefixB$w"))))
      .reduce(_ + _).cast("long")

  /** Persisted IVF+BQ layout: (id, cluster, bq_w*) partitioned by
    * cluster — 8 bytes per 64 dims plus the partition key; the probe
    * compounds partition pruning with the popcount scan. Full vectors
    * stay in the base table.
    *
    * `rot` packs the ROTATED sign bits ([[rotateCol]]): cluster
    * assignment stays in the ORIGINAL space (same fitted centroids and
    * partition pruning); only the packed words change — the layout
    * [[probeIvf]] reads with the same `rot`.
    *
    * `inlineVectors = true` stores the full vector next to the packed
    * words — the bytes-vs-jobs dial (see [[Sq.writeIvfSq]]): the layout
    * grows from 1/32 to ~1.03× the vector bytes; the batch probe drops
    * the base-table refine join (single scan, ≤4 warm jobs —
    * ProbeJobCountSpec).
    */
  def writeIvfBq(
      path: String,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      rot: Option[Array[Array[Double]]] = None,
      dim: Int = 64,
      inlineVectors: Boolean = false): Unit = {
    val assigned = Ann.assign(df, vecCol, centroids)
    // unrotated, the words pack the vector column itself (no `_rv` alias)
    writeClustered(
      rot.fold(pack(assigned, vecCol, dim = dim))(_ => packed(assigned, vecCol, "bq_w", rot, dim))
        .select(col(idCol) +: col("cluster") +:
          ((0 until nWords(dim)).map(w => col(s"bq_w$w")) ++
            (if (inlineVectors) Seq(col(vecCol)) else Nil)): _*),
      path, "overwrite")
  }

  /** Exact top-k via hamming-candidate scan + cosine re-rank: scan
    * the packed codes for the `refine` hamming-nearest candidates
    * (ties broken by id — deterministic cut), then exact cosine over
    * that bounded set — the flat [[probeIvf]] over the whole corpus,
    * packing in place. Output (id, hamming, cos_sim) ranked by the
    * exact score.
    */
  def probe(
      corpus: DataFrame,
      queryDf: DataFrame,
      vecCol: String,
      queryVec: String,
      idCol: String,
      k: Int = 10,
      refine: Int = 40,
      dim: Int = 64
  ): DataFrame = flat(corpus, queryDf, vecCol, queryVec, idCol, None, k, refine, dim)

  // ── Rotated BQ (isotropization pre-step) ─────────────────────────────

  /** Seeded random orthogonal rotation: Gram-Schmidt on a seeded
    * Gaussian matrix (Haar-ish, deterministic under the seed). Pure
    * function of (dim, seed) — no fitting, so twins can regenerate it
    * and SQL can inline it.
    *
    * Why BQ wants one, and what was MEASURED (BqSpec + the round-11
    * structured study): sign bits discriminate only where the
    * informative variance is spread across coordinates. On an
    * AXIS-ALIGNED low-rank corpus (signal in 4 of 64 dims, the rest
    * near-zero jitter) plain BQ spends 60 bits on coin flips and
    * scores recall 0.0; the rotation mixes the signal into every bit
    * and scores 0.9 — the OPQ variance-balancing argument, measured.
    * On generic cones the rotation DIVERSIFIES sign patterns (276 →
    * 399/399 distinct words) but recall ties plain, and under IVF
    * pruning it cannot add within-cell resolution — it preserves
    * every angle by construction, and 1 bit/dim is the binding
    * constraint there (use SQ8 or larger refine instead). Zero
    * angular distortion means composing it is never worse than plain
    * packing.
    */
  def rotationMatrix(dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val m = Array.fill(dim, dim)(rnd.nextGaussian())
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < i) {
        var dot = 0.0
        var k = 0
        while (k < dim) { dot += m(i)(k) * m(j)(k); k += 1 }
        k = 0
        while (k < dim) { m(i)(k) -= dot * m(j)(k); k += 1 }
        j += 1
      }
      var nrm = 0.0
      var k = 0
      while (k < dim) { nrm += m(i)(k) * m(i)(k); k += 1 }
      nrm = math.sqrt(nrm)
      k = 0
      while (k < dim) { m(i)(k) /= nrm; k += 1 }
      i += 1
    }
    m
  }

  /** Rotated vector column via the native [[graft.plans.MatVec]] loop
    * (matrix as a codegen reference object).
    */
  def rotateCol(v: Column, rot: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.MatVec(
        org.apache.spark.sql.GraftBridge.expression(v), rot))

  /** [[probe]] with the rotation pre-step: hamming candidates from the
    * ROTATED sign bits, exact cosine re-rank on the ORIGINAL vectors
    * (rotation preserves cosine mathematically; re-ranking on the
    * untouched originals keeps the score column bit-identical to the
    * plain probes').
    */
  def probeRotated(
      corpus: DataFrame,
      queryDf: DataFrame,
      vecCol: String,
      queryVec: String,
      idCol: String,
      rot: Array[Array[Double]],
      k: Int = 10,
      refine: Int = 40,
      dim: Int = 64
  ): DataFrame = flat(corpus, queryDf, vecCol, queryVec, idCol, Some(rot), k, refine, dim)

  private def flat(corpus: DataFrame, queryDf: DataFrame, vecCol: String, queryVec: String,
                   idCol: String, rot: Option[Array[Array[Double]]], k: Int, refine: Int,
                   dim: Int): DataFrame =
    Ann.probeScan(packed(corpus, vecCol, "bq_w", rot, dim),
      packed(queryDf, queryVec, "_qw", rot, dim), queryVec, "query_id", vecCol, idCol, k,
      Nil, None, Nil, hammingShortlist(refine, dim, None))

  /** `df` plus the sign words of `vecCol` — of its rotation when `rot`
    * is given — as `<prefix>0 …`.
    */
  private def packed(df: DataFrame, vecCol: String, prefix: String,
                     rot: Option[Array[Array[Double]]], dim: Int): DataFrame =
    pack(df.withColumn("_rv", rot.fold(col(vecCol))(rotateCol(col(vecCol), _))),
      "_rv", prefix, dim).drop("_rv")

  /** The BQ shortlist: hamming of the layout's words against the
    * query's, cut to `refine` per query (ties by id).
    */
  private def hammingShortlist(refine: Int, dim: Int, base: Option[DataFrame]) =
    Some(Ann.Shortlist("hamming", hammingExpr("bq_w", "_qw", dim), ascending = true,
      refine, base))

  /** Probe a persisted IVF+BQ layout ([[Ann.probe]]'s single/batch
    * contract): the cell-pruned scan reads the packed sign words (1/32
    * of the float32 bytes), XOR+popcount hamming against each query's
    * pack cuts to `refine` candidates (ties by id), and the exact
    * cosine re-rank reads the vectors from `base` by id (None: the
    * layout was written with `inlineVectors = true`). `rot` serves a
    * layout [[writeIvfBq]] packed with it: cells still come from the
    * ORIGINAL query, only the query's pack is rotated — computed once
    * per query row on the broadcast side with the same [[rotateCol]] /
    * [[packWordExpr]] chain the write used. Rotation preserves cosine,
    * so the re-rank column is bit-identical to the plain probes'.
    */
  def probeIvf(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      base: Option[DataFrame],
      queries: DataFrame,
      queryVec: String,
      idCol: String,
      vecCol: String,
      cells: Seq[Int] = Nil,
      rot: Option[Array[Array[Double]]] = None,
      k: Int = 10,
      refine: Int = 40,
      dim: Int = 64,
      queryId: String = "query_id"): DataFrame =
    Ann.probeScan(liveLayout(spark, path, idCol), packed(queries, queryVec, "_qw", rot, dim),
      queryVec, queryId, vecCol, idCol, k, cells, None, Nil, hammingShortlist(refine, dim, base))
}
