package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization (SQ8) for embedding columns — the standard
  * 4× memory/IO compression for vector search (FAISS
  * `ScalarQuantizer.QT_8bit`-style, symmetric per-vector scaling):
  *
  *   scale  = max(|v_i|) / 127
  *   code_i = round(v_i / scale)  ∈ [-127, 127]   (int8)
  *
  * Search is ASYMMETRIC (query stays full-precision, like ADC): the
  * cosine against the dequantized vector `code * scale` equals the
  * cosine against the raw integer codes — the positive per-vector scale
  * cancels — so the approximate score needs no reconstruction at all.
  * At 100 TB the codes column is what you persist and scan (a quarter
  * of the float32 bytes); the exact re-rank touches full vectors only
  * for the tiny refined candidate set.
  *
  * Everything is deterministic element-wise arithmetic (floor(x+0.5)
  * round-half-up, no libm beyond sqrt in the final cosine), so the
  * whole probe has an exact DuckDB twin with NO fitted constants — the
  * contrast to IVF/PQ, whose twins need centroid literals.
  *
  * Reference anchor: store.py:274 (index hint) — quantization is the
  * other standard ANN memory lever next to IVF (A15) and PQ (C6).
  */
object Sq extends IndexMaintenance {

  /** Add (scale, codes) columns: per-row scale and int codes in
    * [-127, 127]. All-zero vectors get scale 0 and all-zero codes.
    * Pure narrow projection (one transform over the array) — no
    * shuffle, codegen-friendly HOFs.
    */
  def quantize(df: DataFrame, vecCol: String,
               scaleCol: String = "sq_scale", codesCol: String = "sq_codes"): DataFrame = {
    val dv = VectorOps.toDouble(col(vecCol))
    val s = array_max(transform(dv, x => abs(x))) / 127.0
    df.withColumn(scaleCol, s)
      .withColumn(codesCol,
        when(col(scaleCol) > 0,
          transform(dv, x => floor(x / col(scaleCol) + 0.5).cast("int")))
          .otherwise(transform(dv, _ => lit(0))))
  }

  /** Persisted IVF+SQ8 index: assign each vector to its IVF cell
    * (fitted centroids) and store ONLY (id, cluster, scale, codes),
    * partitioned by cluster — the index artifact is ~4× smaller than
    * the float32 vectors it covers AND partition-pruned at probe time,
    * compounding the two levers (scan nProbe/k of the corpus, at a
    * quarter of the bytes). Full-precision vectors stay in the BASE
    * table; the refine re-rank fetches them by id.
    *
    * `inlineVectors = true` writes the full-precision vector INTO the
    * sidecar next to the codes — the bytes-vs-jobs storage dial: the
    * layout grows from 0.25× to 1.25× the vector bytes, but the batch
    * probe becomes a SINGLE SCAN (no base-table join for the refine),
    * dropping from 7 to ≤4 warm driver jobs — the PQ layouts' shape
    * (ProbeJobCountSpec pins both points; PLANS.md documents the
    * trade). Default stays the small sidecar: at 100 TB the 4× smaller
    * index is usually worth 3 bounded driver stages.
    */
  def writeIvfSq(
      path: String,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      inlineVectors: Boolean = false): Unit =
    writeClustered(
      quantize(Ann.assign(df, vecCol, centroids), vecCol)
        .select(Seq(col(idCol), col("cluster"), col("sq_scale"), col("sq_codes")) ++
          (if (inlineVectors) Seq(col(vecCol)) else Nil): _*),
      path, "overwrite")

  /** Probe the persisted IVF+SQ8 layout ([[Ann.probe]]'s single/batch
    * contract): the cell-pruned scan reads the int8 CODES (a quarter of
    * the float32 bytes), the approximate cosine against the raw codes
    * (the per-vector scale cancels) prunes each query to `refine`
    * candidates, and ONLY that bounded set touches full vectors for
    * the exact re-rank — fetched from `base` by id (the shortlist
    * broadcasts; at scale a point lookup against a bucketed-by-id
    * base, not a second corpus pass), or read off the scan itself when
    * `base` is None (a layout written with `inlineVectors = true`:
    * one pruned scan, ≤4 warm batch jobs, identical results —
    * ProbeJobCountSpec).
    */
  def probeIvf(
      spark: SparkSession,
      path: String,
      base: Option[DataFrame],
      queries: DataFrame,
      queryVec: String,
      idCol: String,
      vecCol: String,
      cells: Seq[Int] = Nil,
      k: Int = 10,
      refine: Int = 40,
      queryId: String = "query_id"): DataFrame =
    Ann.probeScan(liveLayout(spark, path, idCol), queries, queryVec, queryId, vecCol, idCol,
      k, cells, None, Nil, codesShortlist(queryVec, refine, base))

  /** The SQ8 shortlist: approximate cosine of the raw int8 codes (the
    * per-vector scale cancels) cut to `refine` per query.
    */
  private def codesShortlist(queryVec: String, refine: Int, base: Option[DataFrame]) =
    Some(Ann.Shortlist("approx_sim",
      VectorOps.cosineFastRounded(col("sq_codes"), col(queryVec)), ascending = false,
      refine, base))

  /** Residual-quantized IVF+SQ8 (the FAISS IVF,SQ8 residual variant):
    * quantize `normalize(v) − centroid[cluster]` instead of `v`. On
    * CLUSTERED data the residual's dynamic range is a fraction of the
    * vector's, so the same 8 bits carry more within-cell precision.
    * Measured caveat (SqSpec): on this synthetic NEAR-ISOTROPIC corpus
    * the residual norm exceeds the unit-vector norm (cells aren't
    * tight), making plain [[probe]] ~1.6× more accurate — the variant
    * is provided because real embedding distributions ARE clustered,
    * and the honest measurement is part of the operator's contract.
    * The probe reconstructs `centroid + code·scale ≈ normalize(v)` and
    * ranks by cosine — reconstruction is needed here (the centroid
    * offset breaks the scale-cancellation the plain probe uses).
    * Everything stays oracle-expressible: centroid literals + the same
    * static SQ arithmetic, now over the difference.
    */
  def residualProbe(
      corpus: DataFrame,
      queryDf: DataFrame,
      centroids: Array[Array[Double]],
      corpusVec: String,
      queryVec: String,
      idCol: String,
      cells: Seq[Int],
      k: Int = 10,
      refine: Int = 40): DataFrame = {
    val centLit = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val assigned = Ann.assign(corpus, corpusVec, centroids)
      .withColumn("_cent", element_at(centLit, col("cluster") + 1))
      .withColumn("_nv", VectorOps.normalize(col(corpusVec)))
      .withColumn("_res", zip_with(col("_nv"), col("_cent"), (x, c) => x - c))
    val coded = quantize(assigned, "_res", "rs_scale", "rs_codes")
      .withColumn("_recon",
        zip_with(col("_cent"), col("rs_codes"), (c, q) => c + q.cast("double") * col("rs_scale")))
    Ann.probeScan(coded, queryDf, queryVec, "query_id", corpusVec, idCol, k, cells, None, Nil,
      Some(Ann.Shortlist("approx_sim", VectorOps.cosineRounded(col("_recon"), col(queryVec)),
        ascending = false, refine, None)))
  }

  /** Brute-force SQ probe with exact re-rank: approximate cosine on the
    * int8 codes prunes the corpus to `refine` candidates, then the exact
    * cosine on the raw vectors re-ranks those to top `k` — the flat
    * [[probeIvf]] over the whole corpus. Output carries both scores so
    * the approximation error is observable per hit.
    */
  def probe(
      corpus: DataFrame,
      queryDf: DataFrame,
      corpusVec: String,
      queryVec: String,
      idCol: String,
      k: Int = 10,
      refine: Int = 40): DataFrame =
    Ann.probeScan(quantize(corpus, corpusVec), queryDf, queryVec, "query_id", corpusVec, idCol,
      k, Nil, None, Nil, codesShortlist(queryVec, refine, None))
}
