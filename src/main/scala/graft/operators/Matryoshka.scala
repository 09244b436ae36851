package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Matryoshka-representation probe (MRL, Kusupati et al. 2022,
  * arXiv:2205.13147): rank candidates on the FIRST `dPrefix`
  * dimensions of the embedding, then exact-rerank the bounded
  * candidate set on the full vector.
  *
  * MRL-trained encoders pack coarse semantics into the leading
  * coordinates, so a dim-prefix is itself a usable embedding — the
  * adaptive-retrieval deployment in the paper is exactly this
  * two-stage shape (low-dim shortlist, full-dim re-rank). Next to the
  * repo's other compression levers the trade is: SQ8 ([[Sq]]) keeps
  * all dims at 1/4 the bytes, BQ ([[Bq]]) keeps sign bits at 1/32,
  * MRL keeps `dPrefix`/dim of the dims exactly (here 16/64 = 1/4) —
  * but unlike codes a prefix IS a vector, so the shortlist column
  * needs no decode, composes with every downstream vector op, and the
  * same stored column serves several precision tiers (any d' ≤
  * dPrefix is one `slice` away; no re-encode to change operating
  * point).
  *
  * At 100 TB the prefix is what you persist and scan as the candidate
  * sidecar (optionally cluster-partitioned like [[Sq.writeIvfSq]] /
  * [[Bq.writeIvfBq]] — the layout pattern is identical, `slice` in
  * place of the encode expression); full vectors are touched only for
  * the `refine`-bounded re-rank. Everything is deterministic `slice` +
  * fold arithmetic, so the whole probe has an exact DuckDB twin with
  * no fitted constants.
  *
  * Reference anchor: store.py:313 (vector query leg) — the serving
  * shape this accelerates.
  */
object Matryoshka extends IndexMaintenance {

  /** Persisted IVF+MRL layout: (id, cluster, mrl_prefix) partitioned by
    * cluster — the C20 doc's own scale note made real: the dim-prefix
    * IS the persisted candidate sidecar at 100 TB (dPrefix/dim of the
    * bytes, 16/64 = 1/4 here), and unlike PQ/SQ/BQ codes the stored
    * column is itself a vector, so any d' ≤ dPrefix precision tier is
    * one further `slice` away with no re-encode. Lifecycle (append /
    * tombstone delete / compact) comes from [[IndexMaintenance]] —
    * the write shares [[writeClustered]]'s cluster-hash exchange, a
    * delta is `writeClustered(assign+slice, path, "append")`, exactly
    * the [[Ann.appendToIndex]] shape, and delete/compact are the
    * clustered-layout verbs of [[Ann]]. Full-precision vectors stay in
    * the base table; the refine re-rank fetches them by id.
    *
    * `inlineVectors = true` stores the full vector next to the prefix —
    * the bytes-vs-jobs dial (see [[Sq.writeIvfSq]]): layout grows from
    * dPrefix/dim to 1 + dPrefix/dim of the vector bytes; the batch
    * probe drops the base-table refine join (single scan, ≤4 warm
    * jobs — ProbeJobCountSpec).
    */
  def writeIvfMrl(
      path: String,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      dPrefix: Int = 16,
      inlineVectors: Boolean = false): Unit =
    writeClustered(prefixRows(df, vecCol, idCol, centroids, dPrefix, inlineVectors),
      path, "overwrite")

  /** Incremental maintenance — the [[Ann.appendToIndex]] shape for the
    * prefix sidecar: assign ONLY the arriving batch to the existing
    * centroids, slice its prefixes, append into the partitioned layout
    * through the shared cluster-exchanged write. No rebuild; probes see
    * the delta at the next read. Tombstone delete and compaction are
    * [[Ann.deleteFromIndex]] / [[Ann.compact]].
    */
  def appendToIndex(
      path: String,
      delta: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      dPrefix: Int = 16): Unit =
    writeClustered(prefixRows(delta, vecCol, idCol, centroids, dPrefix, inlineVectors = false),
      path, "append")

  /** The persisted rows (id, cluster, mrl_prefix[, vec]) of `df`. */
  private def prefixRows(df: DataFrame, vecCol: String, idCol: String,
                         centroids: Array[Array[Double]], dPrefix: Int,
                         inlineVectors: Boolean): DataFrame =
    Ann.assign(df, vecCol, centroids)
      .select(Seq(col(idCol), col("cluster"),
        slice(col(vecCol), 1, dPrefix).as("mrl_prefix")) ++
        (if (inlineVectors) Seq(col(vecCol)) else Nil): _*)

  /** Probe the persisted IVF+MRL layout ([[Ann.probe]]'s single/batch
    * contract): the cell-pruned scan reads the PREFIX sidecar, the
    * prefix cosine prunes each query to `refine` candidates, and the
    * exact full-dim re-rank reads the vectors from `base` by id (None:
    * the layout was written with `inlineVectors = true`) — IVF pruning
    * compounded with the prefix's 4× byte reduction, the same two-lever
    * shape as [[Sq.probeIvf]] / [[Bq.probeIvf]]. The stored prefix
    * elements are bit-identical to `slice(vec, 1, dPrefix)` of the base
    * vector (no quantization), so the whole probe stays exactly
    * DuckDB-twinnable given the fitted IVF centroids.
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
      dPrefix: Int = 16,
      k: Int = 10,
      refine: Int = 40,
      queryId: String = "query_id"): DataFrame =
    Ann.probeScan(liveLayout(spark, path, idCol), queries, queryVec, queryId, vecCol, idCol,
      k, cells, None, Nil, prefixShortlist(col("mrl_prefix"), queryVec, dPrefix, refine, base))

  /** The MRL shortlist: cosine of the stored (or sliced) `prefix`
    * against the query's first `dPrefix` dims, cut to `refine` per query.
    */
  private def prefixShortlist(prefix: org.apache.spark.sql.Column, queryVec: String,
                              dPrefix: Int, refine: Int, base: Option[DataFrame]) =
    Some(Ann.Shortlist("approx_sim",
      VectorOps.cosineFastRounded(prefix, slice(col(queryVec), 1, dPrefix)),
      ascending = false, refine, base))

  /** Two-stage probe: prefix-cosine prune to `refine` candidates, exact
    * full-dim cosine re-rank to top `k` — the flat [[probeIvf]] over the
    * whole corpus, slicing the prefix in place. Output carries both
    * scores so the prefix approximation error is observable per hit.
    */
  def probe(
      corpus: DataFrame,
      queryDf: DataFrame,
      corpusVec: String,
      queryVec: String,
      idCol: String,
      dPrefix: Int = 16,
      k: Int = 10,
      refine: Int = 40): DataFrame =
    Ann.probeScan(corpus, queryDf, queryVec, "query_id", corpusVec, idCol, k, Nil, None, Nil,
      prefixShortlist(slice(col(corpusVec), 1, dPrefix), queryVec, dPrefix, refine, None))
}
