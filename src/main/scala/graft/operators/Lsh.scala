package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Random-hyperplane (sign) LSH for cosine similarity — the bucketed
  * alternative to the IVF quantizer ([[Ann]]): no training pass at all,
  * buckets are pure per-row expressions, and similar vectors collide
  * with probability 1 - θ/π per plane.
  *
  * Hyperplanes are small-integer-valued and generated from a fixed
  * formula, so bucketing is deterministic across runs and engines —
  * no stored model artifact.
  *
  * Scale path: groupBy/join on the bucket key only (candidate pruning
  * before any distance math); multi-probe flips each bit of the query
  * bucket so one query probes nPlanes+1 buckets instead of scanning
  * the corpus.
  */
object Lsh {

  /** Deterministic integer hyperplane i over `dim` dims.
    *
    * Weights are md5-derived (first 16 bits of md5("i:d"), mod 7,
    * centered to [-3, 3]) — an i.i.d.-like small-int family with no
    * algebraic structure, so planes are pairwise distinct and every
    * signature bit is informative. Computed driver-side once; the same
    * literals are inlined into the DuckDB oracle SQL, which is what
    * makes this index family hash-verifiable end-to-end.
    */
  private[graft] def plane(i: Int, dim: Int): Seq[Int] =
    (0 until dim).map { d =>
      val h = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s"$i:$d".getBytes("UTF-8"))
      val v = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
      (v % 7) - 3
    }

  /** Bucket signature: one '0'/'1' char per hyperplane (sign of the
    * projection) — one fused codegen'd loop via the native
    * [[graft.plans.HyperplaneSig]] expression (planes as a reference
    * object, no per-plane interpreted HOF pass).
    */
  def bucket(vecCol: Column, dim: Int, nPlanes: Int): Column = {
    val planes = Array.tabulate(nPlanes)(i => plane(i, dim).toArray)
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.HyperplaneSig(
        org.apache.spark.sql.GraftBridge.expression(vecCol), planes))
  }

  /** The composed-HOF twin of [[bucket]] — interpreted (codegen
    * fallback), kept as the cross-check reference for specs.
    */
  def bucketHof(vecCol: Column, dim: Int, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { i =>
      val h = array(plane(i, dim).map(lit): _*)
      val proj = aggregate(
        zip_with(vecCol, h, (x, w) => x.cast("double") * w.cast("double")),
        lit(0.0),
        (acc, x) => acc + x
      )
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** All buckets a query should probe: its own plus each single-bit
    * flip (multi-probe — neighbors straddling one hyperplane are still
    * found).
    */
  def probeBuckets(signature: String): Seq[String] =
    signature +: signature.indices.map { i =>
      signature.updated(i, if (signature(i) == '1') '0' else '1')
    }

  /** Candidate near-dup pairs: same bucket only (never all-pairs),
    * verified by exact cosine ≥ threshold —
    * [[Dedup.embeddingNearDupPairs]] blocked by the computed bucket.
    */
  def nearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      nPlanes: Int,
      threshold: Double
  ): DataFrame =
    Dedup.embeddingNearDupPairs(
        df.select(col(idCol), col(vecCol), bucket(col(vecCol), dim, nPlanes).as("_bkt")),
        vecCol, idCol, "_bkt", threshold)
      .drop("_bkt")

  /** Multi-probe query: top-k among vectors in the query's probe
    * buckets (bucket pruning instead of a corpus scan).
    */
  def query(
      df: DataFrame,
      queryDf: DataFrame,
      vecCol: String,
      queryVec: String,
      idCol: String,
      dim: Int,
      nPlanes: Int,
      k: Int
  ): DataFrame = {
    val sig = queryDf.select(bucket(col(queryVec), dim, nPlanes)).head().getString(0)
    val probes = probeBuckets(sig)
    val pruned = df
      .withColumn("bkt", bucket(col(vecCol), dim, nPlanes))
      .filter(col("bkt").isInCollection(probes))
    Search.knnTopK(pruned.drop("bkt"), queryDf, vecCol, queryVec, idCol, k)
  }
}
