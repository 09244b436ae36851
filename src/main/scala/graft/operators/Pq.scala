package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product quantization for embedding compression + fast approximate
  * distance (reference: the IVF-PQ index hint at store.py:274).
  *
  * Design for scale, following standard practice (FAISS-style):
  *  - codebooks train on a driver-side SAMPLE (PQ codebooks need a few
  *    thousand vectors regardless of corpus size — sampling is the
  *    at-scale behavior, not a shortcut);
  *  - encoding is a distributed single pass with the codebooks
  *    broadcast (here: closure-captured arrays in a mapPartitions);
  *  - the ADC probe is pure expressions over the tiny code arrays with
  *    the query's distance tables as broadcast array columns — the
  *    corpus scan reads m bytes per vector instead of dim floats (m=8,
  *    dim=64 → 32× less I/O);
  *  - exact re-rank of the top `k * refineFactor` ADC candidates
  *    mirrors the reference's `search_refine_factor` (config.py:62).
  */
object Pq extends IndexMaintenance {

  /** Per-subspace codebooks: codebooks(j)(c) is the c-th centroid of
    * subspace j (each of length dim/m). `residual`: trained on IVF
    * residuals ([[trainResidual]]), so the ADC tables are per probed cell.
    */
  final case class Model(m: Int, dim: Int, codebooks: Array[Array[Array[Double]]],
                         residual: Boolean = false)

  // A PQ codebook is a fitted model: trained once per (corpus, params),
  // reused by every encode/probe — the exact contract of Ann.buildCached
  // for the IVF centroids. Without this memo a "probe" pays the
  // driver-side Lloyd's fit on every call (the round-7 ann_batch_pq
  // defect: warm == cold because each probe re-trained the codebook).
  // One memo for both fits: a residual key carries its centroid digest.
  private val modelCache =
    Caches.lru[(String, String, String, Int, Int, Int, Int, Long, Option[Int]), Model](64)

  /** Memoizing [[train]] keyed on (data key, columns, m, codes,
    * sampleSize, iters, seed). `dataKey` identifies the corpus (e.g.
    * the parquet dir), mirroring [[Ann.buildCached]].
    */
  def trainCached(
      dataKey: String,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 8,
      codes: Int = 16,
      sampleSize: Int = 4096,
      iters: Int = 15,
      seed: Long = 42L
  ): Model =
    modelCache.computeIfAbsent(
      (dataKey, vecCol, idCol, m, codes, sampleSize, iters, seed, None),
      _ => train(df, vecCol, idCol, m, codes, sampleSize, iters, seed)
    )

  /** Train codebooks with a seeded local Lloyd's over a sample.
    * Deterministic: sample = first `sampleSize` rows by id order.
    */
  def train(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 8,
      codes: Int = 16,
      sampleSize: Int = 4096,
      iters: Int = 15,
      seed: Long = 42L
  ): Model =
    fit(df, vecCol, idCol, m, codes, sampleSize, iters, seed, None)

  /** The one codebook fit behind [[train]] and [[trainResidual]]: the
    * first `sampleSize` vectors by id — as they are, or as IVF residuals
    * when `centroids` is given — split into m subspaces, each fitted by
    * a seeded [[lloyd]] (one `Random` across the subspaces, in order).
    * A residual fit resolves `m` through [[resolveM]].
    */
  private def fit(df: DataFrame, vecCol: String, idCol: String, m: Int, codes: Int,
                  sampleSize: Int, iters: Int, seed: Long,
                  centroids: Option[Array[Array[Double]]]): Model = {
    val sample: Array[Array[Double]] = df
      .orderBy(idCol)
      .limit(sampleSize)
      .select(vecCol)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        centroids.fold(v)(residual(v, _))
      }
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    val mEff = if (centroids.isEmpty) m else resolveM(m, dim)
    require(dim % mEff == 0, s"dim $dim must divide into $mEff subspaces")
    val sub = dim / mEff
    val rnd = new scala.util.Random(seed)
    val codebooks = Array.tabulate(mEff) { j =>
      val pts = sample.map(v => v.slice(j * sub, (j + 1) * sub))
      lloyd(pts, codes, iters, rnd)
    }
    Model(mEff, dim, codebooks, residual = centroids.isDefined)
  }

  /** normalize(v) − its nearest centroid, with EXACTLY the
    * [[graft.plans.NearestCentroid]] / [[graft.plans.CentroidResidual]]
    * arithmetic (normalize once, sequential squared distance, strict-<
    * first-minimum), so training residuals match the distributed encode
    * bit for bit.
    */
  private def residual(v: Array[Double], centroids: Array[Array[Double]]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val norm = math.sqrt(s)
    val p = v.map(_ / norm)
    val c = centroids(nearest(p, centroids))
    Array.tabulate(p.length)(j => p(j) - c(j))
  }

  /** Seeded k-means++ initialization (Arthur & Vassilvitskii 2007):
    * next center drawn ∝ D² to the nearest chosen center. Deterministic
    * under the seed; avoids the duplicate/closely-packed seeds a plain
    * random pick produces, which is worth real recall at the same m.
    */
  private[operators] def kppInit(
      pts: Array[Array[Double]],
      k: Int,
      rnd: scala.util.Random
  ): Array[Array[Double]] = {
    val n = pts.length
    val centers = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(n)).clone())
    val d2 = Array.fill(n)(Double.MaxValue)
    while (centers.size < math.min(k, n)) {
      val last = centers.last
      var i = 0
      while (i < n) {
        var d = 0.0; var j = 0
        while (j < last.length) { val t = pts(i)(j) - last(j); d += t * t; j += 1 }
        if (d < d2(i)) d2(i) = d
        i += 1
      }
      val total = d2.sum
      if (total <= 0) centers += pts(rnd.nextInt(n)).clone()
      else {
        val r = rnd.nextDouble() * total
        var acc = 0.0; var pick = 0
        while (pick < n - 1 && acc + d2(pick) < r) { acc += d2(pick); pick += 1 }
        centers += pts(pick).clone()
      }
    }
    while (centers.size < k) centers += centers.head.clone()
    centers.toArray
  }

  /** Tiny deterministic Lloyd's with k-means++ seeding, fixed
    * iterations, stable tie-breaks.
    */
  private[operators] def lloyd(
      pts: Array[Array[Double]],
      k: Int,
      iters: Int,
      rnd: scala.util.Random
  ): Array[Array[Double]] = {
    val n = pts.length
    var centers = kppInit(pts, k, rnd)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](pts.head.length))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        val c = nearest(p, centers)
        counts(c) += 1
        var d = 0
        while (d < p.length) { sums(c)(d) += p(d); d += 1 }
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centers
  }

  private def nearest(p: Array[Double], centers: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      var d = 0.0; var i = 0
      while (i < p.length) { val t = p(i) - centers(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Distributed encode: append `codes: array<int>` (m entries) via the
    * native [[graft.plans.PqEncode]] codegen expression — the codebooks
    * travel as a codegen reference object (a few KB), the generated
    * code is one compact nearest-centroid loop, and the whole encode
    * stays inside whole-stage codegen (no SerializeFromObject, no
    * megabyte literal expansion). Numerically identical to the
    * driver-side [[nearest]] used during training (same accumulation
    * order, same strict-< first-minimum tie-break).
    */
  def encode(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn(
      "codes",
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.PqEncode(
          org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
          model.codebooks)))

  /** ADC distance table for a query: table(j)(c) = ||q_j − codebook_j(c)||²
    * as driver-side constants — what the DuckDB oracle twin inlines. The
    * probe computes the same table in-plan ([[adcProbe]]).
    */
  def distanceTable(model: Model, q: Array[Double]): Array[Array[Double]] = {
    val sub = model.dim / model.m
    Array.tabulate(model.m) { j =>
      val qj = q.slice(j * sub, (j + 1) * sub)
      model.codebooks(j).map { cent =>
        var d = 0.0; var i = 0
        while (i < qj.length) { val t = qj(i) - cent(i); d += t * t; i += 1 }
        d
      }
    }
  }

  /** Persist the FULL IVF-PQ index — the reference's actual index type
    * (store.py:274 `IVF_PQ`): IVF cluster id as the partition key, the
    * m-byte PQ codes for ADC, and the raw vector for exact re-rank.
    * One distributed pass (assignment + encode are both codegen
    * projections); at probe time whole cluster partitions are pruned at
    * the file listing, the ADC ranks on codes alone, and only the
    * k·refine candidates pay full-vector math. The model picks the
    * encode ([[codeRows]]): a [[trainResidual]] model writes the
    * residual IVF-PQ layout its probe reads.
    */
  def writeIvfPq(
      path: String,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      ivfCentroids: Array[Array[Double]],
      model: Model
  ): Unit =
    writeClustered(codeRows(Ann.assign(df, vecCol, ivfCentroids), vecCol, idCol, ivfCentroids,
      model), path, "overwrite")

  /** The persisted rows (id, vec, codes, cluster) of an assigned frame,
    * encoded the way `model`'s probe decodes them: residuals against
    * `ivfCentroids` ([[encodeResidual]]) for a residual model, the
    * vector itself ([[encode]]) otherwise.
    */
  private def codeRows(assigned: DataFrame, vecCol: String, idCol: String,
                       ivfCentroids: Array[Array[Double]], model: Model): DataFrame =
    (if (model.residual) encodeResidual(assigned, vecCol, ivfCentroids, model)
     else encode(assigned, vecCol, model))
      .select(col(idCol), col(vecCol), col("codes"), col("cluster"))

  // ── Residual IVF-PQ (FAISS's actual IVF,PQ form) ─────────────────────

  /** Train codebooks on IVF RESIDUALS: normalize(v) − centroid[cell].
    * Same bounded deterministic sample as [[train]]; the assignment and
    * residual are computed driver-side with EXACTLY the
    * [[graft.plans.NearestCentroid]] arithmetic (normalize once,
    * sequential squared distance, strict-< first-minimum), so training
    * vectors match the distributed encode bit for bit.
    *
    * Why residuals: the round-11 structured study measured
    * global-codebook PQ-ADC at recall **0.075** on an anisotropic
    * (mixture + shared-low-rank) 1M-vector corpus — within a narrow
    * cone the 16 codes per subspace span the cone's OFFSET, not its
    * interior, and the ADC ranking carries no signal. Subtracting the
    * cell centroid re-centers every cell at the origin so the code
    * budget is spent on within-cell structure; ADC on residuals ranks
    * by ||qn − vn||² exactly (the centroid cancels), recovering the
    * cosine order.
    *
    * SIZING (the production rule, round-14 dim=128 study): `m` defaults
    * to [[AutoM]] (0) = derive **m = dim/8** from the training sample,
    * and `codes` defaults to 256 — recall does NOT transfer across dim
    * at fixed m (0.860 at dim=64/m=8 collapsed to 0.600 at dim=128/m=8,
    * a CODE-BUDGET wall rotation cannot fix; m=16 restored 0.925), so
    * the default holds dims-per-subspace ≈ 8 constant instead of
    * silently landing a wider caller on the wall. An explicit `m` that
    * spends fewer than that is accepted (byte budget is a legitimate
    * trade) but warned about once per call.
    */
  def trainResidual(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      m: Int = AutoM,
      codes: Int = 256,
      sampleSize: Int = 4096,
      iters: Int = 15,
      seed: Long = 42L
  ): Model =
    fit(df, vecCol, idCol, m, codes, sampleSize, iters, seed, Some(centroids))

  /** `m` sentinel: derive the subspace count from the training
    * sample's width via [[sizedM]] — the measured production rule.
    */
  final val AutoM = 0

  /** m = dim/8, codes = 256 — the transferable sizing the dim∈{64,128}
    * studies validated (PLANS.md): dims-per-subspace ≈ 8 holds recall
    * flat across widths at an 8:1 byte reduction vs float32. At dim
    * not divisible by 8, the largest divisor of dim that keeps
    * dims-per-subspace ≤ 8 is used (subspaces must tile the vector).
    */
  def sizedM(dim: Int): Int = {
    require(dim >= 1, s"dim must be positive, got $dim")
    if (dim % 8 == 0) dim / 8
    else (1 to dim).find(mm => dim % mm == 0 && dim / mm <= 8).getOrElse(dim)
  }

  private def resolveM(m: Int, dim: Int): Int = {
    require(m >= 0,
      s"m must be positive, or Pq.AutoM (0) to derive m = dim/8; got $m")
    val mEff = if (m == AutoM) sizedM(dim) else m
    if (m != AutoM && dim / mEff > 8)
      System.err.println(
        s"[graft] WARN residual-PQ m=$mEff at dim=$dim quantizes ${dim / mEff} dims " +
          s"per subspace — past the measured recall wall (PLANS.md: 0.600 at 16 " +
          s"dims/subspace vs 0.925 at 8); consider m = dim/8 = ${sizedM(dim)}")
    if (m == AutoM && mEff != 8)
      // BREAKING-DEFAULT callout (round-15 change, round-16 advice): the
      // old defaults were a fixed m=8, codes=16. A caller relying on the
      // old defaults gets a differently-shaped model now — and a layout
      // ENCODED under one sizing must never be probed with a model
      // trained under another (the memo key includes m/codes, so the
      // cache itself cannot mix them; persisted layouts are on the
      // caller). Loud so the resolution is visible in driver logs.
      System.err.println(
        s"[graft] NOTE residual-PQ default sizing resolved m=$mEff (= dim/8 at " +
          s"dim=$dim), codes=256 — the pre-round-15 defaults were m=8, codes=16; " +
          "pass m/codes explicitly when probing a layout encoded under the old sizing")
    mEff
  }

  /** Memoizing [[trainResidual]] — the [[trainCached]] contract for the
    * residual codebooks. The memo key includes a CONTENT digest of the
    * IVF centroids (round-11 ADVICE: dataKey alone would silently serve
    * a model trained against a PREVIOUS quantizer's cells when the same
    * corpus is refit with different k/seed — codes/ADC tables misaligned
    * with the layout).
    */
  def trainResidualCached(
      dataKey: String,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      m: Int = AutoM,
      codes: Int = 256,
      sampleSize: Int = 4096,
      iters: Int = 15,
      seed: Long = 42L
  ): Model = {
    val centKey = java.util.Arrays.deepHashCode(
      centroids.asInstanceOf[Array[AnyRef]])
    modelCache.computeIfAbsent(
      (dataKey, vecCol, idCol, m, codes, sampleSize, iters, seed, Some(centKey)),
      _ => trainResidual(df, vecCol, idCol, centroids, m, codes, sampleSize, iters, seed))
  }

  /** Residual-encode an ALREADY-ASSIGNED frame (must carry `cluster`):
    * residual via the native [[graft.plans.CentroidResidual]] (the
    * centroid table rides as a reference object — no nlist×dim literal
    * blowup at √N cells), codes via the same [[graft.plans.PqEncode]]
    * loop over the residual. All three expressions in the stage are
    * compact loops, so the fused write stage stays under the JIT
    * bytecode ceiling (the `PackSignBits` lesson, applied up front).
    */
  def encodeResidual(assigned: DataFrame, vecCol: String, centroids: Array[Array[Double]], model: Model): DataFrame =
    assigned
      .withColumn("_res",
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.CentroidResidual(
            org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
            org.apache.spark.sql.GraftBridge.expression(col("cluster")),
            centroids)))
      .withColumn("codes",
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.PqEncode(
            org.apache.spark.sql.GraftBridge.expression(col("_res")),
            model.codebooks)))
      .drop("_res")

  /** [[writeIvfPq]] for a frame that ALREADY carries `cluster` — the
    * seam the two-level composition needs: the coarse quantizer assigns
    * HIERARCHICALLY ([[Ann.assignTwoLevel]], O(√k) per row), while the
    * encode/partitioned-write below is identical. `ivfCentroids` must be
    * the flat codebook the cluster ids index.
    */
  def writeIvfPqResidualAssigned(
      path: String,
      assigned: DataFrame,
      vecCol: String,
      idCol: String,
      ivfCentroids: Array[Array[Double]],
      model: Model
  ): Unit =
    writeClustered(codeRows(assigned, vecCol, idCol, ivfCentroids, model), path, "overwrite")

  /** Delta maintenance for a persisted residual IVF-PQ layout — the
    * missing lifecycle face the round-13 verdict named: at 10⁹ vectors
    * an index you can't append to IS a rebuild. The delta frame must
    * arrive ALREADY ASSIGNED by the same coarse quantizer as the base
    * corpus (flat [[graft.operators.Ann.assign]] or hierarchical
    * [[graft.operators.Ann.assignTwoLevel]] — the caller owns that
    * routing, exactly like [[graft.operators.Ann.appendToIndexTwoLevel]]),
    * and is encoded ([[codeRows]]) with the SAME fitted codebooks, so
    * base + delta equals a from-scratch write bit for bit. Lands as
    * O(k) delta files via the clustered append; probes see the rows
    * immediately ([[writeClustered]] invalidates the listing memo).
    */
  def appendIvfPqResidualAssigned(
      path: String,
      assigned: DataFrame,
      vecCol: String,
      idCol: String,
      ivfCentroids: Array[Array[Double]],
      model: Model
  ): Unit =
    writeClustered(codeRows(assigned, vecCol, idCol, ivfCentroids, model), path, "append")

  /** [[Ann.deleteFromIndex]]; kept because the `serve` benchmark
    * compiles against it.
    */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame, idCol: String): Unit =
    Ann.deleteFromIndex(spark, path, ids, idCol)

  /** [[Ann.compact]] — codes and vectors ride the rewrite, so no corpus
    * re-read and no re-encode; kept because the `serve` benchmark
    * compiles against it.
    */
  def compact(spark: SparkSession, path: String, outPath: String, idCol: String): Unit =
    Ann.compact(spark, path, outPath, idCol)

  /** Refine shortlist sized ∝ nProbe — the round-13 10M observation
    * made this a contract, not a tuning nicety: at FIXED k·refine,
    * probing MORE cells reads recall DOWN (nP=16/rf=25 measured 0.800
    * BELOW nP=8's 0.825 at 10M — the shortlist dilutes as more
    * candidates compete for the same slots, so the marginal cells only
    * displace true neighbors from the ADC cut). Scaling refine with
    * nProbe keeps the kept-fraction of scanned candidates constant.
    * perProbe = 3 reproduces both measured operating points: nP=3 → 10
    * (the registered sf-scale default), nP=8 → 25 (recall 0.825 at
    * 10M, PLANS.md). Passed as the default (refineFactor ≤ 0) of every
    * IVF probe in this file; recall monotonicity in nProbe under this
    * rule is spec-pinned (PqSpec) on the anisotropic corpus.
    */
  def autoRefineFactor(nProbe: Int, perProbe: Int = 3): Int =
    math.max(10, perProbe * nProbe + 1)

  /** The explicit spelling of the `refineFactor` default accepted by
    * every IVF probe in this file: [[AutoRefine]] (= 0) derives the
    * shortlist from nProbe via [[autoRefineFactor]]. Any other
    * non-positive value is rejected loudly — "0 means auto" is a
    * deliberate call-site choice, never a silent fallback for a caller
    * who meant "no refine" (there is no no-refine mode: the exact
    * re-rank IS the probe's correctness backstop).
    */
  final val AutoRefine = 0

  private[operators] def resolveRefine(refineFactor: Int, nProbe: Int): Int = {
    require(refineFactor >= 0,
      s"refineFactor must be positive, or Pq.AutoRefine (0) to derive it from " +
        s"nProbe via autoRefineFactor; got $refineFactor")
    if (refineFactor == AutoRefine) autoRefineFactor(nProbe) else refineFactor
  }

  /** Probe a persisted IVF-PQ layout ([[writeIvfPq]] with its
    * [[train]] or [[trainResidual]] model) with
    * [[Ann.probe]]'s single/batch contract: partition-pruned scan of
    * each query's `nProbe` nearest cells → ADC rank on the m-byte codes
    * → exact cosine re-rank of the k·refine candidates (reference:
    * store.py:274 + config.py:62 refine factor). A batch carries its
    * cells in `cluster` ([[Ann.queryCellsLocal]] for a bounded set) or
    * has them ranked in-plan ([[Ann.queryCells]]). A residual model's
    * ADC tables differ per probed cell, so its one query runs as the
    * |Q| = 1 batch (rank order kept, `query_id`/`rk` dropped). On
    * residuals the ADC approximates ||qn − vn||² directly (the centroid
    * term cancels), so unlike global codebooks the ranking stays
    * informative on clustered/anisotropic corpora (PLANS.md). Output
    * as [[Ann.probe]]'s plus `adc_dist`.
    */
  def probeIvf(
      spark: SparkSession,
      path: String,
      ivfCentroids: Array[Array[Double]],
      model: Model,
      queries: DataFrame,
      queryVec: String,
      vecCol: String,
      idCol: String,
      nProbe: Int,
      k: Int,
      refineFactor: Int = AutoRefine,
      queryId: String = "query_id"): DataFrame = {
    def probe(q: DataFrame, cells: Seq[Int]): DataFrame =
      adcProbe(liveLayout(spark, path, idCol), model, q, queryVec, vecCol, idCol, k,
        k * resolveRefine(refineFactor, nProbe), cells, ivfCentroids, queryId)
    if (queries.columns.contains(queryId))
      probe(if (queries.columns.contains("cluster")) queries
        else Ann.queryCells(queries, queryVec, queryId, ivfCentroids, nProbe), Nil)
    else if (model.residual)
      probe(Ann.queryCellsLocal(queries.withColumn(queryId, lit(0L)), queryVec, queryId,
        ivfCentroids, nProbe), Nil).drop(queryId, "rk")
    else probe(queries, Ann.nearestCells(ivfCentroids, Ann.queryVector(queries, queryVec), nProbe))
  }

  /** The one PQ probe body: [[Ann.probeScan]] over a codes `scan` with
    * the ADC shortlist. Each query row's tables ride the broadcast query
    * side as array columns, table(j)(c) = ||x_j − codebook_j(c)||² for x
    * the query (global codebooks) or its residual normalize(q) −
    * centroid[cluster] against the probed cell (a residual model, via
    * the native [[graft.plans.CentroidResidual]] the encode uses). The
    * codebook centers are one literal per subspace and the distances
    * HOF folds, evaluated on the |Q|·nProbe query rows only (unrolled
    * into m×codes×sub scalar nodes, Catalyst analysis + janino cost
    * ~2.5 s per invocation). The corpus side pays m `element_at`
    * lookups per code row. The fold order is [[distanceTable]]'s (left
    * to right over dims, (x−c)² per dim), so the ADC values are
    * bit-identical to the oracle twin's. With no `cells` and no
    * `cluster` in `scan` this is the flat probe of an encoded frame.
    */
  private[graft] def adcProbe(
      scan: DataFrame,
      model: Model,
      queries: DataFrame,
      queryVec: String,
      vecCol: String,
      idCol: String,
      k: Int,
      refine: Int,
      cells: Seq[Int] = Nil,
      ivfCentroids: Array[Array[Double]] = Array.empty,
      queryId: String = "query_id"): DataFrame = {
    require(!model.residual || ivfCentroids.nonEmpty, "a residual model needs its IVF centroids")
    val sub = model.dim / model.m
    val vec =
      if (!model.residual) VectorOps.toDouble(col(queryVec))
      else org.apache.spark.sql.GraftBridge.column(
        graft.plans.CentroidResidual(
          org.apache.spark.sql.GraftBridge.expression(col(queryVec)),
          org.apache.spark.sql.GraftBridge.expression(col("cluster")),
          ivfCentroids))
    val tables = (0 until model.m).map { j =>
      transform(typedLit(model.codebooks(j).map(_.toSeq).toSeq), cent =>
        aggregate(
          zip_with(slice(col("_adcq"), j * sub + 1, sub), cent, (x, c) => {
            val d = x - c
            d * d
          }),
          lit(0.0),
          (acc, x) => acc + x)).as(s"_adc$j")
    }
    val adc = (0 until model.m)
      .map(j => element_at(col(s"_adc$j"), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    // always broadcast: an in-plan batch's cell rows are |Q|·nProbe
    Ann.probeScan(scan,
      broadcast(queries.withColumn("_adcq", vec).select(queries.columns.map(col) ++ tables: _*)),
      queryVec, queryId, vecCol, idCol, k, cells, None, Nil,
      Some(Ann.Shortlist("adc_dist", adc, ascending = true, refine, None)))
  }

  /** [[probeIvf]] of one query, output (id, cos_sim). Kept with this
    * signature only because the `serve` benchmark compiles against it.
    */
  def probeIvfPqResidual(
      spark: SparkSession,
      path: String,
      ivfCentroids: Array[Array[Double]],
      model: Model,
      queryDf: DataFrame,
      queryVec: String,
      vecCol: String,
      idCol: String,
      nProbe: Int,
      k: Int,
      refineFactor: Int = 0
  ): DataFrame =
    probeIvf(spark, path, ivfCentroids, model, queryDf, queryVec, vecCol, idCol, nProbe, k,
      refineFactor).select(col(idCol), col("cos_sim"))

  /** [[probeIvf]] of a batch (cells from `qCellsPre` when given), output
    * (query, id, cluster, cos_sim, rk). Kept with this signature only
    * because the `serve` benchmark compiles against it.
    */
  def probeBatchIvfPqResidual(
      spark: SparkSession,
      path: String,
      ivfCentroids: Array[Array[Double]],
      model: Model,
      queries: DataFrame,
      queryVec: String,
      queryId: String,
      vecCol: String,
      idCol: String,
      nProbe: Int,
      k: Int,
      refineFactor: Int = 0,
      qCellsPre: Option[DataFrame] = None
  ): DataFrame =
    probeIvf(spark, path, ivfCentroids, model, qCellsPre.getOrElse(queries), queryVec, vecCol,
      idCol, nProbe, k, refineFactor, queryId).drop("adc_dist")
}
