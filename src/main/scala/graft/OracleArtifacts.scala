package graft

/** Fitted-model constants captured while [[Queries]] run, consumed by
  * [[OracleSql.dynamic]] to generate DuckDB twins with the artifacts
  * inlined as literals — the same trick that made the LSH family
  * hash-verifiable (Lsh.scala planes), extended to fitted models:
  * KMeans is seed-fixed and PQ training is fully deterministic, so
  * after a query runs, its centroids/codebooks are known driver-side
  * constants the oracle can re-apply independently.
  *
  * One holder per FIT, not per key: the helper in [[Queries]] that
  * fits (or fetches the memoized) model writes its holder, and every
  * twin built on that fit is emitted as soon as any key captured it.
  * [[Verify]] runs the selected queries BEFORE dumping oracle_sql.json
  * and writes only the selected keys' twins, so a selected key whose
  * query failed keeps its twin and fails the gate with its output
  * missing, rather than slipping to the weaker rows-only check.
  */
object OracleArtifacts {

  /** Eval query set from retrieval_eval: (query_id = source doc_id,
    * first-tokens query terms) — captured from the corpus, inlined by
    * the twin as VALUES literals.
    */
  @volatile var retrievalEval: Option[Seq[(Long, Seq[String])]] = None

  /** Held-out eval set from retrieval_eval_clusters: (query_id = the
    * cluster's source doc_id, lossy query terms, relevant doc ids —
    * the OTHER members of the derived near-dup cluster). A bounded
    * driver artifact (≤16 clusters) the twin replays as VALUES.
    */
  @volatile var retrievalEvalClusters: Option[Seq[(Long, Seq[String], Seq[Long])]] = None

  /** The full-corpus IVF fit (k = 10, seed = 42) every flat IVF key
    * shares: unit-sphere centroids + query vector 0's 5 nearest cells,
    * best first (the single-query keys probe the first 3, the recall
    * sweep each prefix; the batch twins rank cells in SQL).
    */
  @volatile var ivf: Option[(Array[Array[Double]], Seq[Int])] = None

  /** The same shape for the IVF fit on the lifecycle BASE subset
    * (ann_incremental, stream_ann: the probe sees base + delta), 3 cells.
    */
  @volatile var annIncremental: Option[(Array[Array[Double]], Seq[Int])] = None

  /** The global PQ model (m = 8, codes = 16) + query vector 0's ADC
    * distance table (pq_probe, ivfpq_probe, ann_batch_pq).
    */
  @volatile var pq: Option[(operators.Pq.Model, Array[Array[Double]])] = None

  /** The residual PQ model (m = 8, codes = 256) trained against the
    * [[ivf]] centroids (ivfpq_residual, ann_batch_pqr) — the twins
    * derive the per-(query, cell) residual ADC tables in SQL.
    */
  @volatile var pqResidual: Option[operators.Pq.Model] = None

  /** ann_two_level: the fitted hierarchy (super centroids, per-super
    * sub-codebooks, flat offsets) + the probed flat cells — the twin
    * replays nearest-super-then-nearest-sub assignment from these.
    */
  @volatile var annTwoLevel: Option[(operators.Ann.TwoLevel, Seq[Int])] = None

  /** ann_two_level_pqr — the flagship 10^9-vector composition: the
    * fitted hierarchy (its flat codebook is what cluster ids index)
    * + the residual PQ model trained against that flat codebook. The
    * twin replays hierarchical assignment, residual encode, and the
    * per-(query, cell) residual ADC from these literals.
    */
  @volatile var annTwoLevelPqr: Option[(operators.Ann.TwoLevel, operators.Pq.Model)] = None

  /** The two-level hierarchy + residual model fitted on the lifecycle
    * BASE subset — the artifacts every maintenance verb must reuse:
    * ann_two_level_live / ann_two_level_compacted (tombstoned ids
    * excluded from the twin's corpus) and stream_ann_2l (no deletes).
    */
  @volatile var twoLevelBase: Option[(operators.Ann.TwoLevel, operators.Pq.Model)] = None

  /** Principal components (r x dim) from pca_probe's memoized fit. */
  @volatile var pca: Option[Array[Array[Double]]] = None

  /** (hashedBoW-space centroids, probed cells) from stream_pipeline.
    * The streamed index's content is a pure function of (corpus, fitted
    * centroids, query text), so the landed probe twins exactly like the
    * batch ANN probes.
    */
  @volatile var streamPipeline: Option[(Array[Array[Double]], Seq[Int])] = None

  /** SemDeDup coarse-quantizer centroids from semdedup (fitted on the
    * planted-near-dup corpus, unit-sphere space).
    */
  @volatile var semdedup: Option[Array[Array[Double]]] = None

  def clear(): Unit = {
    retrievalEval = None; retrievalEvalClusters = None; ivf = None; annIncremental = None
    pq = None; pqResidual = None; annTwoLevel = None; annTwoLevelPqr = None
    twoLevelBase = None; pca = None; streamPipeline = None; semdedup = None
  }
}
