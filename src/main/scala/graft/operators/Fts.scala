package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted full-text (BM25) index — the Spark analog of the
  * reference's `create_fts_index` (store.py:197): tokenize the corpus
  * ONCE at build time and write an inverted index; every subsequent
  * query probes the index instead of re-tokenizing the corpus.
  *
  * Layout (all parquet):
  *   - `<dir>/postings`: one row per (term, doc, tf) with the doc length
  *     denormalized in — range-partitioned by `term` and sorted within
  *     partitions, so a probe's `term IN (...)` filter prunes files and
  *     row groups via parquet min/max stats and never touches a
  *     corpus-sized side table. At 100 TB a probe for a handful of terms
  *     reads a few row groups, not the corpus.
  *   - corpus stats (N, avgdl) are two doubles — kept driver-side in the
  *     returned [[Fts.Index]], the same place the fitted IVF centroids
  *     live after an ANN build.
  *
  * Probes: one BM25 core and one semantic core, each serving a single
  * query as the |Q| = 1 case of its batch (only the heap differs:
  * `orderBy.limit` for the one query, the per-query bounded heap for a
  * batch). BM25 scores row-wise per (query, doc, term) posting with
  * [[Search.bm25Term]] — the full-scan scorers' one formula — and sums
  * per doc, so a probe agrees with [[Search.bm25TopK]] on the rounded
  * scores and shares its DuckDB oracle twin.
  *
  * Like the reference (store.py:197 `replace=True`), a re-ingest
  * rebuilds: `build` overwrites the layout atomically per subdir.
  */
object Fts extends IndexMaintenance {

  // sumDl (not avgdl) is the stored stat so incremental appends stay
  // EXACTLY equal to a one-shot build: base+delta adds token counts,
  // never reconstructs them from a rounded mean.
  final case class Index(dir: String, nDocs: Double, sumDl: Double) {
    def avgdl: Double = if (nDocs == 0) 0.0 else sumDl / nDocs
  }

  // An FTS index is an offline artifact: built once, probed many times.
  // Memoize per (data key, columns) so repeated probes in one session
  // don't re-tokenize (the cold build cost stays visible in the bench's
  // cold pass — same amortized-cost framing as Ann.buildCached).
  private val indexCache = Caches.lru[(String, String, String), Index](64)

  def buildCached(dataKey: String, docs: DataFrame, textCol: String, idCol: String): Index =
    indexCache.computeIfAbsent(
      (dataKey, textCol, idCol),
      _ => build(docs, textCol, idCol,
        graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
          java.nio.file.Files.createTempDirectory("graft_fts_")).toString)
    )

  // Parquet handles per (session, segment dir) from the shared listing
  // cache: re-using one DataFrame re-uses its resolved FileIndex, so
  // repeated probes don't pay file listing + footer/schema resolution
  // per call. Every verb that mutates the layout invalidates it.
  private def segment(spark: SparkSession, dir: String, sub: String): DataFrame =
    LayoutCache.readCached(spark, s"$dir/$sub")

  /** The layout's LIVE face of one segment: anti-join the tombstone
    * sidecar when present — shared by both probe cores, so a delete is
    * honored uniformly: after [[deleteFromIndex]] no probe keeps
    * serving deleted docs.
    */
  private def liveSegment(
      spark: SparkSession,
      dir: String,
      sub: String,
      idCol: String
  ): DataFrame = liveFace(spark, dir, segment(spark, dir, sub), idCol)

  /** Tokenize once; write term-sorted postings with dl denormalized,
    * plus the semantic sidecar: hashed-BoW doc-dim counts (`docdims`)
    * and per-doc squared norms (`docnorms`) — so the text-query cosine
    * flow is served from the index too, with no tokenize pass at query
    * time.
    */
  def build(docs: DataFrame, textCol: String, idCol: String, outDir: String): Index = {
    val (n, sumDl) = writeSegments(docs, textCol, idCol, outDir, overwrite = true)
    LayoutCache.invalidate(outDir) // a rebuild replaces the layout
    Index(outDir, n, sumDl)
  }

  /** Incremental maintenance: index ONLY `newDocs` and append their
    * postings/sidecar files to the existing layout — the scale path the
    * reference's `replace=True` rebuild (store.py:197) can't take at
    * 100 TB, where re-tokenizing the whole corpus per ingest batch is
    * the failure mode (the FTS analog of [[Ann]]'s `appendToIndex`).
    *
    * Exactness is free by construction: a probe's df comes from a row
    * count over the term-pruned scan and tf/dl ride each posting row,
    * so a base+delta union scan scores bit-identically to a one-shot
    * build over the union corpus (pinned in FtsSpec). Appended files
    * are term-sorted within themselves, so parquet min/max pruning
    * still skips them for absent terms; corpus stats (N, avgdl) are
    * two driver-side doubles updated by a weighted mean. Periodic
    * `build` compaction re-establishes the global term-range layout
    * when deltas accumulate.
    */
  def appendToIndex(index: Index, newDocs: DataFrame, textCol: String, idCol: String): Index = {
    if (newDocs.isEmpty) index
    else {
      // a delta append adds O(few) files, not O(shuffle-partitions)
      // files per sidecar — file-count hygiene for the probe's listing
      // path (periodic `build` compaction restores the global layout)
      val (dn, dSumDl) = writeSegments(newDocs, textCol, idCol, index.dir,
        overwrite = false, parts = 4)
      LayoutCache.invalidate(index.dir) // layout grew: cached handles are stale
      Index(index.dir, index.nDocs + dn, index.sumDl + dSumDl)
    }
  }

  /** DELETE maintenance (the FTS face of
    * [[graft.operators.Ann.deleteFromIndex]]): deletions land as an
    * append-only tombstone sidecar under the layout — never a segment
    * rewrite — and the corpus stats decrement EXACTLY: each deleted
    * doc's token count (`dl`) rides its own posting rows, so one
    * semi-joined scan recovers the batch's (docs, Σdl) and the
    * returned Index scores the live corpus bit-identically to a
    * from-scratch build over it (df shrinks in the probes' anti-joined
    * scans; N/avgdl shrink here). IDEMPOTENT: ids already tombstoned
    * (repeat calls, overlapping batches) are anti-joined away before
    * the stat decrement, so a re-delete is a no-op instead of silent
    * N/avgdl drift. Compaction = [[build]] over the live docs.
    */
  def deleteFromIndex(spark: SparkSession, index: Index, ids: DataFrame, idCol: String): Index = {
    val fresh = freshIds(spark, index.dir, ids, idCol)
    // stats BEFORE the sidecar append: `fresh` reads the current
    // tombstone listing lazily, so the decrement must be materialized
    // while the sidecar still excludes this batch
    val st = segment(spark, index.dir, "postings")
      .join(broadcast(fresh), Seq(idCol), "left_semi")
      .groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("double"), sum("dl")).head()
    appendTombstones(fresh, index.dir)
    if (st.isNullAt(1)) index
    else Index(index.dir, index.nDocs - st.getDouble(0), index.sumDl - st.getDouble(1))
  }

  /** Observability surface of a persisted index (what a server_info-
    * style endpoint reads): LIVE distinct-term and postings counts plus
    * the driver-side corpus stats. One aggregate over the postings
    * segment — O(index), never a corpus re-tokenize.
    */
  def stats(spark: SparkSession, index: Index, idCol: String): DataFrame =
    liveSegment(spark, index.dir, "postings", idCol)
      .agg(
        countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"))
      .select(col("n_terms"), col("n_postings"),
        lit(index.nDocs.toLong).as("n_docs"),
        round(lit(index.avgdl), 5).as("avgdl"))

  /** COMPACTION — the third maintenance verb after append and delete:
    * rewrite the LIVE face of the layout (delta segments folded into
    * the global term-range order, tombstoned docs dropped, sidecar
    * cleared) into a fresh directory, FROM THE INDEX ITSELF — no
    * corpus re-tokenize. At 100 TB this is the difference between a
    * background segment-merge job (reads the index, term-pruned) and
    * the reference's replace=True full rebuild (store.py:197, reads +
    * re-tokenizes the corpus). Stats carry over unchanged: delete
    * already decremented them exactly, so the compacted index scores
    * bit-identically to the tombstoned one (pinned in FtsSpec).
    */
  def compact(spark: SparkSession, index: Index, idCol: String, outDir: String): Index = {
    requireSeparateDir("Fts", index.dir, outDir)
    fencedCompact(spark, "Fts", index.dir) {
      liveSegment(spark, index.dir, "postings", idCol)
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term", idCol)
        .write.mode("overwrite").parquet(s"$outDir/postings")
      liveSegment(spark, index.dir, "docdims", idCol)
        .write.mode("overwrite").parquet(s"$outDir/docdims")
      liveSegment(spark, index.dir, "docnorms", idCol)
        .write.mode("overwrite").parquet(s"$outDir/docnorms")
      LayoutCache.invalidate(outDir)
      LayoutLog.commitVerb(spark, outDir, "build",
        LayoutLog.version(spark, outDir)): Unit
      Index(outDir, index.nDocs, index.sumDl)
    }
  }

  /** AUTO-MAINTENANCE policy for the FTS layout —
    * [[IndexMaintenance.maintainLayout]] specialized with this family's
    * compaction and handle invalidation: delta-segment pressure (from
    * the commit log) or tombstone pressure (from the sidecar) triggers
    * a fold of the LIVE face back to the global term-range layout, via
    * the shared fenced in-place swap — the index dir stays stable for
    * every probe handle. Stats carry unchanged (delete already
    * decremented them exactly), so the returned Index is the input with
    * the same books; only the file set folded.
    */
  def maintain(
      spark: SparkSession,
      index: Index,
      idCol: String,
      maxDeltaAppends: Int = 8,
      maxTombstones: Long = TombstoneState.InlineLimit.toLong
  ): (Index, LayoutMaintenanceReport) = {
    val rep = maintainLayout(spark, index.dir,
      (_, out) => { compact(spark, index, idCol, out); () },
      maxDeltaAppends, maxTombstones)
    if (rep.compacted) LayoutCache.invalidate(index.dir) // cached handles are stale post-swap
    (index, rep)
  }

  /** Hardlink-clone a persisted index layout into a fresh directory so
    * a caller can APPEND deltas without mutating the shared base — an
    * O(#files) metadata operation, no data copied (segment files are
    * immutable once written, so links are safe). This is the local
    * stand-in for a shadow/branch layout over immutable segments: the
    * memoized base index stays pristine while each experiment or
    * stream run accumulates its own deltas.
    */
  def cloneIndex(index: Index): Index = {
    val dst = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory("graft_fts_clone_"))
    val subs = Seq("postings", "docdims", "docnorms") ++
      Seq(TombstonesSub).filter(_ => hasTombstones(index.dir))
    subs.foreach(sub => linkFiles(java.nio.file.Paths.get(index.dir, sub), dst.resolve(sub)))
    Index(dst.toString, index.nDocs, index.sumDl)
  }

  /** Hardlink every regular file of `from` into `to` (created if
    * absent) — the clone step of [[cloneIndex]] and
    * [[Featurize.cloneDir]].
    */
  private[operators] def linkFiles(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(to)
    val files = java.nio.file.Files.list(from)
    try files.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p))
        java.nio.file.Files.createLink(to.resolve(p.getFileName.toString), p)
    } finally files.close()
  }

  /** One tokenize+explode scan feeding all three layout outputs; returns
    * (docCount, totalTokenCount) for the driver-side stats.
    */
  private def writeSegments(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      outDir: String,
      overwrite: Boolean,
      parts: Int = 0 // 0 = session default (full build); >0 bounds output files (delta append)
  ): (Double, Double) = {
    val mode = if (overwrite) "overwrite" else "append"
    val spark = docs.sparkSession
    // same write-then-commit protocol as IndexMaintenance.writeClustered:
    // the three segment subdirs land, then ONE LayoutLog verb covers the
    // batch (the layout root owns the log; `_log` is invisible to the
    // per-subdir scans)
    // overwrite replaces the segment subdirs but not `_log` (the writes
    // are per-subdir), so a rebuild observes — and steps past — the
    // dir's current version instead of colliding with its own history
    val observed = LayoutLog.version(spark, outDir)
    // ONE corpus scan + tokenize + explode; every other aggregate derives
    // from the (doc, term) count table, which is cached for the build's
    // four outputs (at cluster scale: a persisted intermediate instead)
    val tf = docs
      .select(col(idCol), TextOps.tokenize(col(textCol)).as("_toks"))
      .select(col(idCol), explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tfl"))
      .cache()
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tfl")).cast("double").as("dl"))
    val posts = tf.withColumn("tf", col("tfl").cast("double")).drop("tfl")
      .join(dl, Seq(idCol))
    // Delta appends (parts > 0) hash-partition by term instead of
    // range-partitioning: each term still lands in exactly one file and
    // files stay term-sorted WITHIN, so row-group min/max pruning
    // inside each delta file survives — but FILE-level pruning for
    // absent terms is largely lost on deltas (each hash-partitioned
    // file's term min/max spans nearly the whole vocabulary). The
    // trade is deliberate: the RangePartitioner's extra sampling job
    // over every micro-batch disappears, and the maintain policy
    // bounds the delta count until compaction restores the global
    // term-range layout (the FULL build keeps range order — that is
    // the documented compacted layout).
    val postsOut =
      (if (parts > 0) posts.repartition(parts, col("term"))
       else posts.repartitionByRange(col("term")))
        .sortWithinPartitions("term", idCol)
    def bounded(df: DataFrame): DataFrame =
      if (parts > 0) df.coalesce(parts) else df
    val dims = tf
      .select(col(idCol), TextOps.hashedBowDim(col("term")).as("dim"), col("tfl"))
      .groupBy(col(idCol), col("dim")).agg(sum(col("tfl")).as("cnt"))
    // The three segment writes and the stats aggregate are independent
    // consumers of the cached tf — run them CONCURRENTLY (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially; cached-block locks make the shared tf compute
    // exactly once). Measured on a micro-batch delta: 2.1 s of
    // back-to-back job latency → the wall of the slowest single write.
    // `concurrently` awaits every action before it rethrows a failure,
    // so no sibling write lands files after the caller sees the error.
    var st: org.apache.spark.sql.Row = null
    try {
      graft.streaming.StreamPipeline.concurrently(
        () => postsOut.write.mode(mode).parquet(s"$outDir/postings"),
        () => bounded(dims).write.mode(mode).parquet(s"$outDir/docdims"),
        () => bounded(dims.groupBy(col(idCol)).agg(sum(col("cnt") * col("cnt")).as("ss")))
          .write.mode(mode).parquet(s"$outDir/docnorms"),
        () => st = dl.agg(count("*").cast("double"), sum("dl")).head())
      LayoutLog.commitVerb(spark, outDir,
        if (overwrite) "build" else "append", observed): Unit
      // sum over zero rows is NULL: an empty corpus/batch yields (0, 0)
      if (st.isNullAt(1)) (0.0, 0.0) else (st.getDouble(0), st.getDouble(1))
    } finally {
      // in the finally: a failed concurrent write must not leave the
      // corpus-sized tf cached (plan-keyed — a later identical build
      // could silently be served this invocation's blocks)
      tf.unpersist()
    }
  }

  /** Text-query cosine top-k served from the index sidecar — the same
    * math as the from-scratch flow (Queries.semanticSearch twin), but
    * the corpus side reads pre-aggregated (doc, dim, cnt) rows: no
    * tokenize, no explode, no (doc, dim) shuffle at query time. The one
    * query is the |Q| = 1 case of [[semanticProbeBatch]].
    */
  def semanticProbe(
      spark: SparkSession,
      index: Index,
      idCol: String,
      queryText: String,
      k: Int
  ): DataFrame = semanticScan(spark, index, idCol, Seq(0L -> queryText), k, batch = false)

  /** Batch semantic retrieval from the index sidecar — the third leg
    * of the batch trio ([[probeBatch]] for BM25, [[Ann.probe]]'s batch face for
    * vectors): every text query's cosine top-k in ONE docdims pass.
    * Output (query_id, id, cos_sim, rk).
    */
  def semanticProbeBatch(
      spark: SparkSession,
      index: Index,
      idCol: String,
      queries: Seq[(Long, String)],
      k: Int
  ): DataFrame = semanticScan(spark, index, idCol, queries, k, batch = true)

  /** BM25 top-k over the persisted index, (id, bm25): the one query is
    * the |Q| = 1 case of [[probeBatch]], scored by the same core.
    */
  def probe(
      spark: SparkSession,
      index: Index,
      idCol: String,
      queryTerms: Seq[String],
      k: Int
  ): DataFrame = bm25Scan(spark, index, idCol, Seq(0L -> queryTerms), k, batch = false)

  /** Batch BM25 over the persisted index — the text-side analog of
    * [[Ann.probe]]'s batch face (offline eval / distillation-query
    * workloads): every query's top-k in ONE pruned postings pass.
    * Output (query_id, id, bm25, rk).
    */
  def probeBatch(
      spark: SparkSession,
      index: Index,
      idCol: String,
      queries: Seq[(Long, Seq[String])],
      k: Int
  ): DataFrame = bm25Scan(spark, index, idCol, queries, k, batch = true)

  /** The one BM25 probe body. The live postings scan is pruned to the
    * distinct union of query terms (pushed to the term-sorted layout;
    * the tombstone anti-join sits under it, so df shrinks with deletes
    * exactly as a live-only rebuild's would). A batch meets its
    * broadcast (query_id, term) table; the one query skips that join,
    * because the `term IN` filter already is the query. The rows then
    * hash-partition by doc — which keeps the broadcast per-term df
    * table out of the scan stage and is the only shuffle the per-doc
    * sum needs — and score row-wise with [[Search.bm25Term]] over the
    * index's N / avgdl. A term repeated in a query counts once.
    */
  private def bm25Scan(
      spark: SparkSession,
      index: Index,
      idCol: String,
      queries: Seq[(Long, Seq[String])],
      k: Int,
      batch: Boolean
  ): DataFrame = {
    import spark.implicits._
    val p = liveSegment(spark, index.dir, "postings", idCol)
      .filter(col("term").isin(queries.flatMap(_._2).distinct: _*))
    // postings are unique per (term, doc): a pruned-scan row count per
    // term IS the document frequency
    val dfs = p.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val matched =
      if (!batch) p
      else p.join(broadcast(queries
        .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
        .toDF("query_id", "term")), Seq("term"))
    val key = if (batch) Seq("query_id") else Nil
    val scored = matched
      .repartition(col(idCol))
      .join(broadcast(dfs), Seq("term"))
      .withColumn("n", lit(index.nDocs))
      .withColumn("avgdl", lit(index.avgdl))
      .groupBy((key :+ idCol).map(col): _*)
      .agg(round(sum(Search.bm25Term(col("tf"), col("df"))), 5).as("bm25"))
    topK(scored, key, "bm25", idCol, k)
  }

  /** The one semantic probe body: query featurization is DRIVER work
    * (the query strings are driver data) — dims/counts/norms computed
    * locally with the bit-identical hashedBowDimLocal and shipped as a
    * broadcast local relation (a literal norm for the one query); the
    * sparse integer dot products make the scores exact rationals before
    * the one rounded division. Anti-joining docdims alone suffices:
    * docnorms joins back inner on the id, so tombstoned docs can't
    * resurface through the norm table.
    */
  private def semanticScan(
      spark: SparkSession,
      index: Index,
      idCol: String,
      queries: Seq[(Long, String)],
      k: Int,
      batch: Boolean
  ): DataFrame = {
    import spark.implicits._
    val feats: Seq[(Long, Seq[(Long, Long)])] = queries.map { case (qid, text) =>
      qid -> TextOps.tokenizeLocal(text).map(TextOps.hashedBowDimLocal(_))
        .groupBy(identity).map { case (d, ts) => (d, ts.size.toLong) }.toSeq.sortBy(_._1)
    }
    val qss = feats.map { case (qid, ds) => (qid, ds.map(c => c._2 * c._2).sum) }
    val key = if (batch) Seq("query_id") else Nil
    val qd = feats.flatMap { case (qid, ds) => ds.map { case (d, c) => (qid, d, c) } }
      .toDF("query_id", "dim", "qcnt")
      .select((key ++ Seq("dim", "qcnt")).map(col): _*)
    val dots = liveSegment(spark, index.dir, "docdims", idCol)
      .join(broadcast(qd), "dim")
      .groupBy((key :+ idCol).map(col): _*)
      .agg(sum(col("cnt") * col("qcnt")).as("dot"))
      .join(segment(spark, index.dir, "docnorms"), idCol)
    val scored =
      (if (batch) dots.join(broadcast(qss.toDF("query_id", "qss")), "query_id")
       else dots.withColumn("qss", lit(qss.head._2)))
        .select((key :+ idCol).map(col) :+
          round(col("dot") / (sqrt(col("ss")) * sqrt(col("qss"))), 5).as("cos_sim"): _*)
    topK(scored, key, "cos_sim", idCol, k)
  }

  /** Both probe bodies' heap: the one query's `orderBy.limit`, or the
    * batch's per-query bounded heap ranked 1..k per query.
    */
  private def topK(scored: DataFrame, key: Seq[String], score: String, idCol: String,
      k: Int): DataFrame = {
    val top = graft.plans.TopK.heap(scored, key, score, ascending = false, idCol, k)
    if (key.isEmpty) top else top.orderBy("query_id", "rk")
  }
}
