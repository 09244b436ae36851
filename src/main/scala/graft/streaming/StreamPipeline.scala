package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.operators.{Ann, Featurize}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end continuous-ingest pipeline: document files arrive as a
  * stream → each micro-batch is featurized (hashed-BoW dense
  * embeddings) and appended to the persisted cluster-partitioned ANN
  * index under the EXISTING centroids → a text query probes the index
  * the moment the stream has drained. This is the reference's
  * ingest→embed→store→search loop (ingestor.py:62 → embedder.py:41 →
  * store.py:180 → store.py:261) re-expressed as Structured Streaming
  * plus index maintenance — the store layout carries all state, the
  * stream carries none.
  *
  * Shape at scale: featurization is the batch [[Featurize.hashedBow]]
  * inside `foreachBatch` (per-batch partial-agg aggregation, no
  * unbounded streaming state); the index append is a
  * partitioned-by-cluster parquet write (file-level pruning for every
  * later probe); the probe scans ~nProbe/k of the landed bytes.
  */
object StreamPipeline {

  /** File-stream the parquet table `file` of a testdata dir. The file
    * source requires a DIRECTORY to watch, so the table file is linked
    * into a fresh staging dir — the local stand-in for the landing zone
    * new corpus files arrive in. `schema` is the caller's: each source
    * keeps its own (memoized or raw) schema read.
    */
  def landing(spark: SparkSession, dir: String, file: String, schema: StructType): DataFrame = {
    val staging = deleteRecursivelyOnExit(Files.createTempDirectory("graft_landing_"))
    Files.createSymbolicLink(staging.resolve(file), Paths.get(dir, file))
    spark.readStream.schema(schema).parquet(staging.toString)
  }

  /** File-stream the documents table of a testdata dir. */
  def documentStream(spark: SparkSession, dir: String): DataFrame =
    landing(spark, dir, "documents.parquet", graft.Tables.documents(spark, dir).schema)

  /** File-stream the embeddings table of a testdata dir — the vector
    * landing zone ([[documentStream]]'s sibling for embedding ingest).
    */
  def embeddingStream(spark: SparkSession, dir: String): DataFrame =
    landing(spark, dir, "embeddings.parquet", graft.Tables.embeddings(spark, dir).schema)

  /** Start an append-mode `foreachBatch` query on `stream`; `body` gets
    * each micro-batch spread by [[distributeBatch]]. The caller owns
    * `processAllAvailable`/`stop`. The harness adds no `isEmpty` job:
    * a body that needs one checks for itself.
    */
  def eachBatch(stream: DataFrame)(body: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => body(distributeBatch(batch)) }
      .start()

  /** [[eachBatch]] run to the end of the available input, then stopped. */
  def drain(stream: DataFrame)(body: DataFrame => Unit): Unit = {
    val q = eachBatch(stream)(body)
    try q.processAllAvailable() finally q.stop()
  }

  /** Drain `df` through a memory sink in output `mode` and return the
    * sink's rows. The sink's temp view is dropped before returning: the
    * returned frame is resolved first and keeps reading the sink, so
    * no `stream_*` view outlives the call.
    */
  def drainToMemory(df: DataFrame, mode: String): DataFrame = {
    val name = "stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { q.processAllAvailable(); df.sparkSession.table(name) }
    finally { q.stop(); df.sparkSession.catalog.dropTempView(name) }
  }

  /** STREAMED ANN index maintenance (the vector face of
    * [[bm25AppendSnapshot]]'s loop): delta vectors arrive as a file
    * stream, each micro-batch is assigned to the FIXED base centroids
    * and appended into the persisted partitioned layout via
    * [[graft.operators.Ann.appendToIndex]] — no refit, no rewrite,
    * probes see new rows at the next trigger. Assignment is a pure
    * per-row function of (vector, centroids), so batch boundaries
    * cannot change the landed layout: the merged index equals
    * ann_incremental's one-shot append whatever the trigger cadence.
    */
  def appendToAnnIndex(
      spark: SparkSession,
      dir: String,
      path: String,
      centroids: Array[Array[Double]],
      deltaFilter: org.apache.spark.sql.Column = lit(true)
  ): Unit =
    // deltaFilter is the CALLER's landing-zone predicate (e.g. "only the
    // rows not already in the base index"); the operator itself appends
    // exactly what arrives
    drain(embeddingStream(spark, dir).select("vec_id", "embedding").filter(deltaFilter)) { b =>
      if (!b.isEmpty) Ann.appendToIndex(path, b, "embedding", centroids)
    }

  /** Streamed delta maintenance for the two-level RESIDUAL-PQ layout —
    * [[appendToAnnIndex]]'s flagship-index sibling (F10 × the round-14
    * lifecycle): each micro-batch routes through the SAME hierarchical
    * assigner and fitted residual codebooks as the base corpus
    * ([[graft.operators.Ann.assignTwoLevel]] →
    * [[graft.operators.Pq.appendIvfPqResidualAssigned]]), so the landed
    * layout is batch-boundary-invariant (assignment + encode are
    * per-row pure) and equals the one-shot append — which equals a
    * from-scratch write (TwoLevelSpec). Probes see each delta at the
    * next read via the clustered append's listing invalidation.
    */
  def appendToIvfPqResidualIndex(
      spark: SparkSession,
      dir: String,
      path: String,
      two: graft.operators.Ann.TwoLevel,
      centroids: Array[Array[Double]],
      model: graft.operators.Pq.Model,
      deltaFilter: org.apache.spark.sql.Column = lit(true)
  ): Unit = {
    val stream = embeddingStream(spark, dir)
      .select("vec_id", "embedding").filter(deltaFilter)
    val q = ivfPqResidualAppendQuery(stream, path, two, centroids, model)
    try q.processAllAvailable() finally q.stop()
  }

  /** The maintenance SINK of [[appendToIvfPqResidualIndex]] started on
    * an arbitrary vector stream and returned UNSTOPPED — the seam the
    * streamed-lifecycle composition uses: a caller can interleave the
    * other maintenance verbs (tombstone delete, threshold-policy
    * compaction with its in-place swap) BETWEEN micro-batches while the
    * append query stays live, which is exactly how a continuously-
    * ingesting deployment runs (ingest never pauses for maintenance;
    * the swap is fenced against a racing batch by the LayoutLog).
    * Caller owns `processAllAvailable`/`stop`.
    */
  def ivfPqResidualAppendQuery(
      stream: DataFrame,
      path: String,
      two: graft.operators.Ann.TwoLevel,
      centroids: Array[Array[Double]],
      model: graft.operators.Pq.Model
  ): StreamingQuery =
    eachBatch(stream) { b =>
      if (!b.isEmpty)
        graft.operators.Pq.appendIvfPqResidualAssigned(path,
          Ann.assignTwoLevel(b, "embedding", two), "embedding", "vec_id", centroids, model)
    }

  /** Spread a file-source micro-batch across the cluster before heavy
    * per-row work. The micro-batch arrives as a SINGLE-partition row
    * RDD (one trigger's files), and a bare `repartition` is not enough:
    * Catalyst pushes generator pruning filters — which re-evaluate the
    * full tokenize/shingle expression per row — through the exchange
    * back onto that one partition, so the whole corpus-sized expression
    * cost runs on one core (measured 51 s vs 2.5 s for the same batch
    * operator at sf0.1). `localCheckpoint` materializes the RAW rows
    * (cheap — a delta batch, not the corpus) at cluster parallelism
    * and is a barrier no pushdown crosses: everything downstream plans
    * exactly like the batch flow, fully distributed.
    */
  private def distributeBatch(batch: DataFrame): DataFrame =
    // LAZY checkpoint: the blocks materialize inside the first
    // consumer's job instead of an extra eager job per micro-batch
    // (same barrier, same distribution — one fewer fixed job latency
    // in every foreachBatch body)
    batch.repartition(batch.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(false)

  /** Run independent per-batch actions CONCURRENTLY (guide §2.6 — the
    * Fts.writeSegments recipe: actions are only sequential because the
    * driver calls them sequentially; a micro-batch body paying k
    * sequential job latencies pays max-of-k instead). Awaits EVERY
    * action — also after one fails, so no sibling write is still
    * landing files when the batch body rethrows — then propagates the
    * first failure and shuts the pool down: no timing bleed outside the
    * batch body.
    */
  private[graft] def concurrently(actions: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(actions.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      import scala.concurrent.{Await, Future}
      val running = actions.map(a => Future(a()))
      running.map(f => Await.ready(f, scala.concurrent.duration.Duration.Inf).value.get)
        .collectFirst { case scala.util.Failure(e) => throw e }: Unit
    } finally pool.shutdown()
  }

  /** Temp roots to delete at JVM exit, and the one shutdown hook that
    * deletes them (registered on first use). A root that fails to
    * delete does not stop the others.
    */
  private val exitRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    exitRoots.forEach { root =>
      try if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    }))

  /** Recursively delete `root` at JVM exit. The staging and index temp
    * dirs must outlive the LAZY probe DataFrame that reads them, so
    * eager cleanup is impossible — but nothing should outlive the
    * process, or repeated bench/verify invocations accumulate them.
    * Every root rides one shutdown hook, however many calls register.
    */
  def deleteRecursivelyOnExit(root: Path): Path = {
    exitHook
    exitRoots.add(root)
    root
  }

  /** Run the full flow synchronously: stream `dir`'s documents into a
    * fresh index at `indexDir` (centroids supplied by the caller's
    * offline fit), then return the top-`k` probe for `queryText`.
    */
  def ingestAndProbe(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      centroids: Array[Array[Double]],
      queryText: String,
      dims: Int = 64,
      nProbe: Int = 3,
      k: Int = 10,
      cells: Option[Seq[Int]] = None): DataFrame = {
    drain(documentStream(spark, dir).select("doc_id", "text")) { b =>
      if (!b.isEmpty) {
        val embedded = Featurize.hashedBow(b, "text", dims, Seq("doc_id"))
        Ann.appendToIndex(indexDir, embedded.select("doc_id", "embedding"), "embedding", centroids)
      }
    }
    val queryDf = queryEmbedding(spark, queryText, dims)
    // a caller that already derived the probe cells (Queries.streamPipeline
    // computes them for the oracle artifact) skips the probe-side
    // re-collect of the query vector — one fewer driver job
    Ann.probe(Ann.liveLayout(spark, indexDir, "doc_id"), queryDf, "q_vec", "embedding", "doc_id",
      k, cells.getOrElse(
        Ann.nearestCells(centroids, Ann.queryVector(queryDf, "q_vec"), nProbe)))
  }

  /** One-row hashed-BoW embedding of a query text (the same featurizer
    * the ingest leg applies to documents).
    */
  def queryEmbedding(spark: SparkSession, queryText: String, dims: Int = 64): DataFrame =
    Featurize
      .hashedBow(
        spark.range(1).select(lit(queryText).as("text"), col("id")),
        "text", dims, Seq("id"))
      .select(col("embedding").as("q_vec"))

  /** Streamed span decontamination: every arriving micro-batch of
    * documents is scrubbed against the benchmark gram set BEFORE it
    * lands — contamination never reaches the store. The batch operator
    * ([[graft.operators.Dedup.decontaminateSpansPrecomputed]]) runs
    * inside `foreachBatch`: per-document results depend only on
    * (document, benchmark), never on batch composition, so the landed
    * table equals the batch flow over the same corpus regardless of how
    * the stream was micro-batched — which is exactly what the shared
    * DuckDB twin checks. The benchmark gram set is static and tiny (an
    * eval set), so it is tokenized ONCE, before the stream starts
    * ([[graft.operators.Dedup.benchmarkGramHashes]]); each batch then
    * pays one broadcast of the precomputed hashes instead of
    * re-planning the benchmark leg per trigger. The stream holds no
    * state. Per-batch wall times go to stderr (`[graft-stream]`) so a
    * slow run shows WHERE the time went (trigger count vs batch work).
    */
  def decontaminateAndLand(
      spark: SparkSession,
      dir: String,
      benchmark: DataFrame,
      landDir: String,
      minDocId: Long = 10L
  ): DataFrame = {
    val t0 = System.nanoTime()
    val benchGrams = graft.operators.Dedup.benchmarkGramHashes(benchmark, "text")
    System.err.println(f"[graft-stream] decontaminate: ${benchGrams.length} benchmark grams " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    drain(documentStream(spark, dir).select("doc_id", "text").filter(col("doc_id") >= minDocId)) {
      corpus =>
        val bt = System.nanoTime()
        if (!corpus.isEmpty) {
          graft.operators.Dedup
            .decontaminateSpansPrecomputed(corpus, benchGrams, "text", "doc_id")
            .coalesce(4) // micro-batch landing: bound files, not 1/partition
            .write.mode("append").parquet(landDir)
        }
        System.err.println(f"[graft-stream] decontaminate batch ${nBatches.incrementAndGet()}: " +
          f"${(System.nanoTime() - bt) / 1e9}%.2f s")
    }
    spark.read.parquet(landDir).orderBy("doc_id")
  }

  /** Streamed incremental MinHash signing: each micro-batch signs ONLY
    * its own documents (after `augment`, the per-row corpus expansion
    * the batch flow applies) and upserts them into the persisted
    * signature store — [[graft.operators.Dedup.appendSignatures]]
    * driven from a stream. Signatures are a pure function of the single
    * document, so micro-batch boundaries cannot change them; a pair
    * sweep over the merged store afterwards equals the one-shot batch
    * LSH. This is the 100 TB ingest loop: new corpus files land, only
    * they get signed, dedup state accrues in the manifest store.
    */
  def signAndStore(
      spark: SparkSession,
      dir: String,
      store: graft.operators.ChunkStore,
      augment: DataFrame => DataFrame = identity
  ): Unit =
    drain(documentStream(spark, dir).select("doc_id", "text")) { b =>
      if (!b.isEmpty) graft.operators.Dedup.appendSignatures(store, augment(b), "text", parts = 4)
    }

  /** STREAMED FTS index maintenance (the text-index face of
    * [[appendToAnnIndex]], sibling of [[signAndStore]]'s minhash loop):
    * the base index is built in batch over doc_id % 5 != 0, the
    * remaining fifth arrives as a file stream, and each micro-batch is
    * tokenized and APPENDED to the persisted layout via
    * [[graft.operators.Fts.appendToIndex]] — only arriving documents
    * are ever re-tokenized, the store carries all state and the stream
    * none. Because the index stores (nDocs, sumDl) and postings ride
    * their own df/tf/dl, per-micro-batch appends accumulate to EXACTLY
    * the one-shot index whatever the batch boundaries (cross-batch
    * parity spec'd in StreamingSpec; the probe shares bm25_topk's
    * full-corpus twin). This is the reference's re-ingest loop
    * (store.py:197 replace=True rebuilds the FTS index per ingest) as
    * the only shape that survives 100 TB: appends, never rebuilds.
    */
  def bm25AppendSnapshot(
      spark: SparkSession,
      dir: String,
      base: graft.operators.Fts.Index,
      queryTerms: Seq[String],
      k: Int
  ): DataFrame = {
    import graft.operators.Fts
    // hardlink-clone so this run's appends never mutate the shared
    // memoized base layout (the query measures the STREAMING loop, not
    // the one-time base build)
    val idx = new java.util.concurrent.atomic.AtomicReference(Fts.cloneIndex(base))
    // Fts.appendToIndex checks the batch for emptiness itself
    drain(documentStream(spark, dir).select("doc_id", "text").filter(col("doc_id") % 5 === 0)) {
      b => idx.set(Fts.appendToIndex(idx.get(), b, "text", "doc_id"))
    }
    Fts.probe(spark, idx.get(), "doc_id", queryTerms, k)
  }

  /** STREAMED doc-embedding sidecar maintenance (the C14 face of
    * [[bm25AppendSnapshot]]'s loop): corpus documents arrive as a file
    * stream, each micro-batch's docs are chunked and pooled INSIDE the
    * batch and only those sparse rows append to the sidecar
    * ([[graft.operators.Featurize.appendDocEmbeddings]]). A pooled row
    * is a pure function of its own document's chunks — all of which
    * chunk within the doc's batch — so whatever the batch boundaries
    * the merged sidecar is row-identical to a one-shot build
    * (cross-batch parity spec'd; the probe shares docsim_topk's twin).
    */
  def docEmbeddingAppend(spark: SparkSession, dir: String, sidecarDir: String): Unit =
    drain(documentStream(spark, dir).select("doc_id", "text").filter(col("doc_id") % 5 === 0)) {
      b =>
        if (!b.isEmpty) {
          val ch = graft.operators.Chunker
            .fixedSize(b, "text", chunkSize = 32, overlap = 8, keep = Seq("doc_id"))
            .select("doc_id", "chunk_index", "chunk")
          Featurize.appendDocEmbeddings(sidecarDir, ch, "doc_id", "chunk_index", "chunk")
        }
    }

  /** Streaming CDC upsert loop: every micro-batch lands in the
    * manifest [[graft.operators.ChunkStore]] as three segments —
    * the batch's originals, then its revisions (`doc_id % 7 == 3` →
    * uppercased text, lang 'xx'), then its tombstones
    * (`doc_id % 13 == 5`). Each document's final state is a pure
    * function of the document itself (its three operations always land
    * in that order inside its own batch, and operations on DIFFERENT
    * keys commute under latest-segment-wins), so micro-batch
    * composition cannot change the merged table — equal by construction
    * to the batch upsert→revise→delete flow, which is what the DuckDB
    * twin replays. This is the 100 TB CDC shape: a change feed lands as
    * append-only segments + manifest pointer swaps, never a rewrite of
    * the base table.
    */
  def upsertCdc(
      spark: SparkSession,
      dir: String,
      store: graft.operators.ChunkStore
  ): DataFrame = {
    drain(documentStream(spark, dir).select("doc_id", "text", "lang", "source")) { b =>
      if (!b.isEmpty) {
        // parts=4 bounds each CDC segment's file count: the checkpointed
        // micro-batch carries defaultParallelism near-empty partitions,
        // and without the bound the drain's merge-on-read scanned 85
        // files after three segments (three 85-task stages at sf0.001)
        store.upsert(b, parts = 4)
        store.upsert(b.filter(col("doc_id") % 7 === 3)
          .withColumn("text", upper(col("text")))
          .withColumn("lang", lit("xx")), parts = 4)
        store.delete(b.filter(col("doc_id") % 13 === 5).select("doc_id"), parts = 4)
      }
    }
    store.read(spark)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("content_hash"))
      .orderBy("doc_id")
  }

  /** File-stream the events table, ts normalized to epoch-nanos longs
    * exactly like the batch loader ([[graft.Tables.events]]).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame = graft.Tables.tsAsNanos(
    landing(spark, dir, "events.parquet", graft.Tables.rawEvents(spark, dir).schema))

  /** Per-user funnel state transition over a typed (user, ts, type)
    * stream — reusable by [[funnelSnapshot]] and the multi-batch
    * parity spec. Emits the user's reached-stage count per trigger
    * (monotone, so `max` per user is the final value).
    */
  def funnelProgress(
      typed: org.apache.spark.sql.Dataset[(Long, Long, String)],
      stages: Seq[String]
  ): org.apache.spark.sql.Dataset[(Long, Int)] = {
    import typed.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    typed
      .groupByKey(_._1)
      .mapGroupsWithState[Seq[Long], (Long, Int)](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String)], state) =>
          var times = state.getOption.getOrElse(Seq.fill(stages.length)(Long.MaxValue))
          for ((_, t, tpe) <- rows.toSeq.sortBy(_._2)) {
            val i = stages.indexOf(tpe)
            if (i == 0) { if (t < times.head) times = times.updated(0, t) }
            else if (i > 0 && times(i - 1) != Long.MaxValue && t > times(i - 1) && t < times(i))
              times = times.updated(i, t)
          }
          state.update(times)
          (uid, times.takeWhile(_ != Long.MaxValue).length)
      }
  }

  /** STREAMED conversion funnel: per-user ordered stage progress kept
    * as `mapGroupsWithState` state — each user's vector of
    * first-qualifying stage times, updated by min as events arrive
    * (assumes per-user in-order arrival, the partitioned-by-user
    * deployment; within a micro-batch rows are sorted by ts, so the
    * single ascending pass computes exactly the batch chain: when a
    * stage-k event at time t is processed, the state already holds the
    * FINAL first-qualifying time of stage k-1 among events before t).
    * The drained per-user stage counts must equal the batch
    * [[graft.operators.Events.funnel]] — shared oracle twin.
    */
  def funnelSnapshot(spark: SparkSession, dir: String, stages: Seq[String]): DataFrame = {
    import spark.implicits._
    val typed = eventStream(spark, dir)
      .select(col("user_id").cast("long"), col("ts").cast("long"), col("event_type"))
      .as[(Long, Long, String)]
    val per = drainToMemory(funnelProgress(typed, stages).toDF("user_id", "reached"), "update")
      .groupBy("user_id").agg(max("reached").as("reached"))
    val countAggs = stages.indices.map(i =>
      sum(when(col("reached") > i, 1L).otherwise(0L)).as(s"_c$i"))
    val counts = per.agg(countAggs.head, countAggs.tail: _*)
    val stageRows = stages.zipWithIndex.map { case (st, i) => (st, i.toLong) }
      .toDF("stage", "stage_index")
    stageRows
      .crossJoin(broadcast(counts))
      .withColumn("users",
        coalesce(stages.indices.map(i => when(col("stage_index") === i, col(s"_c$i"))): _*))
      .select("stage", "stage_index", "users")
      .orderBy("stage_index")
  }

  /** STREAMED cohort retention: per-user state is (cohort day, set of
    * active days seen); each micro-batch emits the user's NEWLY seen
    * (cohort, day_offset) pairs — append-mode, so every distinct
    * (user, day) lands in the sink exactly once and the final count per
    * (cohort, offset) IS distinct users, exactly like the batch
    * [[graft.operators.Events.retention]]'s distinct-then-count. Same
    * per-user in-order arrival contract as [[funnelProgress]] (the
    * partitioned-by-user deployment): the first event fixes the cohort.
    * State is bounded by ACTIVE DAYS per user, not events — the 100 TB
    * shape (a year of state is ≤366 longs per user).
    */
  def retentionProgress(
      typed: org.apache.spark.sql.Dataset[(Long, Long)] // (user, day)
  ): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import typed.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Set[Long]), (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state) =>
          var (cohort, seen) =
            state.getOption.getOrElse((Long.MaxValue, Set.empty[Long]))
          val out = Seq.newBuilder[(Long, Long)]
          for (d <- rows.map(_._2).toSeq.sorted) {
            if (cohort == Long.MaxValue) cohort = d
            if (!seen(d)) { seen += d; out += ((cohort, d - cohort)) }
          }
          state.update((cohort, seen))
          out.result().iterator
      }
  }

  def retentionSnapshot(
      spark: SparkSession,
      dir: String,
      dayDivisor: Long = 86400000000000L): DataFrame = {
    import spark.implicits._
    val typed = eventStream(spark, dir)
      .select(col("user_id").cast("long"),
        expr(s"ts DIV $dayDivisor").cast("long").as("day"))
      .as[(Long, Long)]
    drainToMemory(retentionProgress(typed).toDF("cohort", "day_offset"), "append")
      .groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort", "day_offset")
  }

  /** STREAMED session-path analysis — the state loop behind
    * [[pathsSnapshot]]: per-user state is (last event millis, the
    * CURRENT session's trailing n−1 event types) — O(n) per user, the
    * 100 TB shape (state never grows with history, unlike a
    * collect-the-session formulation). Each arriving event emits
    * exactly the one n-step path it completes (append mode), with the
    * session cleared on a gap — so the drained sink holds one row per
    * consecutive in-session window, identical to the batch
    * [[graft.operators.Events.topPaths]] pre-aggregation. Same
    * per-user in-order arrival contract as [[funnelProgress]]; within
    * a micro-batch rows sort by (ts, event_id).
    */
  def pathsProgress(
      typed: org.apache.spark.sql.Dataset[(Long, Long, Long, String)], // (user, ms, event_id, type)
      n: Int = 3,
      gapMs: Long = 1800000L
  ): org.apache.spark.sql.Dataset[(Long, String)] = {
    import typed.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Seq[String]), (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String)], state) =>
          var (lastTs, recent) =
            state.getOption.getOrElse((Long.MinValue, Seq.empty[String]))
          val out = Seq.newBuilder[(Long, String)]
          for ((_, t, _, tpe) <- rows.toSeq.sortBy(r => (r._2, r._3))) {
            if (lastTs != Long.MinValue && t - lastTs > gapMs) recent = Seq.empty
            recent = (recent :+ tpe).takeRight(n)
            if (recent.length == n) out += ((uid, recent.mkString(">")))
            lastTs = t
          }
          state.update((lastTs, recent))
          out.result().iterator
      }
  }

  def pathsSnapshot(
      spark: SparkSession,
      dir: String,
      n: Int = 3,
      gapMs: Long = 1800000L,
      topK: Int = 20): DataFrame = {
    import spark.implicits._
    val typed = eventStream(spark, dir)
      .select(col("user_id").cast("long"),
        expr("ts DIV 1000000").cast("long").as("ms"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
    drainToMemory(pathsProgress(typed, n, gapMs).toDF("user_id", "path"), "append")
      .groupBy("path")
      .agg(count(lit(1)).as("occurrences"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("occurrences").desc, col("path"))
      .limit(topK)
  }

  /** STREAMED interval join — [[graft.operators.Events.intervalJoin]]'s
    * streaming face: clicks ARRIVE as a stream and match against the
    * STATIC incident-window table (a stream-static equi-join on the
    * time bin; the exploded window-bin table is small and broadcast).
    * Each match depends only on (click, window table), never on batch
    * composition, so the drained per-window aggregation equals the
    * batch flow over any micro-batching — the shared DuckDB twin.
    */
  def intervalJoinSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.events(spark, dir)
      .select(col("event_id"), expr("ts DIV 1000000").as("t"),
        col("event_type"), col("value"))
    val windows = base.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("t").as("w_start"),
        (col("t") + 300000L).as("w_end"))
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        expr("ts DIV 1000000").as("t"), col("value"))
    drainToMemory(graft.operators.Events
      .intervalJoin(clicks, broadcast(windows), "t", "w_start", "w_end", binWidth = 300000L)
      .select("win_id", "click_id", "value"), "append")
      .groupBy("win_id")
      .agg(count(lit(1)).as("n_clicks"), round(sum("value"), 2).as("click_value"))
      .orderBy("win_id")
  }

  /** STREAMED corpus drift — the MONOID face of
    * [[graft.operators.TextAnalysis.corpusDrift]]: the new snapshot
    * arrives as a file stream; each micro-batch lands only its PARTIAL
    * term counts and shape sums (counts are a monoid — partials from
    * any split merge by summation), never re-tokenizing earlier
    * batches. The drain merges the partials and runs the same drift
    * arithmetic against the reference snapshot, so the result equals
    * the batch flow over any micro-batching — the shared twin. At
    * scale this is the incremental-statistics design: per-batch work
    * is proportional to the batch, drain-side work to the vocabulary.
    */
  def driftSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val refA = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    val landTerms = deleteRecursivelyOnExit(
      Files.createTempDirectory("graft_drift_t_")).toString + "/t"
    val landShape = deleteRecursivelyOnExit(
      Files.createTempDirectory("graft_drift_s_")).toString + "/s"
    // Seed both land dirs with empty typed writes (the heavy-hitters
    // empty-stream guard): an all-empty stream must drain to the
    // zero-count drift result, not a 'Path does not exist' throw.
    val emptyDocs = spark.range(0)
      .select(col("id").as("doc_id"), lit("").as("text"))
    graft.operators.TextAnalysis.driftTermCounts(emptyDocs, "text", "cb")
      .write.mode("overwrite").parquet(landTerms)
    graft.operators.TextAnalysis.driftShapePartials(emptyDocs, "text")
      .write.mode("overwrite").parquet(landShape)
    drain(documentStream(spark, dir).filter(col("doc_id") % 2 === 1).select("doc_id", "text")) {
      b =>
        if (!b.isEmpty) {
          // the two partial writes are independent consumers of the
          // checkpointed batch — overlap them (guide §2.6, the
          // Fts.writeSegments recipe); terms ride a 32-partition
          // shuffle, so bound the landed files too
          concurrently(
            () => graft.operators.TextAnalysis.driftTermCounts(b, "text", "cb")
              .coalesce(4).write.mode("append").parquet(landTerms),
            () => graft.operators.TextAnalysis.driftShapePartials(b, "text")
              .write.mode("append").parquet(landShape))
        }
    }
    val tb = spark.read.parquet(landTerms)
      .groupBy("term").agg(sum("cb").as("cb")) // monoid merge
    graft.operators.TextAnalysis.corpusDriftFromCounts(
      graft.operators.TextAnalysis.driftTermCounts(refA, "text", "ca"), tb,
      graft.operators.TextAnalysis.shapeFromPartials(
        graft.operators.TextAnalysis.driftShapePartials(refA, "text")),
      graft.operators.TextAnalysis.shapeFromPartials(spark.read.parquet(landShape)))
  }

  /** STREAMED heavy hitters (the E33 sketch run as ingest-time
    * maintenance): each micro-batch lands its exploded term stream AND
    * its per-partition Misra-Gries candidate keys — the landed sketch
    * is ≤ m·partitions keys per batch, never the batch's vocabulary —
    * and at drain ONE exact recount runs over the landed terms
    * semi-joined to the accumulated candidate union. Completeness
    * survives streaming because the pigeonhole argument is over ANY
    * cell decomposition of the corpus: the cells are now
    * (micro-batch × partition), and a globally θ-heavy term must be
    * locally heavy in some cell, so its key is in some batch's landed
    * candidate set. Per-batch work ∝ batch; the drain recount touches
    * the corpus once — identical to the batch operator's shape, so the
    * result is batch-boundary-invariant and shares
    * [[graft.Queries.heavyHitters]]'s exact GROUP BY + HAVING twin.
    */
  def heavyHittersSnapshot(
      spark: SparkSession,
      docStream: DataFrame,
      theta: Double,
      m: Int): DataFrame = {
    // Strict, matching Freq.heavyHitters: at theta*(m+1) == 1 the
    // pigeonhole argument only gives local count ≥ n_p/(m+1), but MG
    // retention needs strictly greater — the boundary is a silent
    // false-negative class.
    require(theta * (m + 1) > 1.0,
      s"theta*(m+1) must be > 1 for completeness: theta=$theta m=$m")
    val landTerms = deleteRecursivelyOnExit(
      Files.createTempDirectory("graft_hh_t_")).toString + "/terms"
    val landCand = deleteRecursivelyOnExit(
      Files.createTempDirectory("graft_hh_c_")).toString + "/cand"
    // Seed both land dirs with an empty typed write: if EVERY
    // micro-batch is empty the foreachBatch body never runs, and the
    // drain's spark.read.parquet would throw 'Path does not exist'
    // instead of returning the (correct) empty result.
    val emptyTerms = spark.range(0).select(lit("").as("term"))
    emptyTerms.write.mode("overwrite").parquet(landTerms)
    emptyTerms.write.mode("overwrite").parquet(landCand)
    drain(docStream.select("text")) { b =>
      if (!b.isEmpty) {
        val items = b.select(explode(graft.functions.TextOps.tokenize(col("text"))).as("term"))
        // independent consumers of the checkpointed batch — overlap
        // (guide §2.6); the exploded-term landing keeps the batch's
        // partitioning (map-only, corpus-sized per batch)
        concurrently(
          () => items.write.mode("append").parquet(landTerms),
          () => graft.operators.Freq.mgCandidates(items, "term", m)
            .coalesce(4).write.mode("append").parquet(landCand))
      }
    }
    graft.operators.Freq.recount(
      spark.read.parquet(landTerms),
      spark.read.parquet(landCand).distinct(),
      "term", theta)
  }

  /** Streamed per-source BPE token accounting, drained synchronously:
    * the complete-mode [[EventStreams.tokenAccounting]] aggregation
    * lands in a memory sink and the final totals come back ordered.
    * Equal BY CONSTRUCTION to the batch aggregation over the same
    * corpus — which is exactly what its DuckDB twin checks.
    */
  def tokenBudgetSnapshot(spark: SparkSession, dir: String, budget: Long): DataFrame =
    drainToMemory(EventStreams.tokenAccounting(
      documentStream(spark, dir).select("doc_id", "source", "text"), budget), "complete")
      .select(col("source"), col("docs"), col("bpe_tokens"), col("over_budget"))
      .orderBy("source")
}
