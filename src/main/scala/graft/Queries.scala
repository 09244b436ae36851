package graft

import graft.functions.{TextOps, VectorOps}
import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Named query registry: every SURVEY.md §2 operator applied to the
  * driver's test tables. Each entry has a DuckDB twin in [[OracleSql]]
  * with identical column names, types (computed ints as long), rounding
  * (scores to 5 dp before ordering) and ORDER BY.
  */
object Queries {

  /** The fixed text query used by the BM25/hybrid demos. */
  val QueryTerms: Seq[String] = Seq("spark", "filter", "join", "stream")

  /** The fixed query batch for [[bm25Batch]] — shared with its twin. */
  val BatchTextQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "filter"),
    1L -> Seq("join", "stream"),
    2L -> Seq("spark", "join", "stream"),
    3L -> Seq("filter"))

  private def docs(s: SparkSession, dir: String)   = Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String)   = Tables.embeddings(s, dir)
  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** One-row DataFrame holding the query vector (vec_id = 0). */
  private def queryVecDf(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))

  // ── Driver-side query artifacts for the persisted-probe serving paths.
  // The round-11 bench metrics showed every warm persisted probe paying
  // 7-11 sequential driver jobs with 70-85% of wall OUTSIDE tasks — and
  // most of those jobs were re-deriving the same bounded query-side
  // artifacts per call (collect the query vector, rebuild the |Q|-row
  // cell ranking, re-broadcast a scanned query frame). Queries are the
  // definition of a probe, not data: collect them ONCE per corpus and
  // serve them as LOCAL relations — a broadcast over a local relation
  // builds on the driver without a job, so a warm single-query probe is
  // the probe action alone (asserted in ProbeJobCountSpec).

  // bounded + weak-session-keyed (the Caches rationale: an unbounded
  // map of DataFrames never lets entries die and pins their sessions;
  // an identity-hash key can collide across live sessions)
  private val localDfCache =
    graft.operators.Caches.lru[(String, String, String), DataFrame](128)

  /** Memoized collect-and-relocalize: the same rows and schema as `df`,
    * as a LocalRelation (exact values — Row copies, no re-encode).
    */
  private def localized(s: SparkSession, dir: String, tag: String, df: => DataFrame): DataFrame =
    localDfCache.computeIfAbsent((graft.operators.Caches.sessionId(s), dir, tag), _ => {
      val d = df
      s.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
    })

  /** [[queryVecDf]] as a memoized local relation — zero jobs per use. */
  private def queryVecLocal(s: SparkSession, dir: String): DataFrame =
    localized(s, dir, "qvec", queryVecDf(s, dir))

  /** The 8-query batch-probe set as a memoized local relation. */
  private def batchQueriesLocal(s: SparkSession, dir: String): DataFrame =
    localized(s, dir, "qbatch",
      embs(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec")))

  // ── The vector-index fixture every ANN key shares: one corpus, one
  // full-corpus IVF fit, one query vector, one 8-query batch and one
  // scripted lifecycle. Each fitted artifact is stashed in
  // [[OracleArtifacts]] by the helper that fits it, keyed by the fit,
  // so [[OracleSql.dynamic]] builds every twin of that fit from one
  // holder.

  /** The probe corpus: every embedding but query vector 0, as
    * (vec_id, [label,] embedding).
    */
  private def probeCorpus(s: SparkSession, dir: String, label: Boolean = false): DataFrame =
    embs(s, dir).filter(col("vec_id") =!= 0)
      .select((Seq("vec_id") ++ (if (label) Seq("label") else Nil) :+ "embedding").map(col): _*)

  /** The `nProbe` cells nearest a one-row query relation's `q_vec`, best first. */
  private def probeCells(centroids: Array[Array[Double]], q: DataFrame, nProbe: Int = 3): Seq[Int] =
    Ann.nearestCells(centroids, Ann.queryVector(q, "q_vec"), nProbe)

  /** The full-corpus IVF fit (k = 10, seed = 42; memoized) that every
    * flat IVF, SQ, BQ, MRL and PQ key probes.
    */
  private def ivfFit(s: SparkSession, dir: String): Ann.Index =
    Ann.buildCached(dir, embs(s, dir), "embedding", "vec_id", k = 10, seed = 42)

  /** [[ivfFit]] with query vector 0's ranked cells stashed as the fit's
    * oracle artifact (5 cells — the recall sweep's widest nProbe; a
    * smaller nProbe probes a prefix); returns the index and the first
    * `nProbe` cells.
    */
  private def ivfIndex(s: SparkSession, dir: String, nProbe: Int = 3): (Ann.Index, Seq[Int]) = {
    val index = ivfFit(s, dir)
    val ranked = probeCells(index.centroids, queryVecLocal(s, dir), nProbe = 5)
    OracleArtifacts.ivf = Some((index.centroids, ranked))
    (index, ranked.take(nProbe))
  }

  /** The 8-query batch, each query carrying its 3 nearest cells (ranked
    * on the driver, served as a local relation).
    */
  private def batchCells(s: SparkSession, dir: String, centroids: Array[Array[Double]]): DataFrame =
    Ann.queryCellsLocal(batchQueriesLocal(s, dir), "q_vec", "query_id", centroids, nProbe = 3)

  /** Probe the live rows of the persisted layout at `path` with query
    * vector 0 over `cells`, or with a [[batchCells]] batch; `labeled`
    * prefilters to `label IN (2, 5)` inside the pruned scan and keeps
    * the label.
    */
  private def liveProbe(s: SparkSession, path: String, queries: DataFrame, topK: Int,
      cells: Seq[Int] = Nil, labeled: Boolean = false): DataFrame =
    Ann.probe(Ann.liveLayout(s, path, "vec_id"), queries, "q_vec", "embedding", "vec_id",
      topK = topK, cells = cells,
      prefilter = if (labeled) Some(col("label").isin(2, 5)) else None,
      keep = if (labeled) Seq("label") else Nil)

  /** The scripted lifecycle's row sets: the 90% base every maintenance
    * fit uses, the 10% delta appended to it, and the 10% deleted.
    */
  private def lifecycleBase(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter(col("vec_id") % 10 =!= 7)
  private def deltaRows: Column = col("vec_id") % 10 === 7
  private def tombstones(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter(col("vec_id") % 10 === 3).select("vec_id")

  /** recall@10 of a probe's ids against the exact top 10 (4 dp). */
  private def recallAt10(exact: DataFrame, probe: DataFrame): Double =
    BigDecimal(exact.join(probe, Seq("vec_id"), "left_semi").count().toDouble / 10.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (doc_id, lang, source, term) token occurrence table. */
  private def tokenTable(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenTable(docs(s, dir), "text", Seq("doc_id", "lang", "source"))

  /** Shared chunks DataFrame: 32-token windows, 8-token overlap. */
  def chunks(s: SparkSession, dir: String): DataFrame =
    Chunker.fixedSize(docs(s, dir), "text", chunkSize = 32, overlap = 8,
      keep = Seq("doc_id", "source", "lang"))

  // ── A. Scan / search core ────────────────────────────────────────────

  def scanPruned(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(col("n_chars") > 300 && col("lang") === "en")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Adversarial decoration shared by the JSONL/CSV source round-trips:
    * appended to every document before the write so the format codecs
    * must actually escape something — a comma, a double quote, a
    * backslash, a real newline and non-ASCII text. Replicated verbatim
    * by the DuckDB twins (which recompute from parquet), so any
    * encode/decode infidelity shifts the per-source md5 anchors and
    * fails the hash gate.
    */
  private[graft] val SourceDecoration = ", \"q\" \\x \\n\né 日本"

  /** Per-source fidelity fingerprint for the source round-trip queries:
    * count, total decorated length, md5 range anchors, corrupt-row
    * count. Order-independent (aggregation), so file/partition layout
    * of the round-trip is free to differ from the parquet original.
    */
  private def sourceFingerprint(back: DataFrame): DataFrame =
    back.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text"))).cast("long").as("sum_len"),
      min(md5(col("text"))).as("min_md5"),
      max(md5(col("text"))).as("max_md5"),
      sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_corrupt")
    ).orderBy("source")

  /** ONE definition of the round-trip machinery the two format queries
    * share — decorated write-side projection, explicit read schema,
    * PERMISSIVE+corrupt-record reader — so a schema or decoration
    * change cannot desynchronize the formats from each other or from
    * the shared twin.
    */
  private def decoratedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
      concat(col("text"), lit(SourceDecoration)).as("text"))

  private[graft] val SourceReadSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType),
      StructField("_corrupt", StringType)))
  }

  private def sourceReader(s: SparkSession): org.apache.spark.sql.DataFrameReader =
    s.read.schema(SourceReadSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")

  /** JSONL corpus source — the lingua franca of LLM training data
    * (crawl dumps, The-Pile-style corpora ship as jsonl.gz). The write
    * side lands gzip JSONL once per sf dir; the read side does what a
    * 100 TB job must: an EXPLICIT schema (inference is a full extra
    * pass over the corpus) with PERMISSIVE mode and a corrupt-record
    * column, so malformed lines are counted instead of killing the job
    * or silently vanishing. Scale note: .gz is non-splittable — one
    * task per file — so a real corpus wants many shards (or zstd in a
    * splittable container); the writer here inherits the source
    * parallelism, which is exactly that shape.
    */
  /** ORC corpus source round-trip — the OTHER first-class columnar
    * format next to parquet (Hive-lineage lakes ship ORC), same
    * fingerprint contract as [[jsonlScan]]. Unlike the text formats
    * ORC is binary, SPLITTABLE and predicate-pushdown-capable, so its
    * scale story is parquet's (no serial-parse caveat, min/max row-group
    * pruning); the round trip proves type + full-unicode fidelity
    * through the writer/reader pair. `_corrupt` has no meaning for a
    * binary columnar source — the schema column reads as all-null
    * (schema-evolution semantics), so n_corrupt = 0 like the
    * well-formed text writes, and the shared twin applies unchanged.
    */
  def orcScan(s: SparkSession, dir: String): DataFrame = {
    val path = graft.operators.LayoutCache.getOrWrite(s"orc:$dir") { p =>
      decoratedDocs(s, dir).write.mode("overwrite").orc(p)
    }
    sourceFingerprint(sourceReader(s).orc(path))
  }

  /** Avro corpus source round-trip — the row-oriented container next
    * to ORC/parquet's columnar pair, same fingerprint contract as
    * [[jsonlScan]]. Goes through `avro-mapred`'s Hadoop input/output
    * formats (this distribution ships no spark-avro connector — see
    * [[graft.operators.Avro]]); the container is block-compressed and
    * sync-marked, so unlike gzip JSONL a single big Avro file still
    * splits across tasks. Binary-container semantics: `_corrupt` reads
    * all-null, n_corrupt = 0, shared twin unchanged (like [[orcScan]]).
    * The read passes only the fingerprint's columns, so the Avro
    * reader/writer resolution SKIPS decoding doc_id/lang — the manual
    * column pruning of the connector-less path
    * ([[graft.operators.Avro.readerSchemaJson]]; SourceScanSpec pins
    * the projection).
    */
  def avroScan(s: SparkSession, dir: String): DataFrame = {
    val path = graft.operators.LayoutCache.getOrWrite(s"avro:$dir") { p =>
      graft.operators.Avro.write(decoratedDocs(s, dir), p)
    }
    val needed = Set("source", "text", "_corrupt")
    val pruned = org.apache.spark.sql.types.StructType(
      SourceReadSchema.fields.filter(f => needed(f.name)))
    sourceFingerprint(graft.operators.Avro.read(s, path, pruned))
  }

  def jsonlScan(s: SparkSession, dir: String): DataFrame = {
    val path = graft.operators.LayoutCache.getOrWrite(s"jsonl:$dir") { p =>
      decoratedDocs(s, dir)
        .write.option("compression", "gzip").mode("overwrite").json(p)
    }
    sourceFingerprint(sourceReader(s).json(path))
  }

  /** CSV corpus source round-trip, same contract as [[jsonlScan]]. The
    * decoration plants quotes, commas and a REAL newline in every
    * field, so the read requires `multiLine` — which at scale is the
    * documented trade: a multiLine gzip CSV parses serially per file
    * (no line-boundary splitting), so corpora that need embedded
    * newlines should prefer JSONL; this query exists to prove the
    * quoting round-trip, not to recommend the format.
    */
  def csvScan(s: SparkSession, dir: String): DataFrame = {
    val path = graft.operators.LayoutCache.getOrWrite(s"csv:$dir") { p =>
      decoratedDocs(s, dir)
        .write.option("header", "true").option("escape", "\"")
        .mode("overwrite").csv(p)
    }
    sourceFingerprint(
      sourceReader(s)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(path))
  }

  /** XML corpus source round-trip — Spark 4's NATIVE xml data source
    * (the spark-xml merge), same contract as [[jsonlScan]]. XML is the
    * format where entity escaping (&quot; &amp; &lt;) and the parser's
    * surrounding-space handling can silently corrupt text values —
    * `ignoreSurroundingSpaces=false` because corpus text is data, not
    * markup indentation. Scale note: rowTag framing means records are
    * located by tag scan, so like multiLine CSV a file parses serially;
    * shard count is the parallelism knob.
    */
  def xmlScan(s: SparkSession, dir: String): DataFrame = {
    val path = graft.operators.LayoutCache.getOrWrite(s"xml:$dir") { p =>
      decoratedDocs(s, dir)
        .write.format("xml").option("rootTag", "docs").option("rowTag", "doc")
        .mode("overwrite").save(p)
    }
    sourceFingerprint(
      sourceReader(s)
        .format("xml").option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .load(path))
  }

  def knnTopK(s: SparkSession, dir: String): DataFrame =
    Search.knnTopK(
      probeCorpus(s, dir, label = true),
      queryVecLocal(s, dir),
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id", k = 10
    ).select("vec_id", "label", "cos_sim")

  /** Int8 scalar-quantized probe: approximate cosine on SQ8 codes
    * prunes to 40 candidates, exact cosine re-ranks to top 10 (the 4×
    * memory lever for brute-force search — see [[Sq]]).
    */
  def sqProbe(s: SparkSession, dir: String): DataFrame =
    Sq.probe(
      probeCorpus(s, dir),
      queryVecLocal(s, dir),
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id",
      k = 10, refine = 40)

  /** MMR diversified re-ranking ([[graft.operators.Search.mmrRerank]]):
    * top-20 cosine pool for query vector 0, greedy λ=0.7 balance of
    * relevance vs redundancy, k=5 — the near-dup-suppressing serving
    * step between retrieval and the context window. The twin replays
    * the identical greedy as five chained argmax CTEs over the same
    * rounded cosine arithmetic.
    */
  def mmrSearch(s: SparkSession, dir: String): DataFrame =
    Search.mmrRerank(
      probeCorpus(s, dir),
      queryVecLocal(s, dir),
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id",
      k = 5, poolSize = 20, lambda = 0.7)

  /** Binary-quantization probe ([[graft.operators.Bq]]): sign-bit
    * pack → XOR+popcount hamming candidates → exact cosine re-rank.
    * Pure deterministic arithmetic, so the twin recomputes the whole
    * probe (per-dimension sign disagreement count) with no fitted
    * constants.
    */
  def bqProbe(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bq.probe(
      probeCorpus(s, dir),
      queryVecLocal(s, dir),
      vecCol = "embedding", queryVec = "q_vec", idCol = "vec_id",
      k = 10, refine = 40)

  /** [[bqProbe]] with the ROTATION pre-step
    * ([[graft.operators.Bq.probeRotated]]): hamming candidates from
    * the sign bits of a seeded random orthogonal rotation (pure
    * function of (dim, seed) — the twin regenerates the same matrix
    * and recomputes the rotation with `list_dot_product` row by row),
    * exact cosine re-rank on the ORIGINAL vectors. The production BQ
    * deployment shape (FAISS OPQ-family pre-transform): measured 0.0
    * -> 0.9 recall on axis-aligned low-rank vectors where plain sign
    * bits are coin flips outside the signal dims, at zero angular
    * distortion; on generic cones it ties plain packing (BqSpec,
    * PLANS.md).
    */
  def bqRotated(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bq.probeRotated(
      probeCorpus(s, dir),
      queryVecLocal(s, dir),
      vecCol = "embedding", queryVec = "q_vec", idCol = "vec_id",
      rot = graft.operators.Bq.rotationMatrix(64, seed = 7L),
      k = 10, refine = 40)

  /** Matryoshka prefix-dim probe ([[graft.operators.Matryoshka]]):
    * cosine on the leading 16 of 64 dims prunes to 40 candidates,
    * exact full-dim cosine re-ranks to top 10 — the MRL
    * adaptive-retrieval shape (the prefix is itself a vector, so the
    * shortlist column needs no decode). Pure slice+fold arithmetic:
    * the twin recomputes both stages with no fitted constants.
    */
  def matryoshkaProbe(s: SparkSession, dir: String): DataFrame =
    Matryoshka.probe(
      probeCorpus(s, dir),
      queryVecLocal(s, dir),
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id",
      dPrefix = 16, k = 10, refine = 40)

  /** IVF+BQ probe: the persisted cluster-partitioned 8-byte-code
    * layout, partition-pruned to the probed cells, popcount hamming
    * cut, exact re-rank from the base table — IVF pruning compounded
    * with 32× code compression ([[graft.operators.Bq.probeIvf]]).
    */
  def ivfbqProbe(s: SparkSession, dir: String): DataFrame = {
    val (index, cells) = ivfIndex(s, dir)
    val corpus = probeCorpus(s, dir)
    val path = LayoutCache.getOrWrite(s"ivfbq:$dir")(p =>
      Bq.writeIvfBq(p, corpus, "embedding", "vec_id", index.centroids))
    Bq.probeIvf(s, path, Some(corpus), queryVecLocal(s, dir), "q_vec", "vec_id", "embedding",
      cells = cells, k = 10, refine = 40)
  }

  /** IVF+MRL probe: the persisted cluster-partitioned PREFIX sidecar
    * (first 16 of 64 dims — exact leading coordinates, no quantization),
    * partition-pruned to the probed cells, prefix-cosine cut, exact
    * full-dim re-rank from the base table
    * ([[graft.operators.Matryoshka.probeIvf]]) — IVF pruning
    * compounded with the 4× prefix byte reduction, and the sidecar
    * column is itself a vector (any d' ≤ 16 tier is one more slice, no
    * re-encode).
    */
  def ivfmrlProbe(s: SparkSession, dir: String): DataFrame = {
    val (index, cells) = ivfIndex(s, dir)
    val corpus = probeCorpus(s, dir)
    val path = LayoutCache.getOrWrite(s"ivfmrl:$dir")(p =>
      Matryoshka.writeIvfMrl(p, corpus, "embedding", "vec_id", index.centroids, dPrefix = 16))
    Matryoshka.probeIvf(s, path, Some(corpus), queryVecLocal(s, dir), "q_vec", "vec_id", "embedding",
      cells = cells, dPrefix = 16, k = 10, refine = 40)
  }

  def knnPerGroup(s: SparkSession, dir: String): DataFrame =
    Search.knnTopKPerGroup(
      probeCorpus(s, dir, label = true),
      queryVecLocal(s, dir),
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id",
      groupCol = "label", k = 3
    ).orderBy("label", "rk")

  /** Exact-phrase search ("filter join"): per-doc occurrence count and
    * first position via array expressions over bound token arrays.
    */
  def phraseSearch(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
      .select(
        col("doc_id"),
        TextOps.phrasePositions(col("toks"), Seq("filter", "join")).as("pos")
      )
      .filter(size(col("pos")) > 0)
      .select(
        col("doc_id"),
        size(col("pos")).cast("long").as("phrase_count"),
        array_min(col("pos")).cast("long").as("first_pos")
      )
      .orderBy(col("phrase_count").desc, col("doc_id"))
      .limit(20)

  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    Search.bm25TopK(
      tokenTable(s, dir).select("doc_id", "term"),
      idCol = "doc_id", queryTerms = QueryTerms, k = 10
    )

  /** RM3 pseudo-relevance-feedback expansion of the canonical query:
    * feedback from the bm25_topk top-10, 5 expansion terms, α = 0.5
    * ([[Search.rm3ExpandTopK]] — the twin recomputes the relevance
    * model, the expansion-term selection AND the interpolated rescoring
    * entirely in SQL, so the whole two-round pipeline is verified, not
    * just the final scoring).
    */
  def queryExpand(s: SparkSession, dir: String): DataFrame =
    Search.rm3ExpandTopK(
      tokenTable(s, dir).select("doc_id", "term"),
      idCol = "doc_id", queryTerms = QueryTerms, k = 10
    )

  /** BM25 over the PERSISTED inverted index (store.py:197
    * `create_fts_index`): tokenize-once build (memoized, cold-pass
    * cost), then a term-pruned postings probe — must hash-match the
    * full-scan `bm25_topk` twin exactly.
    */
  def bm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val idx = Fts.buildCached(dir, docs(s, dir), "text", "doc_id")
    Fts.probe(s, idx, "doc_id", QueryTerms, k = 10)
  }

  /** Index observability ([[graft.operators.Fts.stats]], the
    * server_info face of the persisted FTS layout): live distinct-term
    * and postings counts + the driver-side corpus stats, from ONE
    * aggregate over the index — the twin re-derives all four from the
    * raw corpus, proving the layout's books balance.
    */
  def ftsStats(s: SparkSession, dir: String): DataFrame =
    Fts.stats(s, Fts.buildCached(dir, docs(s, dir), "text", "doc_id"), "doc_id")

  /** Engine diagnostics ([[graft.operators.Info.serverInfo]] — the
    * reference's `server_info` tool, server.py:401): projected to its
    * DETERMINISTIC face so the constant twin is a real oracle — the
    * extension wiring (custom-function registration, extensions class)
    * and the path-readability probe against the corpus dir. Box facts
    * (spark version, master, shuffle partitions) stay on the full
    * [[graft.operators.Info.serverInfo]] surface, pinned in
    * CatalogSpec, where no cross-engine twin can see them.
    */
  def serverInfo(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    graft.operators.Info.serverInfo(s, Some(s"$dir/documents.parquet"))
      .select(
        col("cosine_sim_registered"),
        col("extensions"),
        col("path_check").startsWith("exists").as("docs_readable"))
  }

  private val incFtsCache = Caches.lru[String, Fts.Index](16)

  /** Memoized BASE index over doc_id % 5 != 0 — shared by the
    * incremental and streamed maintenance queries; each consumer
    * hardlink-clones it ([[Fts.cloneIndex]]) before appending, so the
    * base layout stays pristine.
    */
  private val baseFtsCache = Caches.lru[String, Fts.Index](16)

  private def baseFtsIndex(s: SparkSession, dir: String): Fts.Index =
    baseFtsCache.computeIfAbsent(dir, _ =>
      Fts.build(
        docs(s, dir).filter(col("doc_id") % 5 =!= 0), "text", "doc_id",
        graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
          java.nio.file.Files.createTempDirectory("graft_fts_base_")).toString))

  private val docsimAnchorCache = Caches.lru[String, Seq[(Long, Long, Long)]](16)

  private val incDocEmbCache = Caches.lru[String, String](16)

  /** PERSISTED doc-embedding sidecar (build once, probe many — the
    * docdims/IVF-layout pattern applied to pooled doc vectors): the
    * sparse `(doc_id, dim, v)` table from [[Featurize.meanPoolChunks]]
    * landed as parquet per corpus, so every consumer (similarity,
    * clustering, dedup) reads the artifact instead of re-running the
    * pooling pipeline. At 100 TB this is a maintained table next to
    * the corpus, refreshed incrementally with ingest.
    */
  private def docEmbTable(s: SparkSession, dir: String): DataFrame = {
    val path = LayoutCache.getOrWrite(s"docemb:$dir")(p =>
      Featurize.meanPoolChunks(
        chunks(s, dir).select("doc_id", "chunk_index", "chunk"),
        "doc_id", "chunk_index", "chunk")
        .write.mode("overwrite").parquet(p))
    s.read.parquet(path)
  }

  /** INCREMENTAL FTS maintenance (the text-index face of
    * [[annIncremental]]): base index over doc_id % 5 != 0, then the
    * remaining fifth of the corpus arrives as an ingest batch and is
    * APPENDED — only the new docs are tokenized ([[Fts.appendToIndex]]),
    * never the base. The probe over base+delta must hash-match the
    * full-corpus `bm25_topk` twin exactly, proving the merged layout
    * scores bit-identically to a one-shot build (df from the pruned
    * union scan, weighted-mean avgdl). The reference rebuilds its FTS
    * index on every re-ingest (store.py:197 replace=True) — at 100 TB
    * the append is the only viable path.
    */
  def bm25Incremental(s: SparkSession, dir: String): DataFrame = {
    val idx = incFtsCache.computeIfAbsent(dir, _ =>
      Fts.appendToIndex(
        Fts.cloneIndex(baseFtsIndex(s, dir)),
        docs(s, dir).filter(col("doc_id") % 5 === 0), "text", "doc_id"))
    Fts.probe(s, idx, "doc_id", QueryTerms, k = 10)
  }

  private val delFtsCache = Caches.lru[String, Fts.Index](16)

  /** DELETE maintenance on the FTS index
    * ([[graft.operators.Fts.deleteFromIndex]], the text-side sibling
    * of [[annDeleted]]): doc_id % 10 == 3 tombstones append to a clone
    * of the cached full index; the probe anti-joins them before the
    * df count and the returned stats shrink exactly, so scores over
    * the live corpus hash-match a from-scratch build over it (the
    * twin computes BM25 over `documents` minus the deleted set).
    */
  def bm25Deleted(s: SparkSession, dir: String): DataFrame = {
    val idx = delFtsCache.computeIfAbsent(dir, _ =>
      Fts.deleteFromIndex(s,
        Fts.cloneIndex(Fts.buildCached(dir, docs(s, dir), "text", "doc_id")),
        docs(s, dir).filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id"))
    Fts.probe(s, idx, "doc_id", QueryTerms, k = 10)
  }

  private val compactFtsCache = Caches.lru[String, Fts.Index](16)

  /** COMPACTION closes the FTS maintenance triangle
    * (append [[bm25Incremental]] → delete [[bm25Deleted]] → compact):
    * the tombstoned index from [[bm25Deleted]]'s scenario is rewritten
    * live-only ([[graft.operators.Fts.compact]] — from the index, no
    * corpus re-tokenize), and the probe over the COMPACTED layout must
    * score the live corpus identically — so it shares bm25_deleted's
    * twin (BM25 over `documents` minus the deleted set).
    */
  def bm25Compacted(s: SparkSession, dir: String): DataFrame = {
    val idx = compactFtsCache.computeIfAbsent(dir, _ => {
      val deleted = Fts.deleteFromIndex(s,
        Fts.cloneIndex(Fts.buildCached(dir, docs(s, dir), "text", "doc_id")),
        docs(s, dir).filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id")
      Fts.compact(s, deleted, "doc_id",
        graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
          java.nio.file.Files.createTempDirectory("graft_fts_compact_")).toString)
    })
    Fts.probe(s, idx, "doc_id", QueryTerms, k = 10)
  }

  /** SNIPPET extraction for the serving path: the BM25 top-10 each
    * return a ±3-token highlight window around the document's FIRST
    * query-term occurrence (what a search UI renders under the title).
    * Pure array expressions over the bound token array — per-term
    * `array_position` in fixed query-term order, least non-null, one
    * `slice` — no extra shuffle beyond the bm25 ranking itself.
    */
  def snippetExtract(s: SparkSession, dir: String): DataFrame = {
    val hits = Search.bm25TopK(
      tokenTable(s, dir).select("doc_id", "term"),
      idCol = "doc_id", queryTerms = QueryTerms, k = 10)
    val toksDf = docs(s, dir).select(col("doc_id"), TextOps.tokenize(col("text")).as("_toks"))
    val firstPos = least(QueryTerms.map(t =>
      when(array_position(col("_toks"), t) > 0, array_position(col("_toks"), t))): _*)
    hits
      .join(toksDf, "doc_id")
      .withColumn("_p", firstPos)
      .select(col("doc_id"), col("bm25"),
        col("_p").cast("long").as("hit_pos"),
        concat_ws(" ", slice(col("_toks"), greatest(col("_p") - 3, lit(1)), lit(7))).as("snippet"))
      .orderBy(col("bm25").desc, col("doc_id"))
  }

  /** Faceted search ([[graft.operators.Search.bm25PerGroup]]): one
    * query, every library's top-3 BM25 hits, each library scored as
    * its own sub-corpus (own N/avgdl/df).
    */
  def bm25PerGroup(s: SparkSession, dir: String): DataFrame =
    Search.bm25PerGroup(
      tokenTable(s, dir).select("source", "doc_id", "term"),
      idCol = "doc_id", groupCol = "source", QueryTerms, k = 3)
      .orderBy("source", "rk")

  /** The reference's full SERVING path with both persisted indexes
    * (store.py:197 FTS index + store.py:274 vector index + server.py:228
    * hybrid fusion): BM25 leg probes the term-pruned postings layout,
    * KNN leg probes the IVF cells, RRF fuses — neither leg re-scans the
    * corpus. The twin replays the BM25 math from raw documents and the
    * IVF probe from the fitted centroid literals.
    */
  def hybridIndexed(s: SparkSession, dir: String): DataFrame = {
    val (index, cells) = ivfIndex(s, dir)
    val fts = Fts.buildCached(dir, docs(s, dir), "text", "doc_id")
    val bm25Leg = Fts.probe(s, fts, "doc_id", QueryTerms, k = 100)
    val knnLeg = Ann.probe(index.assigned, queryVecLocal(s, dir), "q_vec", index.vecCol,
        index.idCol, topK = 100, cells = cells)
      .select(col("vec_id").as("doc_id"), col("cos_sim"))
    Search.rrfFuse(bm25Leg, knnLeg, "doc_id", "bm25", "cos_sim", k = 10)
  }

  /** The primary text-query flow served from the index sidecar — must
    * match `semantic_search` (and its twin) exactly.
    */
  def semanticIndexed(s: SparkSession, dir: String): DataFrame = {
    val idx = Fts.buildCached(dir, docs(s, dir), "text", "doc_id")
    Fts.semanticProbe(s, idx, "doc_id", "spark filter join stream", k = 10)
  }

  /** Batch BM25 retrieval over the persisted FTS index: every query's
    * top-5 in one pruned postings pass (the text-side analog of
    * [[annBatchProbe]]'s workload shape).
    */
  def bm25Batch(s: SparkSession, dir: String): DataFrame = {
    val idx = Fts.buildCached(dir, docs(s, dir), "text", "doc_id")
    Fts.probeBatch(s, idx, "doc_id", BatchTextQueries, k = 5)
  }

  /** The fixed query batch for [[semanticBatch]] — shared with its twin. */
  val BatchSemanticQueries: Seq[(Long, String)] = Seq(
    0L -> "spark filter join stream",
    1L -> "join the stream",
    2L -> "filter filter spark")

  /** Batch semantic retrieval from the FTS docdims sidecar: every text
    * query's cosine top-5 in one pre-aggregated pass — completes the
    * batch trio next to [[bm25Batch]] and [[annBatchProbe]].
    */
  def semanticBatch(s: SparkSession, dir: String): DataFrame = {
    val idx = Fts.buildCached(dir, docs(s, dir), "text", "doc_id")
    Fts.semanticProbeBatch(s, idx, "doc_id", BatchSemanticQueries, k = 5)
  }

  /** Offline retrieval-quality EVAL — the search-quality harness a
    * store runs after every index build, with TWO query classes over
    * the persisted FTS index:
    *
    *   - `self` (query_id 0-7): the first 5 tokens of each of the
    *     first 8 documents — exact-opening retrieval, the smoke test;
    *   - `para` (query_id 100-107): a planted PARAPHRASE of the same
    *     opening — every other opening token (positions 2/4/6/8) plus
    *     one token from deeper in the document (position 13), so the
    *     query overlaps the source lexically but is not a substring.
    *     Self-retrieval alone only proves the tokenizer round-trips;
    *     this class measures ranking ROBUSTNESS under lossy rewording.
    *
    * The relevant document for query q is q % 100; reports per-query
    * hit rank and reciprocal rank (the MRR components) at k=10. The
    * query set is a bounded driver artifact (16 tiny token lists, the
    * same class as fitted centroids) stashed in [[OracleArtifacts]] so
    * the twin replays the identical batch probe.
    */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = Fts.buildCached(dir, docs(s, dir), "text", "doc_id")
    val base = docs(s, dir).filter(col("doc_id") < 8)
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSeq))
      .sortBy(_._1).toSeq
    val qs = base.map { case (id, t) => (id, t.take(5)) } ++
      base.map { case (id, t) => (id + 100L, Seq(1, 3, 5, 7, 12).flatMap(t.lift)) }
    OracleArtifacts.retrievalEval = Some(qs)
    val res = Fts.probeBatch(s, idx, "doc_id", qs, k = 10)
    val sr = res.filter(col("doc_id") === col("query_id") % 100)
      .groupBy("query_id").agg(min("rk").as("_sr"))
    qs.map(_._1).toDF("query_id")
      .join(sr, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        when(col("query_id") < 100, lit("self")).otherwise(lit("para")).as("variant"),
        coalesce(col("_sr"), lit(0L)).as("self_rank"),
        coalesce(round(lit(1.0) / col("_sr"), 4), lit(0.0)).as("rr"))
      .orderBy("query_id")
  }

  /** Retrieval eval over a DERIVED held-out ground truth — MRR and
    * recall@10 where the relevant documents are TRUE COMPETITORS, not
    * the query's own source:
    *
    *   1. Near-dup clusters are derived by the proven B2+B6 operators
    *      (MinHash-LSH pairs → connected components) over the planted
    *      corpus — no oracle labels are assumed;
    *   2. each cluster's min-id member becomes the QUERY source: its
    *      lossy opening (every other token, positions 2/4/6/8, plus
    *      token 13 — the `para` rewording class) is the query, and it
    *      is HELD OUT (excluded from the result list), so ranking its
    *      near-duplicates is the only way to score;
    *   3. the relevant set is the cluster's OTHER members — documents
    *      that genuinely compete with the whole corpus under BM25.
    *
    * Per query: `hit_rank` (first relevant in the top-10, 0 = miss),
    * `rr` (its reciprocal — MRR is the mean over rows), and
    * `recall_at_10` (fraction of the relevant set retrieved). The probe
    * runs k=11 over the persisted index, drops the held-out source and
    * re-ranks — identical to ranking the corpus-minus-source, since
    * dropping ≤1 row from a top-11 preserves the top-10. The derived
    * (query, relevant) sets are a bounded driver artifact (≤16
    * clusters) stashed in [[OracleArtifacts]]; the twin replays the
    * batch probe over the same planted corpus and recomputes both
    * metrics from the VALUES literals.
    */
  /** Bounded eval-cluster selection over a `duplicateClusters` result:
    * the eligibility filter (≥ 2 distinct members, min member id ==
    * cluster id) and the first-`maxClusters`-by-id cut both run
    * DISTRIBUTED (groupBy + limit), and only the CHOSEN clusters'
    * membership rows are collected — O(maxClusters × cluster size)
    * driver rows, never the full O(corpus-duplicates) id→cluster
    * mapping (which scales with the corpus at 100 TB while the eval
    * set stays 16 clusters). Members come back distinct and sorted per
    * cluster, identical to the previous driver-side computation.
    */
  private[graft] def selectEvalClusters(
      clusters: DataFrame, maxClusters: Int): Seq[(Long, Seq[Long])] = {
    val cl = clusters.select(col("id"), col("cluster_id")).distinct()
    val chosen = cl.groupBy("cluster_id")
      .agg(count(lit(1)).as("_n"), min("id").as("_min"))
      .filter(col("_n") >= 2 && col("_min") === col("cluster_id"))
      .orderBy("cluster_id").limit(maxClusters)
      .select("cluster_id")
    cl.join(broadcast(chosen), Seq("cluster_id"))
      .select(col("cluster_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq
      .map { case (c, ms) => (c, ms.map(_._2).distinct.sorted.toSeq) }
      .sortBy(_._1)
  }

  def retrievalEvalClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val corpus = corpusWithNearDups(s, dir)
    val idx = Fts.buildCached(s"$dir#neardup", corpus, "text", "doc_id")
    val grouped = selectEvalClusters(
      Dedup.duplicateClusters(
        Dedup.minHashLshPairs(corpus, "text", "doc_id",
          numHashes = 8, shingleK = 3, threshold = 0.3)),
      maxClusters = 16)
    val srcIds = grouped.map(_._1)
    val srcTok = corpus.filter(col("doc_id").isin(srcIds: _*))
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val qs = grouped.map { case (c, ms) =>
      (c, Seq(1, 3, 5, 7, 12).flatMap(srcTok(c).lift), ms.filter(_ != c))
    }
    OracleArtifacts.retrievalEvalClusters = Some(qs)
    val probes = Fts.probeBatch(s, idx, "doc_id", qs.map(q => (q._1, q._2)), k = 11)
    val rel = qs.flatMap { case (q, _, rs) => rs.map(r => (q, r)) }
      .toDF("query_id", "doc_id").withColumn("_rel", lit(1))
    val w = Window.partitionBy("query_id").orderBy(col("bm25").desc, col("doc_id"))
    val per = probes.filter(col("doc_id") =!= col("query_id"))
      .withColumn("rk2", row_number().over(w))
      .filter(col("rk2") <= 10)
      .join(broadcast(rel), Seq("query_id", "doc_id"), "left_outer")
      .groupBy("query_id")
      .agg(
        min(when(col("_rel") === 1, col("rk2"))).as("_hr"),
        sum(when(col("_rel") === 1, 1L).otherwise(0L)).as("_hits"))
    qs.map { case (q, _, rs) => (q, rs.size.toLong) }.toDF("query_id", "n_rel")
      .join(per, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("_hr"), lit(0L)).as("hit_rank"),
        coalesce(round(lit(1.0) / col("_hr"), 4), lit(0.0)).as("rr"),
        round(coalesce(col("_hits"), lit(0L)).cast("double") / col("n_rel"), 4)
          .as("recall_at_10"))
      .orderBy("query_id")
  }

  /** Cross-encoder rerank over the BM25 pool
    * ([[Search.crossEncoderRerank]]): the retrieve-then-rerank
    * serving pipeline with the checked-in joint-attention model.
    * Rows-only in the driver gate (softmax/layernorm admit no
    * bit-exact SQL twin — the `embed_encoder` honest class); pinned
    * instead by CrossRerankSpec's independent driver-side model
    * recomputation.
    */
  def rerankCross(s: SparkSession, dir: String): DataFrame =
    Search.crossEncoderRerank(docs(s, dir).select("doc_id", "text"),
      "text", "doc_id", QueryTerms, k = 10, pool = 20)

  /** QUANTIZED cross-encoder rerank ([[Search.quantCrossRerank]] over
    * the SAME `cross_encoder.onnx` artifact): the full
    * retrieve-then-rerank pipeline with the integer-exact joint
    * forward, which makes this the cross-encoder's hash-gated face —
    * the DuckDB twin re-runs BM25 retrieval AND the fixed-point
    * transformer over `query ⊕ [SEP] ⊕ doc` (query ids derived in SQL
    * from the literal query text through the same BPE chain), landing
    * bit-identical scores. The float `rerank_cross` stays rows-only
    * per the §2 A7 impossibility note; this is its constructive exit,
    * as `embed_encoder_q` is for the bi-encoder.
    */
  def rerankCrossQ(s: SparkSession, dir: String): DataFrame =
    Search.quantCrossRerank(docs(s, dir).select("doc_id", "text"),
      "text", "doc_id", QueryTerms, k = 10, pool = 20)

  /** BM25 + exact-phrase boost ("filter join") — proximity-aware FTS. */
  def bm25Phrase(s: SparkSession, dir: String): DataFrame =
    Search.bm25PhraseTopK(docs(s, dir), "text", "doc_id",
      QueryTerms, Seq("filter", "join"), k = 10)

  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val bm25Leg = Search
      .bm25TopK(tokenTable(s, dir).select("doc_id", "term"), "doc_id", QueryTerms, 100)
    val knnLeg = Search.knnTopK(
      embs(s, dir).select(col("vec_id").as("doc_id"), col("embedding")),
      queryVecLocal(s, dir),
      corpusVec = "embedding", queryVec = "q_vec", idCol = "doc_id", k = 100
    ).select("doc_id", "cos_sim")
    Search.rrfFuse(bm25Leg, knnLeg, "doc_id", "bm25", "cos_sim", k = 10)
  }

  /** Batch retrieval: top-3 neighbors for each of the first 8 vectors. */
  def knnBatch(s: SparkSession, dir: String): DataFrame =
    Search.knnBatch(
      embs(s, dir).select(col("vec_id"), col("embedding")),
      embs(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
      corpusVec = "embedding", queryVec = "q_vec",
      corpusId = "vec_id", queryId = "query_id", k = 3, excludeSelf = true
    ).orderBy("query_id", "rk")

  /** Hard-negative mining ([[graft.operators.Search.hardNegatives]]):
    * for each of the first 8 vectors as anchors, the top-3
    * most-similar vectors with a DIFFERENT label — the training-pair
    * generation step of a contrastive embedding pipeline (DPR/SimCSE).
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame =
    Search.hardNegatives(
      embs(s, dir).select(col("vec_id"), col("label"), col("embedding")),
      embs(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
          col("embedding").as("a_vec")),
      corpusVec = "embedding", anchorVec = "a_vec",
      corpusId = "vec_id", anchorId = "anchor_id",
      corpusLabel = "label", anchorLabel = "a_label", k = 3
    ).orderBy("anchor_id", "rk")

  def filteredSearch(s: SparkSession, dir: String): DataFrame = {
    val filtered = docs(s, dir)
      .filter(Catalog.filterFor(Map("lang" -> "en")) && col("n_chars") > 200)
      .select(col("doc_id"))
    Search.knnTopK(
      embs(s, dir).join(filtered, col("vec_id") === col("doc_id")).drop("doc_id")
        .select("vec_id", "label", "embedding"),
      queryVecLocal(s, dir),
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id", k = 10
    ).select("vec_id", "label", "cos_sim")
  }

  /** Late-interaction retrieval (ColBERT, Khattab & Zaharia 2020 §3.2
    * MaxSim): score(q, d) = Σ_{t∈q} max_{c∈chunks(d)} cos(v_t, v_c) —
    * fine-grained term-to-chunk matching instead of one pooled doc
    * vector. With hashed-BoW chunk vectors a single-term query vector
    * is ONE-HOT on its hashed dim, so cos(v_t, v_c) =
    * cnt_c[dim_t] / ‖v_c‖ and the whole operator stays SPARSE: one
    * tokenize+explode pass builds (doc, chunk, dim, cnt) and the chunk
    * norms (hash-partitioned partial aggs), the query's 4 dims
    * broadcast, and the per-doc score is a single aggregation with one
    * conditional max per query term — summed in fixed expression order
    * (term order), so both engines add the same doubles left to right.
    * Corpus scanned once; no dense vectors anywhere.
    */
  def maxsimSearch(s: SparkSession, dir: String): DataFrame = {
    val queryText = "spark filter join stream"
    import s.implicits._
    val terms = TextOps.tokenizeLocal(queryText)
    // (term, dim) is driver-computable — same rule as semanticSearch
    val qd = terms.map(t => (t, TextOps.hashedBowDimLocal(t))).distinct
      .toDF("term", "dim")
    // chunk norms via a WINDOW over the dim-count aggregation — not a
    // second aggregation joined back, which would re-scan the corpus
    // (the curation_report lesson): one scan, then shuffles only on
    // shrinking keyed aggregates.
    val byChunk = org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "chunk_index")
    val sims = chunks(s, dir)
      .select(col("doc_id"), col("chunk_index"), explode(TextOps.tokenize(col("chunk"))).as("tok"))
      .select(col("doc_id"), col("chunk_index"), TextOps.hashedBowDim(col("tok")).as("dim"))
      .groupBy("doc_id", "chunk_index", "dim").agg(count(lit(1)).as("cnt"))
      .withColumn("ss", sum(col("cnt") * col("cnt")).over(byChunk))
      .join(broadcast(qd), "dim")
      .select(col("doc_id"), col("term"),
        (col("cnt").cast("double") / sqrt(col("ss").cast("double"))).as("sim"))
    val maxCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("sim"))).as(s"_m$i")
    }
    sims.groupBy("doc_id")
      .agg(maxCols.head, maxCols.tail: _*)
      .select(col("doc_id"),
        round(terms.indices.map(i => coalesce(col(s"_m$i"), lit(0.0d))).reduce(_ + _), 5)
          .as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id")).limit(10)
  }

  // ── A. Chunking ──────────────────────────────────────────────────────

  def chunkExplode(s: SparkSession, dir: String): DataFrame =
    chunks(s, dir)
      .select("doc_id", "chunk_index", "chunk", "chunk_tokens", "source")
      .orderBy("doc_id", "chunk_index")

  /** Doc-level embedding from chunk embeddings
    * ([[graft.operators.Featurize.meanPoolChunks]]): renormalized mean
    * of each document's chunk unit vectors over the shared 32/8 chunk
    * stream — sparse (doc_id, dim, v) rows end-to-end.
    */
  def docEmbedding(s: SparkSession, dir: String): DataFrame =
    Featurize.meanPoolChunks(
      chunks(s, dir).select("doc_id", "chunk_index", "chunk"),
      "doc_id", "chunk_index", "chunk")
      .orderBy("doc_id", "dim")

  /** Doc-level SIMILAR-DOCUMENTS retrieval over the pooled chunk
    * embeddings ([[docEmbedding]]'s vectors put to work): for each of
    * the first 8 docs as anchors, the top-3 most-similar other docs by
    * sparse dot product. The pooled components (already rounded to
    * 5 dp) are re-quantized onto the 1e-5 integer grid, so every
    * anchor·doc dot product is an exact integer sum — engine-identical
    * in any addition order — with ONE scaling division at the end.
    * Anchor vectors are collected as a bounded driver artifact (≤8×64
    * rows, the same class as query vectors) and broadcast, so the
    * corpus-side pooling pipeline appears exactly once in the plan.
    */
  def docsimTopK(s: SparkSession, dir: String): DataFrame =
    // probe the PERSISTED sidecar (cold pass pays the one-time build,
    // like the FTS/IVF layouts); the pooling pipeline itself is the
    // doc_embedding query's plan
    docsimProbe(s, dir, docEmbTable(s, dir))

  /** Shared docsim probe over a sparse pooled-vector table (the base
    * sidecar or its incrementally-maintained union).
    */
  private def docsimProbe(s: SparkSession, dir: String, emb: DataFrame): DataFrame = {
    import s.implicits._
    val q5 = emb.withColumn("vq", round(col("v") * lit(1e5)).cast("long"))
    // anchor vectors are a built artifact (build once, probe many —
    // same memoization contract as Fts/Ann.buildCached); the filter
    // pushes doc_id<8 through the pooling aggregations, so the build
    // action pools only the anchor docs
    val anchorRows = docsimAnchorCache.computeIfAbsent(dir, _ =>
      q5.filter(col("doc_id") < 8)
        .select(col("doc_id").as("a_id"), col("dim"), col("vq").as("aq"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    val anchors = anchorRows.toDF("a_id", "dim", "aq")
    val dots = q5.join(broadcast(anchors), Seq("dim"))
      .filter(col("doc_id") =!= col("a_id"))
      .groupBy("a_id", "doc_id")
      .agg(sum(col("vq") * col("aq")).as("dot"))
      .select(col("a_id"), col("doc_id"),
        round(col("dot").cast("double") / lit(1e10), 5).as("sim"))
    graft.plans.TopK.perKey(dots, Seq("a_id"), Seq(("sim", false), ("doc_id", true)), 3)
      .select(col("a_id"), col("doc_id"), col("sim"), col("rk"))
      .orderBy("a_id", "rk")
  }

  /** INCREMENTALLY maintained doc-embedding sidecar
    * ([[graft.operators.Featurize.appendDocEmbeddings]]): the base
    * sidecar pools doc_id % 5 != 0; the remaining fifth arrives as an
    * ingest batch whose chunks ALONE are pooled and appended. Pooled
    * rows are per-doc pure, so the merged store is row-identical to
    * the one-shot build — the probe shares [[docsimTopK]]'s twin.
    */
  def docsimIncremental(s: SparkSession, dir: String): DataFrame = {
    val path = incDocEmbCache.computeIfAbsent(dir, _ => {
      val out = Featurize.cloneDir(baseDocEmbDir(s, dir))
      Featurize.appendDocEmbeddings(out,
        chunks(s, dir).select("doc_id", "chunk_index", "chunk")
          .filter(col("doc_id") % 5 === 0), "doc_id", "chunk_index", "chunk")
      out
    })
    docsimProbe(s, dir, s.read.parquet(path))
  }

  /** Memoized BASE doc-embedding sidecar (pooled vectors for
    * doc_id % 5 != 0 chunks) — shared by the incremental and streamed
    * maintenance queries; consumers hardlink-clone it
    * ([[graft.operators.Featurize.cloneDir]]) before appending.
    */
  private def baseDocEmbDir(s: SparkSession, dir: String): String =
    LayoutCache.getOrWrite(s"docemb_base:$dir")(p =>
      Featurize.meanPoolChunks(
        chunks(s, dir).select("doc_id", "chunk_index", "chunk")
          .filter(col("doc_id") % 5 =!= 0), "doc_id", "chunk_index", "chunk")
        .write.mode("overwrite").parquet(p))

  /** The STREAMED face of [[docsimIncremental]]
    * ([[graft.streaming.StreamPipeline.docEmbeddingAppend]]): corpus
    * docs arrive as a file stream, each micro-batch's chunks alone are
    * pooled and appended to a hardlink clone of the base sidecar; the
    * probe over the drained clone shares docsim_topk's twin.
    */
  def streamDocsim(s: SparkSession, dir: String): DataFrame = {
    val out = Featurize.cloneDir(baseDocEmbDir(s, dir))
    graft.streaming.StreamPipeline.docEmbeddingAppend(s, dir, out)
    docsimProbe(s, dir, s.read.parquet(out))
  }

  def chunkStats(s: SparkSession, dir: String): DataFrame =
    chunks(s, dir)
      .groupBy("doc_id")
      .agg(
        count("*").as("n_chunks"),
        sum("chunk_tokens").as("sum_chunk_tokens"),
        max("chunk_tokens").as("max_chunk_tokens")
      )
      .orderBy("doc_id")

  // ── A. Catalog ───────────────────────────────────────────────────────

  def listDocuments(s: SparkSession, dir: String): DataFrame =
    Catalog.listDocuments(chunks(s, dir), "doc_id", Seq("source", "lang"),
      limit = 20, offset = 5)

  def listLibraries(s: SparkSession, dir: String): DataFrame =
    Catalog.listLibraries(chunks(s, dir), "source", "doc_id")

  def getDocument(s: SparkSession, dir: String): DataFrame =
    Catalog.getDocument(
      chunks(s, dir).filter(col("doc_id") === 42),
      "doc_id", "chunk_index", "chunk", Seq("source", "lang")
    )

  /** RAG context expansion ([[graft.operators.Catalog.expandContext]]):
    * chunks matching the phrase "filter join" are the retrieval hits;
    * each returns with its ±1 neighbor chunks reassembled in order —
    * the post-top-k serving step of a retrieval store (the reference
    * returns chunk content with document context; chunker.py overlap
    * serves the same need statically). The twin replays the expansion
    * over the shared chunk CTE and hashes the reassembled context.
    */
  def contextExpand(s: SparkSession, dir: String): DataFrame = {
    val ch = chunks(s, dir).select("doc_id", "chunk_index", "chunk")
    val hits = ch.filter(col("chunk").contains("filter join"))
      .select(col("doc_id"), col("chunk_index").as("hit_index"))
    Catalog.expandContext(ch, "doc_id", "chunk_index", "chunk", hits, "hit_index", radius = 1)
      .select(col("doc_id"), col("hit_index"), col("n_ctx"),
        col("ctx_start"), col("ctx_end"), md5(col("context")).as("ctx_hash"))
      .orderBy("doc_id", "hit_index")
  }

  def deleteDocument(s: SparkSession, dir: String): DataFrame =
    Catalog.deleteReport(chunks(s, dir), "source", pmod(col("doc_id"), lit(50)) === 0)

  def ingestDedupStatus(s: SparkSession, dir: String): DataFrame = {
    val incoming = docs(s, dir).select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(" updated-v2")))
        .otherwise(col("text")).as("text")
    )
    val existing = docs(s, dir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select("doc_id", "text")
    Catalog.ingestStatus(incoming, existing, "doc_id", "text").orderBy("doc_id")
  }

  /** `ingest_content` end to end ([[graft.operators.Ingest.contentPipeline]];
    * reference: ingestor.py:293): every corpus document arrives as a
    * pre-extracted upload (synthetic per-doc source — the reference
    * keys its store on (source, library)), docs ≡ 0 (mod 3) arrive
    * with UPDATED text and docs ≡ 7 (mod 10) are new to the store, so
    * all three IngestResult statuses occur; chunk_count is the real
    * pipeline's chunks-per-document (512-token windows, 64 overlap),
    * zeroed for skipped docs exactly as the reference reports
    * (nothing is written on a hash-unchanged skip).
    */
  def ingestContentStatus(s: SparkSession, dir: String): DataFrame = {
    val lib = "uploads"
    val srcOf = (d: org.apache.spark.sql.Column) =>
      concat(lit("upload/"), d.cast("string"), lit(".md"))
    val incoming = docs(s, dir).select(
      srcOf(col("doc_id")).as("source"),
      when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(" updated-v2")))
        .otherwise(col("text")).as("content"))
    val inc = Ingest.contentSource(incoming).withColumn("library", lit(lib))
    val existing = Ingest.contentSource(
        docs(s, dir).filter(pmod(col("doc_id"), lit(10)) =!= 7)
          .select(srcOf(col("doc_id")).as("source"), col("text").as("content")))
      .select(col("source"), lit(lib).as("library"), col("content_hash"))
    val counts = Ingest.contentPipeline(incoming, lib)
      .groupBy("source").agg(count(lit(1)).as("_n"))
    Ingest.statuses(inc, existing)
      .join(counts, Seq("source"), "left_outer")
      .select(col("source"), col("status"),
        when(col("status") === "skipped", lit(0L))
          .otherwise(coalesce(col("_n"), lit(0L))).as("chunk_count"))
      .orderBy("source")
  }

  def titleExtract(s: SparkSession, dir: String): DataFrame = {
    val md = when(
      pmod(col("doc_id"), lit(3)) === 0,
      concat(lit("# Heading "), col("doc_id").cast("string"), lit("\n"), col("text"))
    ).otherwise(col("text"))
    docs(s, dir)
      .select(col("doc_id"), col("source"), md.as("md"))
      .select(col("doc_id"), TextOps.extractTitle(col("md"), col("source")).as("title"))
      .orderBy("doc_id")
  }

  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val oldRows = docs(s, dir).filter(col("doc_id") < 100).select("doc_id", "source")
    val newRows = docs(s, dir).filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("source"), col("lang"))
    Catalog.upsertLike(oldRows, newRows)
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")
  }

  // ── B. Dedup ─────────────────────────────────────────────────────────

  /** documents ∪ planted exact duplicates (doc_id % 20 == 0 → +10000). */
  private def corpusWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(
      d.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    )
  }

  /** documents ∪ planted near-duplicates (doc_id < 25 → +10000, last 5
    * tokens dropped).
    */
  /** Per-row corpus expansion planting near-dups: docs < 25 reappear
    * under id+10000 with the last 5 tokens cut. Pure per-row, so it
    * applies identically to a batch corpus or a micro-batch.
    */
  private def withNearDups(d: DataFrame): DataFrame = {
    val toks = TextOps.tokenize(col("text"))
    d.unionAll(
      d.filter(col("doc_id") < 25)
        .select(
          (col("doc_id") + 10000).as("doc_id"),
          array_join(slice(toks, lit(1), greatest(size(toks) - 5, lit(1))), " ").as("text")
        )
    )
  }

  private def corpusWithNearDups(s: SparkSession, dir: String): DataFrame =
    withNearDups(docs(s, dir).select("doc_id", "text"))

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(corpusWithExactDups(s, dir), "text", "doc_id")
      .select("content_hash", "keeper_doc_id", "dup_count")
      .orderBy("keeper_doc_id")

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLshPairs(corpusWithNearDups(s, dir), "text", "doc_id",
      numHashes = 8, shingleK = 3, threshold = 0.3)
      .orderBy("id_a", "id_b")

  /** Incremental MinHash: the near-dup corpus lands in TWO delta
    * batches into a persisted signature store (the manifest
    * [[graft.operators.ChunkStore]]); signatures are per-doc pure, so
    * batching cannot change them, and one banded sweep over the merged
    * store equals the one-shot [[dedupMinhashLsh]] — whose twin it
    * shares. At 100 TB this is the difference between re-signing the
    * corpus on every ingest and signing only the new batch.
    */
  def dedupMinhashIncremental(s: SparkSession, dir: String): DataFrame = {
    // the two delta ingests are one-time maintenance on the persisted
    // signature store; per-call cost is the banded sweep over the
    // merged store (build-once-sweep-many)
    val root = graft.operators.LayoutCache.getOrWrite(s"sigstore:$dir") { p =>
      val c = corpusWithNearDups(s, dir)
      val store = new ChunkStore(p, "doc_id")
      Dedup.appendSignatures(store, c.filter(pmod(col("doc_id"), lit(2)) === 0), "text")
      Dedup.appendSignatures(store, c.filter(pmod(col("doc_id"), lit(2)) === 1), "text")
    }
    Dedup.pairsFromSignatures(new ChunkStore(root, "doc_id").read(s),
      "doc_id", numHashes = 8, threshold = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** [[dedupMinhashLsh]] fed from a STREAM: documents arrive as
    * micro-batches, each signs only itself into the persisted manifest
    * signature store ([[graft.streaming.StreamPipeline.signAndStore]]),
    * and one banded sweep over the merged store yields the pairs —
    * equal to the one-shot batch LSH (whose twin it shares) because
    * signatures are per-doc pure. The streaming face of
    * [[dedupMinhashIncremental]]'s delta batching.
    */
  def streamMinhash(s: SparkSession, dir: String): DataFrame = {
    val root = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory("graft_stream_sig")).toString + "/sig"
    val store = new ChunkStore(root, "doc_id")
    graft.streaming.StreamPipeline.signAndStore(s, dir, store, withNearDups)
    Dedup.pairsFromSignatures(store.read(s), "doc_id", numHashes = 8, threshold = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** [[chunkstoreRead]]'s modification flow fed from a STREAM: a CDC
    * change feed arrives as micro-batches and each lands its upserts,
    * revisions and tombstones as append-only segments in the manifest
    * [[graft.operators.ChunkStore]]
    * ([[graft.streaming.StreamPipeline.upsertCdc]]). Per-doc final
    * state is batch-invariant, so the merged table equals the one-shot
    * batch flow — whose twin it shares.
    */
  def streamUpsertCdc(s: SparkSession, dir: String): DataFrame = {
    val root = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory("graft_stream_cdc")).toString + "/cs"
    val store = new ChunkStore(root, "doc_id")
    graft.streaming.StreamPipeline.upsertCdc(s, dir, store)
  }

  /** Keeper assignment: connected components over the minhash-LSH pair
    * graph — every near-dup doc mapped to its cluster's min id.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(
      Dedup.minHashLshPairs(corpusWithNearDups(s, dir), "text", "doc_id",
        numHashes = 8, shingleK = 3, threshold = 0.3)
    ).orderBy("id")

  /** Canonical selection over the resolved near-dup clusters
    * ([[Dedup.canonicalPerCluster]]): each cluster keeps its
    * highest-quality member (ties to the lowest id) — on this corpus
    * the planted truncated near-dups lose to their longer originals.
    * The twin re-derives clusters (the recursive dedup_clusters CTE)
    * AND quality over the same planted corpus.
    */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithNearDups(s, dir)
    val clusters = Dedup.duplicateClusters(
      Dedup.minHashLshPairs(corpus, "text", "doc_id",
        numHashes = 8, shingleK = 3, threshold = 0.3))
    Dedup.canonicalPerCluster(corpus, clusters, "text", "doc_id")
      .orderBy("doc_id")
  }

  def simNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      docs(s, dir).filter(col("doc_id") < 40).select("doc_id", "text"),
      "text", "doc_id"
    ).orderBy(col("jaccard").desc, col("id_a"), col("id_b")).limit(50)

  /** embeddings ∪ planted near-dups (vec_id < 20 → +10000, first
    * component shifted +0.05), all cast to double.
    */
  private def embCorpusWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select("vec_id", "label", "embedding")
    val dim = 64
    val perturbed = concat(
      array(element_at(col("embedding"), 1).cast("double") + 0.05),
      VectorOps.toDouble(slice(col("embedding"), 2, dim - 1))
    )
    e.select(col("vec_id"), col("label"), VectorOps.toDouble(col("embedding")).as("embedding"))
      .unionAll(
        e.filter(col("vec_id") < 20)
          .select((col("vec_id") + 10000).as("vec_id"), col("label"), perturbed.as("embedding"))
      )
  }

  /** SemDeDup (Abbas et al. 2023) over the planted-near-dup corpus:
    * k-means coarse clusters (seed-fixed, k=8) block the candidate
    * pairs; within a cluster any pair with cosine >= 0.95 is a semantic
    * duplicate and the member with the LOWER centroid similarity is
    * kept (the paper's keep-most-atypical rule). Fitted centroids are
    * stashed for the DuckDB twin ([[OracleArtifacts.semdedup]]).
    */
  def semDeDup(s: SparkSession, dir: String): DataFrame = {
    val corpus = embCorpusWithNearDups(s, dir).drop("label")
    val index = Ann.buildCached(dir + "#semdedup", corpus, "embedding", "vec_id", k = 8, seed = 42)
    OracleArtifacts.semdedup = Some(index.centroids)
    Dedup.semDeDup(corpus, "embedding", "vec_id", index.centroids, threshold = 0.95)
      .select("vec_id", "cluster", "centroid_sim", "kept")
      .orderBy("vec_id")
  }

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(embCorpusWithNearDups(s, dir), "embedding", "vec_id",
      "label", threshold = 0.8)
      .orderBy("label", "id_a", "id_b")

  /** LSH-bucketed near-dup pairs: the unblocked-at-scale twin of
    * [[dedupEmbedding]] — candidate pairs come from hyperplane-LSH
    * bucket collisions instead of a label block, so the same shape
    * works when no blocking column exists.
    */
  def lshPairs(s: SparkSession, dir: String): DataFrame =
    Lsh.nearDupPairs(embCorpusWithNearDups(s, dir).drop("label"), "embedding", "vec_id",
      dim = 64, nPlanes = 8, threshold = 0.8)
      .orderBy("id_a", "id_b")

  /** Multi-probe LSH query: top-10 cosine among corpus vectors whose
    * bucket is within hamming 1 of the query signature (bucket pruning
    * instead of a corpus scan).
    */
  def lshQuery(s: SparkSession, dir: String): DataFrame =
    Lsh.query(
      probeCorpus(s, dir),
      queryVecLocal(s, dir),
      "embedding", "q_vec", "vec_id", dim = 64, nPlanes = 8, k = 10
    ).select("vec_id", "cos_sim")

  def simhashSketch(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash64(docs(s, dir), "text", "doc_id").orderBy("doc_id")

  /** documents ∪ planted minimal edits (doc_id < 25 → +10000, one
    * appended token) — the smallest possible text change, which is what
    * SimHash hamming distance is designed to catch.
    */
  private def corpusWithTokenAppend(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(
      d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 10000).as("doc_id"), concat(col("text"), lit(" simdup")).as("text"))
    )
  }

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(corpusWithTokenAppend(s, dir), "text", "doc_id",
      bands = 4, maxHamming = 3)
      .orderBy("id_a", "id_b")

  // ── E. Text analysis ─────────────────────────────────────────────────

  def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusStats(tokenTable(s, dir), "lang", "doc_id")

  def langId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(docs(s, dir), "text", "doc_id").orderBy("doc_id")

  private val chunkStoreCache = Caches.lru[String, ChunkStore](16)

  /** The reference's store-maintenance loop (store.py:180 upsert,
    * :237 delete) exercised end-to-end on driver data and verified via
    * the DuckDB gate: base upsert → modified re-upsert of doc_id%7==3
    * (text uppercased, lang→'xx') → tombstone delete of doc_id%13==5 →
    * COMPACT → merge-on-read. The twin recomputes latest-wins from the
    * modification rules, so the hash check proves delta ordering,
    * tombstone drop, and compaction all preserve the right rows.
    */
  def chunkstoreRead(s: SparkSession, dir: String): DataFrame =
    chunkStore(s, dir).read(s)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("content_hash"))
      .orderBy("doc_id")

  private def chunkStore(s: SparkSession, dir: String): ChunkStore =
    chunkStoreCache.computeIfAbsent(dir, _ => {
      val root = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
        java.nio.file.Files.createTempDirectory("graft_cs_")).toString
      val st = new ChunkStore(root, "doc_id")
      val base = docs(s, dir).select("doc_id", "text", "lang", "source")
      st.upsert(base)
      st.upsert(base.filter(col("doc_id") % 7 === 3)
        .withColumn("text", upper(col("text")))
        .withColumn("lang", lit("xx")))
      st.delete(docs(s, dir).filter(col("doc_id") % 13 === 5).select("doc_id"))
      st.compact(s)
      st
    })

  /** TIME TRAVEL over [[chunkstoreRead]]'s store: read manifest v2 —
    * after the modified re-upsert, BEFORE the `%13==5` tombstones and
    * the compaction — via [[graft.operators.ChunkStore.readVersion]]
    * (Delta's `versionAsOf`). Immutable segments + immutable manifests
    * make every retained version replayable; the twin is
    * [[chunkstoreRead]]'s replay WITHOUT the delete clause, so the
    * hash check proves the deleted rows are genuinely restored and the
    * v4 compaction left history intact.
    */
  def chunkstoreTimeTravel(s: SparkSession, dir: String): DataFrame = {
    chunkStore(s, dir).readVersion(s, 2L)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("content_hash"))
      .orderBy("doc_id")
  }

  /** CDC over [[chunkstoreRead]]'s store ([[graft.operators.ChunkStore.changes]],
    * Delta's `table_changes`): the row-level delta between manifest v1
    * (the base upsert) and v4 (after the modified re-upsert, the
    * tombstone delete, and compaction) — `update` for the surviving
    * `%7==3` re-upserts, `delete` for the `%13==5` tombstones, nothing
    * for untouched rows. The twin replays the modification rules, so
    * the hash check proves the version diff surfaces exactly the
    * mutated keys with their after-image (and that compaction left the
    * change history intact).
    */
  def chunkstoreChanges(s: SparkSession, dir: String): DataFrame = {
    chunkStore(s, dir).changes(s, 1L, 4L)
      .select(col("doc_id"), col("change"), md5(col("after.text")).as("content_hash"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition filters over the corpus (dup-line /
    * top-2-gram / dup-5-gram fractions + keep flag).
    */
  def repetitionStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(docs(s, dir), "text", "doc_id")

  /** C4-style heuristic cleanup (Raffel'20 §2.2): per-rule flags +
    * the default keep combination.
    */
  def c4Filters(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.c4Filters(docs(s, dir), "text", "doc_id")

  /** Gopher quality filters (Rae'21 §A1.1, non-repetition half):
    * word/symbol/bullet/alpha/stopword rules + default keep.
    */
  def gopherQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherQuality(docs(s, dir), "text", "doc_id")

  /** Per-source curation report: the five quality scorers composed
    * into one keep-rate table — what a data team reads before choosing
    * per-source mixing weights. All outputs are exact integer counts
    * (no float-parity risk on top of the already-verified parts).
    *
    * Shape at scale: the three PROJECTION scorers (C4, Gopher,
    * repetition — all pure per-row struct expressions) are computed as
    * columns over ONE corpus scan; only the two scorers that genuinely
    * aggregate (model quality, LM perplexity — each an explode +
    * partial-agg pipeline) run as separate legs, joined back on the
    * co-partitioned doc_id key. Three parquet scans total, down from
    * six — at 100 TB that is the difference between reading the corpus
    * three times and six.
    */
  def curationReport(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val projected = d.select(
      col("doc_id"),
      col("source"),
      TextAnalysis.c4Struct(col("text")).getField("keep").as("k_c4"),
      TextAnalysis.gopherStruct(col("text")).getField("keep").as("k_gopher"),
      TextAnalysis.repetitionStruct(col("text")).getField("keep").as("k_rep"))
    projected
      .join(TextAnalysis.modelQuality(d, "text", "doc_id")
        .select(col("doc_id"), col("keep").as("k_model")), "doc_id")
      .join(Lm.perplexity(d, "text", "doc_id").select(col("doc_id"), col("bucket")), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("k_c4"), 1L).otherwise(0L)).as("keep_c4"),
        sum(when(col("k_gopher"), 1L).otherwise(0L)).as("keep_gopher"),
        sum(when(col("k_rep"), 1L).otherwise(0L)).as("keep_repetition"),
        sum(when(col("k_model"), 1L).otherwise(0L)).as("keep_model"),
        sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("ppl_head"),
        sum(when(col("bucket") === "middle", 1L).otherwise(0L)).as("ppl_middle"),
        sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("ppl_tail"))
      .orderBy("source")
  }

  /** Lee'21-style duplicated-span removal: drop token positions covered
    * by a 10-gram shared across >= 2 docs, rebuild token sequences.
    */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpanRemoval(docs(s, dir), "text", "doc_id")

  /** Model-based quality filter (DCLM/fastText pattern): sigmoid over
    * the checked-in linear weights on hashed-BoW counts.
    */
  def qualityModel(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.modelQuality(docs(s, dir), "text", "doc_id")

  /** CCNet-style boilerplate removal: drop lines shared by >= 3 docs,
    * rebuild the cleaned text.
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lineDedup(docs(s, dir), "text", "doc_id", minDocs = 3)

  /** Crawl-scale text NORMALIZATION (the cleanup C4/CCNet run before
    * anything else) via the native codegen expression
    * [[graft.plans.NormalizeText]]: Unicode NFC + control/whitespace
    * collapse + trim. The corpus text is ASCII-clean, so each doc is
    * planted with a deterministic messy suffix (controls, decomposed
    * e+combining-acute, the Ω compatibility singleton U+2126, CRLF) —
    * built identically in the twin from chr() codepoints — and the
    * char counts before/after pin the collapse arithmetic.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    // controls, DECOMPOSED e+U+0301, U+2126 (NFC singleton -> U+03A9),
    // CRLF+tab tail - all as escapes, never raw bytes in source
    val messy = concat(col("text"),
      lit(" x\u0001\u0002  e\u0301  \u2126 fin\r\n\t"))
    docs(s, dir).select(col("doc_id"), messy.as("_m"))
      .select(col("doc_id"),
        call_function("norm_text", col("_m")).as("normalized"),
        length(col("_m")).cast("long").as("n_before"))
      .withColumn("n_after", length(col("normalized")).cast("long"))
      .orderBy("doc_id")
  }

  /** Distributed LM TRAINING over the corpus
    * ([[graft.operators.Lm.trainBigrams]]): the top-100 bigrams of the
    * fitted table with their context totals and exact-rational MLE
    * conditional probabilities — the 100 TB face of the offline
    * `TrainLm` step that produced the checked-in scoring artifact.
    */
  def lmTrain(s: SparkSession, dir: String): DataFrame =
    Lm.trainBigrams(docs(s, dir), "text")
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(100)

  /** CCNet-style LM-perplexity bucketing: per-doc bigram-LM perplexity
    * under the checked-in model, head/middle/tail split at the trained
    * thresholds.
    */
  def perplexityFilter(s: SparkSession, dir: String): DataFrame =
    Lm.perplexity(docs(s, dir), "text", "doc_id")

  /** End-to-end streaming ingest: document files stream in →
    * featurize → ANN index append → text-query probe of the landed
    * index (see [[graft.streaming.StreamPipeline]]). The landed index
    * is a pure function of (corpus, fitted centroids, query text), so
    * the probe twins like the batch ANN probes — centroids + probed
    * cells are captured for the fitted-constant DuckDB twin, and
    * StreamPipelineSpec additionally pins probe == the batch flow.
    */
  def streamPipeline(s: SparkSession, dir: String): DataFrame = {
    val queryText = "spark filter join stream"
    val emb = Featurize.hashedBow(docs(s, dir), "text", 64, Seq("doc_id"))
    val idx = Ann.buildCached(dir + "#hbow", emb, "embedding", "doc_id", k = 8, seed = 42)
    val cells = probeCells(idx.centroids,
      graft.streaming.StreamPipeline.queryEmbedding(s, queryText))
    OracleArtifacts.streamPipeline = Some((idx.centroids, cells))
    val indexDir = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory("graft_stream_pipe")).toString + "/idx"
    graft.streaming.StreamPipeline.ingestAndProbe(
      s, dir, indexDir, idx.centroids, queryText, cells = Some(cells))
  }

  /** Streamed per-source BPE token budgeting: the complete-mode
    * accounting aggregation drained to its final snapshot — equal by
    * construction to the batch aggregation, which is what the twin
    * checks.
    */
  def streamTokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.tokenBudgetSnapshot(s, dir, budget = TokenBudget)

  /** Per-source budget for [[streamTokenBudget]] — shared with the twin. */
  val TokenBudget = 3000L

  def tokenTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTermsPerGroup(
      tokenTable(s, dir).select("source", "term"), "source", k = 5)

  def qualityScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, dir), "text", "doc_id").orderBy("doc_id")

  /** Zipf power-law fit over the corpus term distribution
    * ([[TextAnalysis.zipfFit]]): OLS slope/intercept/R² of the
    * log-log rank-frequency line — the corpus-health scalar trio.
    */
  def zipfFit(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(docs(s, dir), "text")

  /** Corpus drift between two snapshots
    * ([[TextAnalysis.corpusDrift]]): the even/odd doc-id split stands
    * in for consecutive crawl batches; JS divergence, OOV mass and
    * shape stats in one row. The twin recomputes the full
    * term-distribution arithmetic.
    */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    TextAnalysis.corpusDrift(
      d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1), "text")
  }

  /** Per-language quality curation: drop the bottom quartile of docs by
    * quality score within each lang.
    */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityScore(docs(s, dir), "text", "doc_id")
      .join(docs(s, dir).select("doc_id", "lang"), "doc_id")
    TextAnalysis.quantileFilter(scored, "lang", "quality", "doc_id", minQuantile = 0.25)
      .select("lang", "doc_id", "quality", "q_rank")
      .orderBy("lang", "doc_id")
  }

  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(docs(s, dir), "text", "doc_id").orderBy("doc_id")

  /** Whitespace vs BPE-ish token counts (training-data token budgeting).
    * The BPE-ish pattern (letter runs | digit runs | single symbol)
    * matches GPT-style pre-tokenization granularity.
    */
  /** Per-doc token budget: whitespace proxy vs REAL BPE count. The BPE
    * leg is the whole-text [[graft.plans.BpeTextTokens]] expression — one
    * narrow codegen'd projection, no explode/shuffle (vs [[bpeTokens]],
    * which demonstrates the exploded per-pre-token path).
    */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        size(TextOps.tokenize(col("text"))).cast("long").as("ws_tokens"),
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.BpeTextTokens(
            org.apache.spark.sql.GraftBridge.expression(lower(col("text"))),
            Bpe.mergesArray)).as("bpe_tokens")
      )
      .orderBy("doc_id")

  /** Distinct-bigram diversity per source via mergeable HLL sketches
    * (Apache DataSketches `hll_sketch_agg`, lgK=14 ≈ 0.8% standard
    * error), self-checked in-query against the exact distinct count:
    * `hll_ok` is the |est − exact|/exact ≤ 5% acceptance. The twin
    * recomputes the exact count and pins `hll_ok = true`, so a broken
    * sketch path FAILS the hash — the falsifiable-approximation
    * pattern (`ann_recall`'s shape applied to cardinality). At 100 TB
    * the exact leg is what you drop: the sketch is a fixed-size
    * mergeable partial aggregate (combine across shards/days with
    * `hll_union_agg`), which is the entire point — distinct-counting
    * a trillion n-grams exactly means shuffling them all.
    */
  def ngramDiversity(s: SparkSession, dir: String): DataFrame =
    TextOps.explodeShingles(
        docs(s, dir).select(col("source"), TextOps.tokenize(col("text")).as("_toks")),
        TextOps.rawShingles(col("_toks"), 2), "gram", col("source"))
      .groupBy("source")
      .agg(
        count_distinct(col("gram")).as("distinct_bigrams"),
        hll_sketch_estimate(hll_sketch_agg(col("gram"), lit(14))).as("_est"))
      .select(col("source"), col("distinct_bigrams"),
        (abs(col("_est") - col("distinct_bigrams")).cast("double") /
          col("distinct_bigrams").cast("double") <= 0.05).as("hll_ok"))
      .orderBy("source")

  /** Char-distribution quality signals ([[TextAnalysis.charEntropy]]):
    * Shannon entropy + max-char ratio over the tokenizer alphabet —
    * the information-theoretic gibberish/keyboard-mash cut.
    */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(docs(s, dir), "text", "doc_id").orderBy("doc_id")

  /** Tokenizer fertility per language: BPE tokens per pre-token word
    * and chars per BPE token — the standard multilingual-curation
    * diagnostic for how (un)economically the tokenizer encodes each
    * language (high fertility = the language pays more sequence
    * positions per word, biasing any token-budgeted mix against it).
    * One narrow codegen'd projection ([[graft.plans.BpeTextTokens]],
    * no explode) + one partial-agg groupBy on lang.
    */
  def tokenFertility(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("lang"), col("n_chars"),
        size(regexp_extract_all(lower(col("text")), lit(Bpe.PretokenRegex), lit(0)))
          .cast("long").as("_pre"),
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.BpeTextTokens(
            org.apache.spark.sql.GraftBridge.expression(lower(col("text"))),
            Bpe.mergesArray)).as("_bpe"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("_pre").as("pretokens"),
        sum("_bpe").as("bpe_tokens"),
        round(sum("_bpe").cast("double") / sum("_pre"), 5).as("fertility"),
        round(sum("n_chars").cast("double") / sum("_bpe"), 5).as("chars_per_token"))
      .orderBy("lang")

  /** Exact corpus heavy hitters ([[graft.operators.Freq.heavyHitters]]):
    * tokens with frequency ≥ 0.5% of the corpus via per-partition
    * Misra-Gries candidates (m=512, so θ·(m+1) = 2.565 ≥ 1 — no
    * false negatives) + exact recount of the broadcastable candidate
    * set. The twin is the plain exact GROUP BY + HAVING — equality
    * proves the sketch path found exactly the θ-heavy set with exact
    * counts, while shuffling only candidate occurrences instead of
    * the full vocabulary.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    Freq.heavyHitters(
      docs(s, dir).select(explode(TextOps.tokenize(col("text"))).as("term")),
      "term", theta = 0.005, m = 512)

  /** Streamed face of [[heavyHitters]]
    * ([[graft.streaming.StreamPipeline.heavyHittersSnapshot]]): terms
    * and per-batch Misra-Gries candidate keys land per micro-batch,
    * one exact recount at drain. Batch-boundary-invariant (pigeonhole
    * over (batch × partition) cells), so it shares the batch twin.
    */
  def streamHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.heavyHittersSnapshot(
      s, graft.streaming.StreamPipeline.documentStream(s, dir),
      theta = 0.005, m = 512)

  /** Sketch-backed length quantiles per source, self-checked in-query
    * (the E32 falsifiable-approximation pattern applied to rank):
    * `approx_percentile` (accuracy 1000) next to the exact
    * interpolated `percentile`; `digest_ok` verifies the sketch value's
    * EXACT rank sits within the sketch's published n/accuracy rank
    * bound (one conditional-count join-back per (source, p)). The twin
    * recomputes the exact quantiles and pins digest_ok — a sketch
    * outside its own error contract fails the hash. At 100 TB the
    * exact leg is what you drop: the KLL-style summary is a mergeable
    * fixed-size partial aggregate; exact quantiles need a global sort.
    */
  def quantileDigest(s: SparkSession, dir: String): DataFrame = {
    val acc = 1000
    val d = docs(s, dir).select(col("source"), col("n_chars").cast("double").as("v"))
    val per = d.groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("_exact"),
        expr(s"approx_percentile(v, array(0.5D, 0.9D, 0.99D), $acc)").as("_apx"))
      .select(col("source"), col("n"), col("_exact").as("ex"), col("_apx").as("ax"))
      .select(col("source"), col("n"), posexplode(arrays_zip(col("ex"), col("ax"))))
      .select(col("source"), col("n"),
        element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos") + 1).as("p"),
        col("col.ex").as("_ev"), col("col.ax").as("_av"))
    // With duplicated values the sketch value's exact rank is an
    // INTERVAL [count(v < av), count(v <= av)], not a point: accept
    // when that interval intersects [p·n − n/acc − 1, p·n + n/acc + 1].
    // The single upper-rank test spuriously fails a within-bound sketch
    // whenever a heavy duplicate run straddles the quantile.
    per.join(d, Seq("source"))
      .groupBy(col("source"), col("p"), col("n"), col("_ev"), col("_av"))
      .agg(
        sum(when(col("v") < col("_av"), 1L).otherwise(0L)).as("_rank_lo"),
        sum(when(col("v") <= col("_av"), 1L).otherwise(0L)).as("_rank_hi"))
      .select(col("source"), col("p"), round(col("_ev"), 4).as("value"),
        (col("_rank_lo") <= col("p") * col("n") + col("n").cast("double") / acc + 1.0 &&
          col("_rank_hi") >= col("p") * col("n") - col("n").cast("double") / acc - 1.0)
          .as("digest_ok"))
      .orderBy("source", "p")
  }

  /** Context-window truncation report: for each standard training
    * context length, how many documents overflow it and what token
    * mass a truncate-at-L policy discards — the number that decides
    * between truncation and the E22 concat-and-chunk packing. One
    * narrow token-count projection crossed with the 3-row window
    * table, one partial-agg groupBy.
    */
  def contextTruncation(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    val t = docs(s, dir).select(TextOps.tokenCount(col("text")).cast("long").as("tok"))
    t.crossJoin(broadcast(Seq(512L, 2048L, 8192L).toDF("ctx_len")))
      .groupBy("ctx_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        sum(when(col("tok") > col("ctx_len"), 1L).otherwise(0L)).as("docs_over"),
        sum(greatest(col("tok") - col("ctx_len"), lit(0L))).as("lost_tokens"))
      .select(col("ctx_len"), col("n_docs"), col("total_tokens"), col("docs_over"),
        col("lost_tokens"),
        round(col("lost_tokens").cast("double") / col("total_tokens").cast("double"), 5)
          .as("lost_share"))
      .orderBy("ctx_len")
  }

  /** True BPE token budgeting: the checked-in merge table
    * (resources/graft/bpe_merges.txt, trained by graft.tools.TrainBpe)
    * applied per pre-token via the native codegen
    * [[graft.plans.BpeWordTokens]] expression — a pure map over the
    * exploded pre-token stream followed by one map-side-combined
    * aggregation; no join, no shuffle beyond the per-doc groupBy.
    * Upgrades the regex proxy in [[tokenCounts]] to real merges
    * (reference: chunker.py:24 — token-aware sizing needs a tokenizer).
    */
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val pre = docs(s, dir).select(
      col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit(Bpe.PretokenRegex), lit(0))).as("w"))
    pre
      .select(
        col("doc_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.BpeWordTokens(
            org.apache.spark.sql.GraftBridge.expression(col("w")),
            Bpe.mergesArray)).as("n"))
      .groupBy("doc_id")
      .agg(count("*").as("n_pretokens"), sum("n").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Token-aware chunking: greedy packing of pre-tokens into chunks by
    * REAL BPE token budget (reference: chunker.py sizes chunks by
    * HF-tokenizer token counts, not word counts). A pre-token is assigned
    * to the chunk where its running count starts, so no pre-token is ever
    * split and chunks exceed the budget by at most one pre-token's
    * tokens. One explode + one per-doc window cumsum + one groupBy —
    * partitioned by doc_id throughout, so it scales with the corpus, not
    * the document count per executor.
    */
  def chunkTokenBudget(s: SparkSession, dir: String, budget: Int = 32): DataFrame = {
    val pre = docs(s, dir).select(
      col("doc_id"),
      posexplode(regexp_extract_all(lower(col("text")), lit(Bpe.PretokenRegex), lit(0)))
        .as(Seq("pos", "w")))
    val counted = pre.select(
      col("doc_id"), col("pos"), col("w"),
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.BpeWordTokens(
          org.apache.spark.sql.GraftBridge.expression(col("w")),
          Bpe.mergesArray)).as("n"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    counted
      .withColumn("cum", sum("n").over(byDoc))
      .withColumn("chunk_index", floor((col("cum") - col("n")) / budget).cast("long"))
      .groupBy("doc_id", "chunk_index")
      .agg(
        count("*").as("n_pretokens"),
        sum("n").cast("long").as("chunk_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("chunk"))
      .orderBy("doc_id", "chunk_index")
  }

  /** Sequence packing over the REAL-BPE chunk table: same running-sum
    * shard window as [[tokenShards]] but budgeted in actual tokens
    * (budget 64 over budget-32 chunks) — the shards a trainer would
    * pack sequences from.
    */
  def tokenShardsBpe(s: SparkSession, dir: String): DataFrame =
    Sampling.shardStats(
      Sampling.tokenShards(
        chunkTokenBudget(s, dir).select("doc_id", "chunk_index", "chunk_tokens"),
        "doc_id", "chunk_tokens", budget = 64, orderCols = Seq("chunk_index")),
      "doc_id", "chunk_tokens")
      .orderBy("doc_id", "shard_id")

  /** PII scrub over documents with planted emails/phones (synthetic
    * text has none, so plant deterministically on both sides).
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(
      col("doc_id"),
      concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com ok"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0, lit(" call 555-123-4567 now")).otherwise(lit(""))
      ).as("text")
    )
    TextAnalysis.piiScrub(planted, "text", "doc_id").orderBy("doc_id")
  }

  /** Decontamination: fraction of each doc's shingles present in the
    * "benchmark" slice (doc_id < 10).
    */
  def contaminationCheck(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.contamination(
      docs(s, dir).filter(col("doc_id") >= 10),
      docs(s, dir).filter(col("doc_id") < 10),
      "text", "doc_id"
    ).orderBy("doc_id")

  /** Asymmetric containment pairs over documents plus 20 planted
    * excerpts (tokens 6..35 of docs 0-19, id + 10000 — the same
    * construction in the twin): every excerpt must be found inside its
    * source even though its Jaccard with the source is far below any
    * near-dup threshold ([[Dedup.containmentPairs]] — the inverted-index
    * co-occurrence join with the rarest-prefix escape hatch for hot
    * shingles; the twin brute-forces all pairs, proving the blocking
    * loses nothing).
    */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val excerpts = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 10000L).as("doc_id"),
        concat_ws(" ", slice(TextOps.tokenize(col("text")), 6, 30)).as("text"))
    // 5-gram shingles: the corpus vocabulary is tiny, so 3-gram
    // document frequencies are high everywhere and the rarity prefix
    // stops pruning (measured 56 s at sf0.1); 5-grams make prefix
    // shingles near-unique and candidates track true pairs (1.5 s)
    Dedup.containmentPairs(d.unionByName(excerpts), "text", "doc_id", shingleK = 5)
      .orderBy("id_a", "id_b")
  }

  /** URL canonicalization + dedup over a deterministic synthetic URL
    * per document (the corpus has no url column, so the raw url is the
    * same literal expression in Spark and the twin): case-varied
    * scheme/host, default port, tracking params, fragment and a
    * trailing-slash variant all collapse — 5 raw variants per
    * canonical page ([[Dedup.urlDedup]]).
    */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("HTTPS://WWW.Example"), (col("doc_id") % 20).cast("string"),
      lit(".COM:443/Page/"), (col("doc_id") % 100).cast("string"),
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&sid="), (col("doc_id") % 5).cast("string"),
      lit("&b=2&a=1#sec"), col("doc_id").cast("string"))
    Dedup.urlDedup(docs(s, dir).withColumn("url", raw), "url", "doc_id")
      .orderBy("canonical_url")
  }

  /** [[contaminationCheck]] by the Bloom-prefilter scale path — same
    * split, bit-identical report (the filter is exactness-preserving,
    * which is the property the shared twin proves).
    */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bloomDecontaminate(
      docs(s, dir).filter(col("doc_id") >= 10),
      docs(s, dir).filter(col("doc_id") < 10),
      "text", "doc_id"
    ).orderBy("doc_id")

  /** Edit-distance similarity self-join over customer names: every
    * pair within Levenshtein distance 1, via FastSS deletion-
    * neighborhood blocking + exact confirm ([[Dedup.editDistanceJoin]]
    * — the record-linkage primitive; q-gram prefix filtering was
    * measured and rejected there. The DuckDB twin brute-forces all
    * pairs, proving the blocking has no false negatives).
    */
  def fuzzyJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceJoin(Tables.customer(s, dir), "c_name", "c_custkey", maxDist = 1)
      .orderBy("id_a", "id_b")

  /** Span-level decontamination: drop the corpus token positions
    * covered by any benchmark 10-gram and rebuild (surgical removal,
    * vs [[contaminationCheck]]'s ratio report).
    */
  def decontaminateSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminateSpans(
      docs(s, dir).filter(col("doc_id") >= 10),
      docs(s, dir).filter(col("doc_id") < 10),
      "text", "doc_id")

  /** Cross-lingual span decontamination: benchmark spans PLANTED into
    * the corpus in Cyrillic transliteration (docs with doc_id%17==3 get
    * a 12-token Cyrillic copy of benchmark doc (doc_id%10)'s opening
    * appended) escape plain gram matching entirely — the Cyrillic
    * letters are not [a-z0-9], so the raw tokenizer shreds them — but
    * collide once both sides pass [[TextOps.scriptFold]]. The planted
    * snippet is deterministic, so the DuckDB twin replays it exactly.
    */
  def decontaminateXlingual(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") < 10)
    val snip = bench.select(
      col("doc_id").as("b"),
      TextOps.latinToCyrillic(
        array_join(slice(TextOps.tokenize(col("text")), 1, 12), " ")).as("cyr"))
    val planted = d.filter(col("doc_id") >= 10)
      .join(broadcast(snip), pmod(col("doc_id"), lit(10)) === col("b"))
      .select(
        col("doc_id"),
        concat(
          col("text"),
          when(pmod(col("doc_id"), lit(17)) === 3, concat(lit(" "), col("cyr")))
            .otherwise(lit(""))).as("text"))
    Dedup.decontaminateSpans(planted, bench, "text", "doc_id",
      normalize = TextOps.scriptFold)
  }

  /** Streamed decontamination drained to its landed table: micro-batch
    * arrival order cannot change per-document scrubbing (the benchmark
    * is static), so the landed table equals the batch
    * [[decontaminateSpans]] — the shared twin checks exactly that.
    */
  def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val landDir = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory("graft_stream_decon")).toString + "/landed"
    graft.streaming.StreamPipeline.decontaminateAndLand(
      s, dir, docs(s, dir).filter(col("doc_id") < 10), landDir)
  }

  /** The reference's PRIMARY search flow end-to-end (server.py: embed the
    * query text, then vector top-k — store.py:261): query text →
    * hashed-BoW dims → sparse cosine against every document's hashed-BoW
    * — one broadcast of the tiny query-dim table, one groupBy(doc) dot
    * product. All counts stay integers until the final
    * `dot / (sqrt·sqrt)` so both engines compute bit-identical doubles
    * before the 5 dp round.
    */
  def semanticSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queryText = "spark filter join stream"
    // query featurization is driver work (round-12 probe-latency rule;
    // bit-identical local forms pinned in FtsSpec)
    val qDims = TextOps.tokenizeLocal(queryText)
      .map(TextOps.hashedBowDimLocal(_))
      .groupBy(identity).map { case (d, ts) => (d, ts.size.toLong) }.toSeq.sortBy(_._1)
    val qss = qDims.map(c => c._2 * c._2).sum
    val qd = qDims.toDF("dim", "qcnt")
    val dd = tokenTable(s, dir)
      .select(col("doc_id"), TextOps.hashedBowDim(col("term")).as("dim"))
      .groupBy("doc_id", "dim").agg(count("*").as("cnt"))
    val dn = dd.groupBy("doc_id").agg(sum(col("cnt") * col("cnt")).as("ss"))
    dd.join(broadcast(qd), "dim")
      .groupBy("doc_id").agg(sum(col("cnt") * col("qcnt")).as("dot"))
      .join(dn, "doc_id")
      .withColumn("qss", lit(qss))
      .select(col("doc_id"),
        round(col("dot") / (sqrt(col("ss")) * sqrt(col("qss"))), 5).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
      .limit(10)
  }

  def embedHashedBow(s: SparkSession, dir: String): DataFrame =
    tokenTable(s, dir)
      .select(col("doc_id"), TextOps.hashedBowDim(col("term")).as("dim"))
      .groupBy("doc_id", "dim")
      .agg(count("*").as("cnt"))
      .orderBy("doc_id", "dim")

  /** Batch embedding through the CHECKED-IN serialized model
    * ([[Featurize.onnxEmbedder]]: graft/embed_mlp.onnx loaded once per
    * partition, then row-after-row scoring — the reference's
    * embed_documents lifecycle, embedder.py:41). Components round to
    * 5 dp; everything before the L2 divide is exact integer arithmetic
    * (integer weights + ReLU), which is what makes a DuckDB twin of a
    * neural scorer possible at all.
    */
  def embedOnnx(s: SparkSession, dir: String): DataFrame =
    Featurize.embedWithModel(
        docs(s, dir).select("doc_id", "text"), "text", Seq("doc_id"), 64,
        Featurize.onnxEmbedder())
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("doc_id"), col("k").cast("long").as("k"), round(col("x"), 5).as("x"))
      .orderBy("doc_id", "k")

  /** Token-SEQUENCE encoder embeddings
    * ([[graft.operators.Featurize.encoderEmbedder]] over the
    * checked-in `embed_encoder.onnx`): BPE subword ids → embedding
    * Gather → single-head attention → mean-pool → L2 normalize — the
    * reference embedder's actual pipeline shape (embedder.py:21-60)
    * with a genuinely dynamic sequence length per document. Registered
    * rows-only: softmax/layernorm are transcendental, so no
    * bit-exact SQL twin exists; the math itself is pinned against an
    * independent functional recomputation in FeaturizeSpec at two
    * sequence lengths.
    */
  def embedEncoder(s: SparkSession, dir: String): DataFrame =
    Featurize.embedWithModel(
        docs(s, dir).select("doc_id", "text"), "text", Seq("doc_id"), 16,
        Featurize.encoderEmbedder())
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("doc_id"), col("k").cast("long").as("k"), round(col("x"), 5).as("x"))
      .orderBy("doc_id", "k")

  /** QUANTIZED-INTEGER encoder embeddings
    * ([[graft.operators.Featurize.quantEncoderEmbedder]] — the same
    * `embed_encoder.onnx` artifact run through
    * [[graft.functions.QuantEncoder]]'s fixed-point forward): the
    * I-BERT-style integer-only inference variant whose sums are
    * order-independent, making the transformer forward the ONE member
    * of the encoder family with a bit-exact DuckDB twin — the twin
    * re-runs the full pipeline (BPE ids → Gather → integer attention →
    * integer LN → FFN → pool → single-float-step normalize) as
    * relational algebra over BIGINTs, weights inlined from the fixture
    * formulas while the Spark side loads them from the FILE, so the
    * hash gate proves artifact, contract and both engines agree.
    */
  def embedEncoderQ(s: SparkSession, dir: String): DataFrame =
    Featurize.embedWithModel(
        docs(s, dir).select("doc_id", "text"), "text", Seq("doc_id"), 16,
        Featurize.quantEncoderEmbedder())
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("doc_id"), col("k").cast("long").as("k"), round(col("x"), 5).as("x"))
      .orderBy("doc_id", "k")

  /** Multi-head encoder embeddings — the PRETRAINED-CLASS topology
    * through the same seam ([[graft.operators.Featurize.encoderEmbedder]]
    * over the checked-in `embed_encoder_mh.onnx`,
    * [[graft.functions.OnnxFixture.encoderMhGraph]]): BPE subword ids →
    * embedding Gather → 2 pre-LN layers of 4-head/32-dim attention
    * (packed QKV → Split → per-head softmax → Concat → Wo) with exact
    * Erf-GELU FFNs → final LayerNorm → mean-pool → L2 normalize — a
    * MiniLM-class graph shape at 128 dims (embedder.py:38 runs
    * nomic-embed through exactly this lifecycle). Registered rows-only
    * (softmax/layernorm/erf are transcendental, no bit-exact SQL twin —
    * the `embed_encoder` honest class); the forward pass is pinned
    * against an independent plain-Scala recomputation in EncoderMhSpec.
    */
  /** [[embedEncoderMh]] over a deterministic bounded doc slice — the
    * BENCH workload for the multi-head encoder (Bench.benchOverrides).
    * The full-corpus forward stays the correctness row; benching it at
    * 10 reps made one model forward 4% of the round-10 warm total. A
    * fixed 120-doc slice keeps the measured path identical (same
    * repartition fan-out, same per-partition session load, same
    * posexplode) at ~1/4 the model math — a fixed-size workload is also
    * what a bench row should be at 100 TB, where "embed the whole
    * corpus each rep" is not a benchmark anyone runs.
    */
  def embedEncoderMhBounded(s: SparkSession, dir: String): DataFrame =
    Featurize.embedWithModel(
        docs(s, dir).filter(col("doc_id") < 120).select("doc_id", "text"),
        "text", Seq("doc_id"),
        graft.functions.OnnxFixture.MhModelDims,
        Featurize.encoderEmbedder("/graft/embed_encoder_mh.onnx",
          outDims = graft.functions.OnnxFixture.MhModelDims))
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("doc_id"), col("k").cast("long").as("k"), round(col("x"), 5).as("x"))
      .orderBy("doc_id", "k")

  def embedEncoderMh(s: SparkSession, dir: String): DataFrame =
    Featurize.embedWithModel(
        docs(s, dir).select("doc_id", "text"), "text", Seq("doc_id"),
        graft.functions.OnnxFixture.MhModelDims,
        Featurize.encoderEmbedder("/graft/embed_encoder_mh.onnx",
          outDims = graft.functions.OnnxFixture.MhModelDims))
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("doc_id"), col("k").cast("long").as("k"), round(col("x"), 5).as("x"))
      .orderBy("doc_id", "k")

  /** Per-document CURATION DISPOSITION — the decision table a training
    * pipeline materializes before writing shards: every corpus
    * document (doc_id >= 10; docs < 10 serve as the held-out
    * benchmark) plus planted near-dup and exact-dup rows receives
    * exactly ONE disposition by fixed priority:
    * `exact_dup` (non-keeper of a sha256 group, B1) >
    * `near_dup` (non-keeper of a verified MinHash-LSH cluster, B2+B6) >
    * `contaminated` (benchmark-shingle ratio ≥ 0.2, E8) >
    * `low_quality` (below the per-lang 0.25 quality quantile, E3) >
    * `keep`. Composes the proven operators over one universe; each
    * detector is a flag join, so the plan stays the union of the
    * operators' own shapes plus four broadcast-or-shuffle joins on the
    * doc key — no new shuffle class. The twin composes the same CTE
    * fragments.
    */
  /** The curation universe and the four detector legs, each a
    * DataFrame that can be run and timed on its own (round-10 verdict
    * #4: the driver box cold-flagged the composed query 51.9x while the
    * builder box sat at cold = 2.2x warm — per-leg timings plus the
    * bench stage metrics are the adjudication evidence). Leg order
    * carries the disposition priority.
    */
  private def curationLegs(
      s: SparkSession, dir: String): (DataFrame, Seq[(String, DataFrame)]) = {
    val d = docs(s, dir).select("doc_id", "text", "lang")
    val bench = d.filter(col("doc_id") < 10)
    val base = d.filter(col("doc_id") >= 10)
    val toks = TextOps.tokenize(col("text"))
    // The universe is consumed by SIX subtrees (four detector legs —
    // lowQ twice — plus the final disposition join). It is NOT
    // materialized: the subtree is a map-only scan+union+projection
    // that pipelines into each leg's first exchange WITH per-leg
    // column pruning, and all three materialization strategies
    // measured SLOWER at sf0.1 than the six pipelined passes
    // (min-of-3 warm: recompute 2.46 s, salted persist 3.68 s, lazy
    // localCheckpoint 4.64 s — the barrier defers every leg behind a
    // full materialization and rereads text-heavy blocks without
    // pruning; round-16 verdict item 4 measured the same 1.75× raw).
    // At 100 TB the six passes stay map-only scans that AQE/pruning
    // keep cheap relative to the legs' own shuffles.
    val universe = base
      .unionAll(base.filter(col("doc_id") < 25).select(
        (col("doc_id") + 10000).as("doc_id"),
        array_join(slice(toks, lit(1), greatest(size(toks) - 5, lit(1))), " ").as("text"),
        col("lang")))
      .unionAll(base.filter(col("doc_id") % 20 === 0).select(
        (col("doc_id") + 20000).as("doc_id"), col("text"), col("lang")))

    def flag(ids: DataFrame, name: String) =
      ids.select(col("doc_id"), lit(1).as(name))

    val exact = flag(
      universe.withColumn("_h", sha2(col("text"), 256))
        .withColumn("_keeper",
          min("doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy("_h")))
        .filter(col("doc_id") =!= col("_keeper")).select("doc_id"),
      "_ex")
    val near = flag(
      Dedup.duplicateClusters(
        Dedup.minHashLshPairs(universe.select("doc_id", "text"), "text", "doc_id",
          numHashes = 8, shingleK = 3, threshold = 0.3))
        .filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id")),
      "_nd")
    val contaminated = flag(
      TextAnalysis.contamination(universe, bench, "text", "doc_id")
        .filter(col("ratio") >= 0.2).select("doc_id"),
      "_ct")
    val lowQ = flag(
      TextAnalysis.quantileFilter(
        TextAnalysis.qualityScore(universe, "text", "doc_id")
          .join(universe.select("doc_id", "lang"), "doc_id"),
        "lang", "quality", "doc_id", minQuantile = 0.0)
        .filter(col("q_rank") < 0.25).select("doc_id"),
      "_lq")
    (universe, Seq("_ex" -> exact, "_nd" -> near, "_ct" -> contaminated, "_lq" -> lowQ))
  }

  def curationDisposition(s: SparkSession, dir: String): DataFrame = {
    val (universe, legs) = curationLegs(s, dir)
    // One union + min-priority aggregate + ONE left join instead of
    // four sequential left joins (guide §2.4: each join was its own
    // shuffle/broadcast leg; priority = leg order, min wins — the same
    // first-match-wins the when-chain expressed).
    val flagged = legs.zipWithIndex.map { case ((_, leg), i) =>
      leg.select(col("doc_id"), lit(i).as("_prio"))
    }.reduce(_.unionAll(_))
      .groupBy("doc_id").agg(min("_prio").as("_prio"))
    val names = Seq("exact_dup", "near_dup", "contaminated", "low_quality")
    universe.select("doc_id")
      .join(flagged, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        names.zipWithIndex.foldLeft(lit("keep")) { case (acc, (n, i)) =>
          when(col("_prio") === i, n).otherwise(acc)
        }.as("disposition"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-SAFE grouped train/val/test split
    * ([[graft.operators.Sampling.groupSplit]]): assignment keyed on
    * `source`, so template siblings and near-dups (which live within a
    * source) can never straddle the split boundary; per-split source /
    * doc / char rollup. Pure projection + one partial-agg rollup.
    */
  def splitGrouped(s: SparkSession, dir: String): DataFrame =
    Sampling.groupSplit(
        docs(s, dir).select("doc_id", "source", "n_chars"), "source", seed = "split7")
      .groupBy("split")
      .agg(
        countDistinct("source").as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .orderBy("split")

  /** Deterministic stratified training-mix sample: up to 20 docs per
    * lang, chosen by md5-hash order (reproducible corpus mixing).
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(docs(s, dir).select("doc_id", "lang"), "lang", "doc_id", quota = 20)
      .select("lang", "doc_id", "sample_rank")
      .orderBy("lang", "sample_rank")

  /** Per-doc keyword extraction
    * ([[graft.operators.TextAnalysis.keywordsPerDoc]]): top-3 TF-IDF
    * terms per document — the tagging/faceting step of an ingest
    * pipeline.
    */
  def keywordTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.keywordsPerDoc(tokenTable(s, dir).select("doc_id", "term"), "doc_id", k = 3)

  /** Temperature-flattened (α=0.5) language mix: downsample
    * high-resource langs toward balance, deterministically.
    */
  def mixTemperature(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(docs(s, dir).select("doc_id", "lang"), "lang", "doc_id")

  /** DoReMi-style domain weights over the per-source proxy-LM losses
    * ([[Sampling.doremiWeights]]): sources whose corpus fits the
    * proxy LM worse than the cross-domain mean get upweighted, EG
    * closed form, uniform smoothing. The twin recomputes the whole
    * chain from the inlined LM constants.
    */
  def mixDoremi(s: SparkSession, dir: String): DataFrame =
    Sampling.doremiWeights(docs(s, dir).select("doc_id", "source", "text"),
      "text", "source", "doc_id")

  /** UniMax budget allocation over the source domains
    * ([[graft.operators.Sampling.unimaxWeights]]): half the corpus's
    * tokens spread as uniformly as the 2-epoch repetition cap allows.
    * The twin replays the water-filling with window prefix sums over
    * the same exact long arithmetic.
    */
  def mixUnimax(s: SparkSession, dir: String): DataFrame =
    Sampling.unimaxWeights(docs(s, dir).select("source", "text"),
      "text", "source", epochCap = 2L, budgetFrac = 0.5)

  /** Deterministic global training shuffle into 4 round-robin shards
    * ([[graft.operators.Sampling.shuffleShards]]): seeded md5
    * permutation, global position via the two-phase distributed scan
    * (no partition-less window — asserted in SamplingSpec), shard
    * sizes within one of each other. The twin runs the literal global
    * `row_number` window DuckDB-side; hash equality proves the
    * distributed scan IS that window.
    */
  def shuffleShards(s: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShards(docs(s, dir).select("doc_id"), "doc_id", seed = "42", nShards = 4)
      .orderBy("doc_id")

  /** Topic/domain discovery: assign every document to its k-means
    * embedding cluster (the ann_probe coarse quantizer, memoized — no
    * refit) and report each cluster's size and top-5 tokens — the
    * corpus-composition map a curation pipeline builds before choosing
    * mixture weights. One token-level aggregation keyed by (cluster,
    * term), then a per-cluster top-k window; the doc→cluster join is a
    * plain equi-join (co-partitioned by id at scale).
    */
  /** Embedding-space health per label: count, mean vector norm, and
    * the mean pairwise cosine of the unit vectors — the anisotropy
    * diagnostic (Ethayarajh'19-style): a space whose vectors all point
    * the same way (mean cosine → 1) ranks everything similar and
    * clusters/dedups poorly; well-spread labels sit near 0. The n²
    * pairwise sum is never materialized — the identity
    * Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖² turns it into ONE linear pass:
    * per-dim component sums (an explode + groupBy, partial-agg'd)
    * and per-row self-dots. Cross-engine exactness by the C14 integer
    * trick: unit components quantized to a 1e-5 grid (longs), so both
    * sums are EXACT integers in any engine and in any order; only the
    * two final divisions are doubles (5 dp). Norm fold order is the
    * deterministic left fold both engines share (the cosine-twin
    * contract); per-row norms are rounded onto a 1e-6 grid before the
    * cross-row sum so the mean is order-free too.
    */
  def embeddingStats(s: SparkSession, dir: String): DataFrame = {
    val grid = 100000.0 // 1e-5 unit-component grid
    val base = embs(s, dir).select(col("label"),
      VectorOps.toDouble(col("embedding")).as("ev"))
      .withColumn("nrm", VectorOps.l2Norm(col("ev")))
      .withColumn("nmic", round(col("nrm") * 1e6, 0).cast("long"))
      // Zero-norm guard: x·grid/0 = Inf, which Spark's round/cast turns
      // into nulls (silently poisoning qn2/_sig2) while DuckDB errors on
      // CAST(round(inf)) — a zero vector has no direction, so its unit
      // components are defined as 0 on BOTH engines.
      // nrm is BOUND ONCE through the 1-element struct wrapper before
      // the per-element lambda (the VectorOps.normalize idiom):
      // referencing col("nrm") inside the lambda lets CollapseProject
      // substitute the whole O(d) norm fold into EVERY element — and
      // the when() references it twice, so O(2d²) per row; measured
      // 2.35 s warm for 2k 64-dim rows, 0.9 s after binding.
      .withColumn("u",
        flatten(transform(
          array(struct(col("ev").as("v"), col("nrm").as("n"))),
          s => transform(s.getField("v"),
            x => when(s.getField("n") > 0,
              round(x * lit(grid) / s.getField("n"), 0).cast("long"))
              .otherwise(lit(0L))))))
      .withColumn("qn2", aggregate(col("u"), lit(0L), (a, q) => a + q * q))
    val perRow = base.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      sum(col("nmic")).as("_snorm"),
      sum(col("qn2")).as("_sqn"))
    val perDim = base
      .select(col("label"), posexplode(col("u")).as(Seq("_d", "_q")))
      .groupBy(col("label"), col("_d"))
      .agg(sum(col("_q")).as("_sq"))
      .groupBy("label")
      .agg(sum(col("_sq") * col("_sq")).as("_sig2"))
    perRow.join(perDim, Seq("label"))
      .select(col("label"), col("n_vecs"),
        round(col("_snorm").cast("double") / (col("n_vecs").cast("double") * 1e6), 5)
          .as("mean_norm"),
        when(col("n_vecs") > 1,
          round((col("_sig2") - col("_sqn")).cast("double") /
            ((col("n_vecs") * (col("n_vecs") - 1)).cast("double") * lit(grid * grid)), 5))
          .as("mean_pairwise_cos"))
      .orderBy("label")
  }

  def clusterTopics(s: SparkSession, dir: String): DataFrame = {
    val asg = ivfIndex(s, dir)._1.assigned.select(col("vec_id").as("doc_id"), col("cluster").cast("long").as("cluster"))
    val sizes = asg.groupBy("cluster").agg(count(lit(1)).as("n_docs"))
    val terms = docs(s, dir)
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
      .join(asg, "doc_id")
      .groupBy("cluster", "term").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("cluster").orderBy(col("cnt").desc, col("term"))
    terms
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .join(broadcast(sizes), "cluster")
      .select("cluster", "n_docs", "rank", "term", "cnt")
      .orderBy("cluster", "rank")
  }

  /** DSIR importance resampling: treat the English documents as the
    * TARGET distribution and select the 100 corpus docs whose hashed
    * unigram profile best matches it under Gumbel-perturbed importance
    * weights (Xie'23). 256 hash buckets, md5-hash noise.
    */
  def dsirSample(s: SparkSession, dir: String): DataFrame =
    Sampling.dsirResample(docs(s, dir).select("doc_id", "text", "lang"),
      "text", "doc_id", targetCol = col("lang") === "en", buckets = 256, topK = 100)
      .select("doc_id", "log_weight", "sample_key")

  /** Token-budget sharding of the chunk stream: ~64-token shards per
    * doc (sequence packing for training), reported per shard.
    */
  def tokenShards(s: SparkSession, dir: String): DataFrame =
    Sampling.shardStats(
      Sampling.tokenShards(
        chunks(s, dir).select("doc_id", "chunk_index", "chunk_tokens"),
        "doc_id", "chunk_tokens", budget = 64, orderCols = Seq("chunk_index")),
      "doc_id", "chunk_tokens")
      .orderBy("doc_id", "shard_id")

  /** GPT-style cross-document sequence packing: global token prefix
    * sum (two-phase scan, never a single-partition window) → 2048-token
    * training sequences. Doc-level mapping: where each document's first
    * token lands and whether it crosses a sequence boundary.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    Packing.packSequences(docs(s, dir), "text", "doc_id", budget = 2048L)

  /** Per-sequence rollup of [[packSequences]]: docs anchored per
    * fixed-budget sequence, their token mass, boundary-spanning count.
    */
  def packStats(s: SparkSession, dir: String): DataFrame =
    Packing.packStats(
      Packing.packSequences(docs(s, dir), "text", "doc_id", budget = 2048L), "doc_id")

  /** Corpus-wide duplicated 5-gram census (Lee'21 §4 diagnostic): the
    * 50 most-repeated exact 5-grams with occurrence and document
    * frequencies.
    */
  def dupNgrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.duplicatedNgrams(docs(s, dir), "text", "doc_id", k = 5, minCount = 2, topK = 50)

  /** Sparse hashed TF-IDF features over the document token table. */
  def embedTfidf(s: SparkSession, dir: String): DataFrame =
    Featurize.hashedTfidf(tokenTable(s, dir).select("doc_id", "term"), "doc_id")
      .orderBy("doc_id", "dim")

  // ── D. Multimodal ────────────────────────────────────────────────────

  /** Oracle-verified REAL audio decode
    * ([[graft.operators.Multimodal.synthWav]] →
    * [[graft.operators.Multimodal.decode]] →
    * [[graft.operators.Multimodal.contentFeatures]]): each doc id
    * becomes a deterministic constant-amplitude PCM WAV, the real RIFF
    * parser extracts channels/rate/frames/duration and the feature
    * pass computes RMS over every sample — all of which the DuckDB
    * twin recomputes in closed form, so the ENTIRE binary
    * encode→parse→feature pipeline is hash-verified (the D-row's
    * decode step on a twin-checked path, not only spec-checked).
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    val synth = Multimodal.synthWav(docs(s, dir).select("doc_id"), "doc_id")
    val dec = Multimodal.decode(synth, "content")
      .select(col("doc_id"), col("meta.format").as("format"),
        col("meta.channels").as("channels"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.n_frames").cast("long").as("n_frames"),
        col("meta.duration_ms").as("duration_ms"))
    val feats = Multimodal.contentFeatures(synth, "content", "doc_id")
      .select(col("doc_id"), round(col("rms"), 5).as("rms"))
    dec.join(feats, "doc_id").orderBy("doc_id")
  }

  /** [[multimodalAudio]]'s compressed sibling: deterministic VBR MP3
    * per doc through the REAL per-frame MPEG header walk
    * ([[graft.operators.Multimodal.parseMp3]]). The synth cycles the
    * bitrate index per FRAME, so only a walk that reads every header
    * stays in sync — the twin recomputes the closed-form facts
    * (channels/rate/frame count/duration), hash-verifying the whole
    * encode → walk pipeline.
    */
  def multimodalMp3(s: SparkSession, dir: String): DataFrame = {
    val synth = Multimodal.synthMp3(docs(s, dir).select("doc_id"), "doc_id")
    Multimodal.decode(synth, "content")
      .select(col("doc_id"), col("meta.format").as("format"),
        col("meta.channels").as("channels"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.n_frames").cast("long").as("n_frames"),
        col("meta.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** Lossless-WebP dimensions through the REAL container-header parse
    * ([[graft.operators.Multimodal.parseWebp]], VP8L layout) on a
    * hash-verified path — closed-form dims per doc id.
    */
  def multimodalWebp(s: SparkSession, dir: String): DataFrame = {
    val synth = Multimodal.synthWebp(docs(s, dir).select("doc_id"), "doc_id")
    Multimodal.decode(synth, "content")
      .select(col("doc_id"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"))
      .orderBy("doc_id")
  }

  /** [[multimodalAudio]]'s image sibling: deterministic solid-color
    * PNG per doc through the REAL ImageIO decode + pixel-mean feature
    * pass; PNG is lossless so every decoded fact has a closed form the
    * twin recomputes — the image half of the D-row's decode machinery
    * on a hash-verified path.
    */
  def multimodalImage(s: SparkSession, dir: String): DataFrame = {
    val synth = Multimodal.synthPng(docs(s, dir).select("doc_id"), "doc_id")
    val dec = Multimodal.decode(synth, "content")
      .select(col("doc_id"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.channels").as("channels"))
    val feats = Multimodal.contentFeatures(synth, "content", "doc_id")
      .select(col("doc_id"), round(col("mean_r"), 5).as("mean_r"),
        round(col("mean_g"), 5).as("mean_g"), round(col("mean_b"), 5).as("mean_b"),
        round(col("luma"), 5).as("luma"))
    dec.join(feats, "doc_id").orderBy("doc_id")
  }

  /** REAL image EMBEDDING end to end on hash-verified twins: the PNG
    * encode → ImageIO decode → 2×2 patch means → fixed projection →
    * L2 pipeline ([[graft.operators.Multimodal.imageEmbed]]) over the
    * closed-form solid-color corpus — per-patch means collapse to the
    * (r,g,b) constants, so the twin computes the projection from the
    * doc_id color formula and the WHOLE pixel path is hash-checked.
    */
  def multimodalEmbed(s: SparkSession, dir: String): DataFrame = {
    val synth = Multimodal.synthPng(docs(s, dir).select("doc_id"), "doc_id")
    Multimodal.imageEmbed(synth, "content", "doc_id", grid = 2, dims = 8)
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("k", "x")))
      .select(col("doc_id"), col("k").cast("long").as("k"), round(col("x"), 5).as("x"))
      .orderBy("doc_id", "k")
  }

  def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal
      .features(
        docs(s, dir).select(col("doc_id"), col("text").cast("binary").as("content")),
        "content", "doc_id"
      )
      .orderBy("doc_id")

  // ── F. OLAP / events ─────────────────────────────────────────────────

  def q1Pricing(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
        count("*").as("cnt")
      )
      .orderBy("l_returnflag", "l_linestatus")

  def q3Orders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Stream-table enrichment: events joined to the customer dimension
    * (broadcast — the dim is small relative to the fact stream) rolled
    * up per market segment and day.
    */
  def eventsEnrich(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("user_id") === col("c_custkey"))
      .groupBy(
        col("c_mktsegment").as("mktsegment"),
        (expr("ts DIV 86400000000000") * 86400).as("day_start")
      )
      .agg(count("*").as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("mktsegment", "day_start")

  /** Fact-over-broadcast-dim-chain: revenue per region through
    * supplier → nation → region (only the fact table streams).
    */
  def q5Region(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select("l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count("*").as("line_count"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue")
      )
      .orderBy("r_name")

  def eventsWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(
        // ts is long nanoseconds (see Tables.events); exact integer math.
        (expr("ts DIV 3600000000000") * 3600).as("hour_start"),
        col("event_type")
      )
      .agg(count("*").as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("hour_start", "event_type")

  /** 2-D box scan over a Z-ORDERED copy of events: the layout
    * interleaves (user_id, minute) bits so each parquet file covers a
    * rectangle of that space and a predicate on BOTH dimensions prunes
    * to a handful of files via footer min/max — the Delta/Iceberg
    * `OPTIMIZE ZORDER BY` move, which a time-sorted or user-sorted
    * layout can't do for the other column. Results are layout-invariant
    * (the twin filters the raw table); the pruning itself is asserted in
    * LayoutSpec. Minute 0 = 2024-01-01T00:00 (exact long arithmetic on
    * the nanosecond timestamps).
    */
  def zorderScan(s: SparkSession, dir: String): DataFrame = {
    val epochMin = 28401120L // minutes from epoch to 2024-01-01T00:00Z
    // one Z-order rewrite per source dir (a layout is an offline
    // artifact, like an index build)
    val path = LayoutCache.getOrWrite(s"zorder:$dir")(p =>
      Layout.zorderWrite(
        events(s, dir).select(
          col("event_id"), col("user_id"), col("event_type"), col("value"),
          (expr("ts DIV 60000000000") - epochMin).as("minute")),
        "user_id", "minute", nFiles = 16, path = p))
    s.read.parquet(path)
      .filter(col("user_id").between(40, 60) && col("minute").between(14400, 17280))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("user_id")
  }

  /** Interval join ([[graft.operators.Events.intervalJoin]] — the
    * bin-bucketed range join): clicks landing inside the 5-minute
    * post-error window of ANY error event (no shared equi key —
    * incident impact analysis). Per window: click count and value
    * sum. The twin is the naive BETWEEN join, proving the
    * bin-bucketing loses and invents nothing.
    */
  def eventsIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir).select(col("event_id"),
      expr("ts DIV 1000000").as("t"), col("event_type"), col("value"))
    val windows = base.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("t").as("w_start"),
        (col("t") + 300000L).as("w_end"))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("t"), col("value"))
    graft.operators.Events
      .intervalJoin(clicks, windows, "t", "w_start", "w_end", binWidth = 300000L)
      .groupBy("win_id")
      .agg(count(lit(1)).as("n_clicks"), round(sum("value"), 2).as("click_value"))
      .orderBy("win_id")
  }

  /** As-of lookup: for each purchase event, the timestamp of the most
    * recent preceding error by the same user (running-max window —
    * no self-join).
    */
  def eventsAsof(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000000").as("t"), col("event_type"))
    Events
      .asOfLastMarker(base, "user_id", "t", "event_id",
        col("event_type") === "error", col("t"), "last_err_t")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("t"), col("last_err_t"))
      .orderBy("user_id", "purchase_id")
  }

  /** General two-table as-of join: for each purchase, the value of the
    * same user's most recent click at-or-before the purchase time
    * (union + one running window — no range self-join).
    */
  def eventsAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir).select(
      col("user_id"), col("event_id"), expr("ts DIV 1000000").as("t"),
      col("event_type"), col("value"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "t")
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("t"), round(col("value"), 2).as("click_value"))
    Events.asOfJoin(purchases, clicks, "user_id", "t", "click_value", "last_click_value")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("t"), col("last_click_value"))
      .orderBy("user_id", "purchase_id")
  }

  /** Semi-structured processing: extract a field from the JSON props
    * column (codegen'd get_json_object, no UDF) and aggregate.
    */
  def eventsJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k")
      )
      .groupBy("event_type")
      .agg(
        sum("k").as("sum_k"),
        max("k").as("max_k"),
        count(when(col("k").isNull, true)).as("null_k"),
        count("*").as("n")
      )
      .orderBy("event_type")

  /** Exact interpolated percentiles per event type. */
  def eventsPercentiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        count("*").as("n")
      )
      .orderBy("event_type")

  /** Multi-level rollup: (event_type, day) totals with subtotal and
    * grand-total rows (null-marked), one pass.
    */
  def eventsRollup(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"), (expr("ts DIV 86400000000000") * 86400).as("day_start"), col("value"))
      .rollup("event_type", "day_start")
      .agg(count("*").as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy(col("event_type").asc_nulls_first, col("day_start").asc_nulls_first)

  /** Wide per-user activity profile: event counts pivoted by type
    * (explicit CASE sums — engine-portable and codegen'd).
    */
  def eventsPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    events(s, dir)
      .groupBy("user_id")
      .agg(
        count(when(col("event_type") === types.head, true)).as(s"n_${types.head}"),
        types.tail.map(t => count(when(col("event_type") === t, true)).as(s"n_$t")): _*
      )
      .orderBy("user_id")
  }

  /** Skew-mitigated fact-dim join: 10% of users collapse onto one hot
    * key (the pathological single-giant-key case AQE can't split inside
    * one shuffle block), joined via [[Skew.saltedJoin]] — the hot key's
    * rows spread over 8 salted sub-keys. Results are identical to the
    * plain join, which is exactly what the DuckDB twin checks.
    */
  def eventsSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = events(s, dir).select(
      when(pmod(col("user_id"), lit(10)) === 0, lit(1L)).otherwise(col("user_id")).as("key"),
      col("event_id"), col("value"))
    val dim = Tables.customer(s, dir).select(col("c_custkey").as("key"), col("c_mktsegment"))
    Skew.saltedJoin(fact, dim, "key", "event_id", saltFactor = 8)
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count("*").as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("mktsegment")
  }

  /** Key-skew diagnostic ([[graft.operators.Skew.keyStats]]) over the
    * same planted-hot-key column [[eventsSkewJoin]] mitigates (10% of
    * users collapsed onto key 1): the one-row report whose max_share /
    * top10_share / cv decide between salting, AQE skew split, or a
    * plain shuffle. The twin recomputes every figure from the per-key
    * count table with exact long arithmetic.
    */
  def skewStats(s: SparkSession, dir: String): DataFrame =
    Skew.keyStats(
      events(s, dir).select(
        when(pmod(col("user_id"), lit(10)) === 0, lit(1L))
          .otherwise(col("user_id")).as("key")),
      "key")

  /** Reference-faithful recursive chunking (chunker.py:55/81/107) run as
    * a distributed Dataset flatMap over documents — per-row imperative
    * semantics, so no SQL twin (rows-only check); parity with the
    * reference algorithm is property-tested in ChunkerSpec.
    */
  def chunkRecursive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        Chunker.recursiveChunks(text, chunkSize = 64, overlap = 16, minTokens = 8)
          .zipWithIndex.map { case (c, i) => (id, i.toLong, c) }
      }
      .toDF("doc_id", "chunk_index", "chunk")
      .orderBy("doc_id", "chunk_index")
  }

  /** The streamed face of [[eventsFunnel]]
    * ([[graft.streaming.StreamPipeline.funnelSnapshot]]): events arrive
    * as a file stream, per-user stage progress is mapGroupsWithState
    * state, the drained counts share the batch twin.
    */
  def streamFunnel(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.funnelSnapshot(s, dir,
      Seq("view", "click", "purchase"))

  /** Cohort retention matrix ([[graft.operators.Events.retention]]):
    * users by first-seen day × active-day offset.
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame =
    Events.retention(events(s, dir), "user_id", "ts")

  /** The streamed face of [[eventsRetention]]
    * ([[graft.streaming.StreamPipeline.retentionSnapshot]]): events
    * arrive as a file stream, per-user (cohort, active-day set) is
    * flatMapGroupsWithState state, each newly seen (user, day) emits
    * its (cohort, offset) exactly once — the drained counts share the
    * batch twin.
    */
  def streamRetention(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.retentionSnapshot(s, dir)

  /** STREAMED session-path report
    * ([[graft.streaming.StreamPipeline.pathsSnapshot]]): per-user
    * O(n) trailing-window state emits each completed in-session path
    * exactly once — the drained top-k shares [[eventsPaths]]'s twin.
    */
  def streamPaths(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.pathsSnapshot(s, dir)

  /** STREAMED FTS maintenance
    * ([[graft.streaming.StreamPipeline.bm25AppendSnapshot]]): base
    * index over four fifths of the corpus, the last fifth appended
    * micro-batch by micro-batch, probe over the merged layout — must
    * hash-match the one-shot full-corpus `bm25_topk` twin.
    */
  def streamBm25(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.bm25AppendSnapshot(
      s, dir, baseFtsIndex(s, dir), QueryTerms, k = 10)

  /** Ordered conversion funnel ([[graft.operators.Events.funnel]]):
    * users reaching view → click-after-view → purchase-after-click, in
    * one scan (stacked running-min windows over one user-key sort —
    * never a per-stage self-join). The twin computes each stage with
    * the literal join-back formulation; equality proves the one-pass
    * window stack implements it.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame =
    Events.funnel(events(s, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))

  /** Top-20 most common 3-step session paths ([[Events.topPaths]]) —
    * the path report next to the funnel: what users actually DO in
    * order, not just whether they reached staged milestones.
    */
  def eventsPaths(s: SparkSession, dir: String): DataFrame =
    Events.topPaths(
      events(s, dir).select(col("user_id"), col("event_type"),
        expr("ts DIV 1000000").as("t"), col("event_id")),
      "user_id", "event_type", "t", "event_id")

  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val sessions = events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000000").as("t"))
      .withColumn("pt", lag("t", 1).over(wOrd))
      .withColumn("brk",
        when(col("pt").isNull || col("t") - col("pt") > 1800000L, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(
        Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy("user_id")
      .agg(
        countDistinct("sid").as("sessions"),
        count("*").as("events")
      )
      .withColumn("avg_session_events",
        round(col("events").cast("double") / col("sessions").cast("double"), 4))
      .orderBy("user_id")
  }

  // ── C. ANN — oracle-checked: the fitted constants (KMeans centroids,
  // PQ codebooks, query ADC table) are deterministic driver-side
  // artifacts, stashed in [[OracleArtifacts]] so [[OracleSql.dynamic]]
  // can inline them into DuckDB twins.

  def annProbe(s: SparkSession, dir: String): DataFrame = {
    val (index, cells) = ivfIndex(s, dir)
    Ann.probe(index.assigned, queryVecLocal(s, dir), "q_vec", index.vecCol, index.idCol,
      topK = 10, cells = cells)
  }

  /** IVF index books ([[Ann.stats]]) — the twin re-derives the cell
    * population from raw embeddings + the fitted centroid literals,
    * proving the assignment table balances.
    */
  def annStats(s: SparkSession, dir: String): DataFrame =
    Ann.stats(ivfIndex(s, dir)._1)

  /** PCA-reduced probe: approximate cosine in the 16-dim principal
    * subspace (fit memoized per corpus, components then constants)
    * prunes to 100 candidates, exact 64-dim cosine re-ranks to top 10.
    * refine=100 (not 40) because the synthetic embeddings are
    * near-isotropic — variance doesn't concentrate, so the 16-dim
    * projection behaves like a JL sketch and needs the wider re-rank
    * set for recall ≥ 8/10 (measured in PcaSpec); on real embedding
    * distributions (which PCA compresses well) a smaller refine works.
    */
  def pcaProbe(s: SparkSession, dir: String): DataFrame = {
    val model = Pca.fitCached(dir, embs(s, dir), "embedding", r = 16)
    OracleArtifacts.pca = Some(model.components)
    Pca.probe(
      probeCorpus(s, dir),
      queryVecLocal(s, dir), model,
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id",
      k = 10, refine = 100)
  }

  /** Residual-quantized IVF+SQ8 probe: codes carry `normalize(v) −
    * centroid` (a fraction of the vector's dynamic range — more
    * precision per bit within each cell); probe reconstructs and
    * re-ranks exactly. Same memoized IVF fit as [[annProbe]].
    */
  def ivfsqResidual(s: SparkSession, dir: String): DataFrame = {
    val (index, cells) = ivfIndex(s, dir)
    Sq.residualProbe(
      probeCorpus(s, dir),
      queryVecLocal(s, dir), index.centroids,
      corpusVec = "embedding", queryVec = "q_vec", idCol = "vec_id",
      cells = cells, k = 10, refine = 40)
  }

  /** Persisted IVF+SQ8 probe: partition-pruned scan of the int8 CODES
    * sidecar (4× fewer bytes than the vectors it covers), approximate
    * prune to 40, exact re-rank against the full-precision base table
    * joined back by id. Same memoized IVF fit as [[annProbe]].
    */
  def ivfsqProbe(s: SparkSession, dir: String): DataFrame = {
    val (index, cells) = ivfIndex(s, dir)
    val corpus = probeCorpus(s, dir)
    val path = LayoutCache.getOrWrite(s"ivfsq_no_qvec:$dir")(p =>
      Sq.writeIvfSq(p, corpus, "embedding", "vec_id", index.centroids))
    Sq.probeIvf(s, path, Some(corpus), queryVecLocal(s, dir), "q_vec", "vec_id", "embedding",
      cells = cells, k = 10, refine = 40)
  }

  /** Scripted-lifecycle layout builders, shared between the probe
    * queries and [[layoutCatalog]]: each is memoized under the SAME
    * [[graft.operators.LayoutCache]] key its probe uses, so the catalog
    * reads whichever layouts other queries already built this session —
    * and builds identical ones when it runs first. The catalog facts
    * (versions, verbs, delta/tombstone counts) are a function of the
    * verb SCRIPT, not of which query triggered the build.
    */
  private def annFullLayout(s: SparkSession, dir: String): String = {
    val index = ivfFit(s, dir)
    LayoutCache.getOrWrite(s"annidx_full:$dir")(p => Ann.writeIndex(index, p))
  }

  /** The IVF fit on the lifecycle base subset (memoized) that the
    * incremental keys share.
    */
  private def incrFit(s: SparkSession, dir: String): Ann.Index =
    Ann.buildCached(dir + "#incr-base", lifecycleBase(s, dir), "embedding", "vec_id", k = 10, seed = 42)

  private def annIncrLayout(s: SparkSession, dir: String): String = {
    val index = incrFit(s, dir)
    // base write + delta append are the one-time maintenance events;
    // the memo leaves the per-call cost at the probe, per the
    // build-once-probe-many contract
    LayoutCache.getOrWrite(s"annidx_incr:$dir") { p =>
      Ann.writeIndex(index, p)
      Ann.appendToIndex(p, embs(s, dir).filter(deltaRows), "embedding", index.centroids)
    }
  }

  private def annDeletedLayout(s: SparkSession, dir: String): String = {
    val index = ivfFit(s, dir)
    // own layout (not annidx_full): this one carries the tombstone
    // sidecar; write + delete are the one-time build, the probe is the
    // per-call cost
    LayoutCache.getOrWrite(s"annidx_deleted:$dir") { p =>
      Ann.writeIndex(index, p)
      Ann.deleteFromIndex(s, p, tombstones(s, dir), "vec_id")
    }
  }

  /** LAYOUT CATALOG ([[graft.operators.Info.layoutCatalog]]) over the
    * three scripted ANN lifecycles this suite maintains — build-only,
    * build+append, build+delete. The commit-log version, last verb and
    * append count are determined by each script; the tombstone count is
    * data-dependent (the `vec_id % 10 == 3` delete batch), which is the
    * column the DuckDB twin genuinely recomputes from the corpus. The
    * serving-side question this answers — "which indexes exist and how
    * stale is each" — is what a router consults before choosing between
    * a fresh probe and `IndexMaintenance.maintainLayout`.
    */
  def layoutCatalog(s: SparkSession, dir: String): DataFrame =
    graft.operators.Info.layoutCatalog(s, Seq(
      "ann_full"        -> annFullLayout(s, dir),
      "ann_incremental" -> annIncrLayout(s, dir),
      "ann_deleted"     -> annDeletedLayout(s, dir)))

  /** Query vector 0's live probe of an incremental layout at `path`
    * under [[incrFit]], with the base fit and its cells stashed.
    */
  private def incrProbe(s: SparkSession, dir: String, path: String): DataFrame = {
    val index = incrFit(s, dir)
    val cells = probeCells(index.centroids, queryVecLocal(s, dir))
    OracleArtifacts.annIncremental = Some((index.centroids, cells))
    liveProbe(s, path, queryVecLocal(s, dir), topK = 10, cells)
  }

  /** Incremental index maintenance end-to-end (reference: store.py:197
    * rebuilds its index on every upsert; the Spark-scale equivalent is
    * delta assignment into the same partitioned layout, no rebuild):
    * fit IVF centroids on a 90% BASE subset, persist the
    * partitioned-by-cluster layout, [[Ann.appendToIndex]] the remaining
    * 10% as a delta, then probe the PERSISTED layout — the probe must
    * see base and delta rows alike. The DuckDB twin assigns base ∪ delta
    * (= all vectors) to the base-fitted centroids inlined as literals,
    * so the hash check proves the appended rows land in the same cells
    * the expression assigns.
    */
  def annIncremental(s: SparkSession, dir: String): DataFrame =
    incrProbe(s, dir, annIncrLayout(s, dir))

  /** [[annIncremental]]'s delta fed from a STREAM (the vector face of
    * [[streamBm25]]): the 10% delta arrives as micro-batches, each
    * assigned to the FIXED base centroids and appended to the
    * persisted layout
    * ([[graft.streaming.StreamPipeline.appendToAnnIndex]]). Assignment
    * is per-row pure, so the landed layout is batch-invariant and the
    * probe equals the one-shot incremental append — it shares
    * ann_incremental's twin.
    */
  def streamAnn(s: SparkSession, dir: String): DataFrame = {
    val index = incrFit(s, dir)
    val path = LayoutCache.getOrWrite(s"annidx_stream:$dir") { p =>
      Ann.writeIndex(index, p)
      // the landing zone replays the whole embeddings table, so the
      // query-side delta predicate picks the 10% not already in base
      graft.streaming.StreamPipeline.appendToAnnIndex(s, dir, p, index.centroids,
        deltaFilter = deltaRows)
    }
    incrProbe(s, dir, path)
  }

  /** DELETE-aware persisted probe — the reference's `delete_document`
    * (store.py:237) at the INDEX level: deletions append to a
    * tombstone sidecar ([[graft.operators.Ann.deleteFromIndex]],
    * merge-on-read like the ChunkStore), and the probe anti-joins the
    * broadcast tombstone set INSIDE the pruned scan so all k results
    * are live ([[graft.operators.Ann.liveLayout]]). The twin
    * runs the same assignment chain with the tombstone predicate
    * applied before ranking.
    */
  def annDeleted(s: SparkSession, dir: String): DataFrame = {
    val cells = ivfIndex(s, dir)._2
    liveProbe(s, annDeletedLayout(s, dir), queryVecLocal(s, dir), topK = 10, cells)
  }

  /** COMPACTION closes the ANN maintenance triangle (append
    * [[annIncremental]] → delete [[annDeleted]] → compact): the
    * tombstoned layout from [[annDeleted]]'s scenario is rewritten
    * live-only ([[graft.operators.Ann.compact]] — delta files folded,
    * sidecar cleared), and the PLAIN persisted probe (no anti-join
    * left to pay) over it must equal the live probe over the
    * tombstoned layout — the twin ranks the same live corpus through
    * the fitted centroid literals.
    */
  def annCompacted(s: SparkSession, dir: String): DataFrame = {
    val (index, cells) = ivfIndex(s, dir)
    val path = LayoutCache.getOrWrite(s"annidx_compacted:$dir") { p =>
      val staged = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
        java.nio.file.Files.createTempDirectory("graft_ann_precompact_"))
        .resolve("idx").toString
      Ann.writeIndex(index, staged)
      Ann.deleteFromIndex(s, staged, tombstones(s, dir), "vec_id")
      Ann.compact(s, staged, p, "vec_id")
    }
    liveProbe(s, path, queryVecLocal(s, dir), topK = 10, cells)
  }

  /** PREFILTERED persisted-IVF probe — the reference's filtered vector
    * search (server.py metadata filters + LanceDB prefilter): the
    * `label IN (2, 5)` predicate lands inside the partition-pruned
    * scan, before the top-k heap, so all 10 results satisfy it — a
    * postfilter over [[annProbe]]'s output would return only the
    * filter's survivors among the unfiltered top 10 (usually < 10).
    * The twin assigns + filters + ranks the same way in SQL.
    */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val cells = ivfIndex(s, dir)._2
    // same corpus + same fitted index as annBatchPersisted → same layout
    liveProbe(s, annFullLayout(s, dir), queryVecLocal(s, dir), topK = 10, cells, labeled = true)
  }

  /** IVF-PQ-style probe: PQ codes + ADC ranking + exact re-rank at
    * refine_factor=10 (reference: store.py:274, config.py:62).
    */
  def pqProbe(s: SparkSession, dir: String): DataFrame = {
    val model = pqFit(s, dir)
    Pq.adcProbe(Pq.encode(embs(s, dir).filter(col("vec_id") =!= 0), "embedding", model),
      model, queryVecLocal(s, dir), "q_vec", "embedding", "vec_id", k = 10, refine = 100)
      .select("vec_id", "cos_sim")
  }

  /** The global PQ codebooks (m = 8, codes = 16; memoized) the PQ keys
    * share, stashed with query vector 0's ADC distance table.
    */
  private def pqFit(s: SparkSession, dir: String): Pq.Model = {
    val model = Pq.trainCached(dir, embs(s, dir), "embedding", "vec_id", m = 8, codes = 16)
    OracleArtifacts.pq =
      Some((model, Pq.distanceTable(model, Ann.queryVector(queryVecLocal(s, dir), "q_vec"))))
    model
  }

  /** The residual PQ codebooks (m = 8 × codes = 256; memoized) trained
    * against the full-corpus IVF fit, stashed for the residual keys.
    */
  private def pqResidualFit(s: SparkSession, dir: String, index: Ann.Index): Pq.Model = {
    // m=8 x codes=256 (byte codes) is the REGISTERED default for the
    // residual family — the round-12 operating-point study at 1M
    // anisotropic vectors measured it at recall 0.862 (refine 25), the
    // full-SQ8/IVF-ceiling parity point, vs 0.688 for 8x16 at the SAME
    // 8-byte code budget (PLANS.md round-12 table). Both residual keys
    // run as the batch probe (the single query as |Q| = 1): the
    // per-(query, cell) ADC tables ride as broadcast-side HOF columns,
    // never plan literals, so code count doesn't inflate the plan (the
    // round-8 janino lesson).
    val model = Pq.trainResidualCached(dir, embs(s, dir), "embedding", "vec_id", index.centroids,
      m = 8, codes = 256)
    OracleArtifacts.pqResidual = Some(model)
    model
  }

  /** Batch IVF probe: 8 queries, each pruned to its own 3 nearest cells
    * before scoring — [[Search.knnBatch]]'s brute-force crossJoin
    * replaced by the co-partitioned cluster join (the hard-negative-
    * mining shape at index scale).
    */
  def annBatchProbe(s: SparkSession, dir: String): DataFrame = {
    val index = ivfIndex(s, dir)._1
    val qCells = Ann.queryCells(
      embs(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
      "q_vec", "query_id", index.centroids, nProbe = 3)
    Ann.probe(index.assigned, qCells, "q_vec", index.vecCol, index.idCol, topK = 5)
      .orderBy("query_id", "rk")
  }

  /** [[annBatchProbe]] served from the PERSISTED partitioned layout:
    * the index is written `partitionBy(cluster)` once, then the batch
    * of queries joins it on the partition column — dynamic partition
    * pruning narrows the scan to the union of probed cells at the file
    * level. Results equal [[annBatchProbe]] by construction (same
    * fitted centroids, same ranking), so it shares that twin.
    */
  def annBatchPersisted(s: SparkSession, dir: String): DataFrame = {
    val index = ivfIndex(s, dir)._1
    // bounded query set: cells ranked on the driver, shipped as a local
    // relation — the warm probe is the pruned scan + heap alone
    liveProbe(s, annFullLayout(s, dir), batchCells(s, dir, index.centroids), topK = 5)
      .orderBy("query_id", "rk")
  }

  /** [[annBatchProbe]] over the COMPRESSED persisted layout: the query
    * batch probes the int8 SQ codes sidecar (4× fewer bytes than the
    * vectors, partition-pruned to each query's 3 cells), approximate-
    * prunes per query to 20 candidates with a bounded heap, and only
    * that set touches the full-precision base for the exact re-rank —
    * the batch serving shape for a compressed index at corpus scale.
    */
  def annBatchSq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val index = ivfIndex(s, dir)._1
    val path = LayoutCache.getOrWrite(s"ivfsq_full:$dir")(p =>
      Sq.writeIvfSq(p, e, "embedding", "vec_id", index.centroids))
    Sq.probeIvf(s, path, Some(e.select("vec_id", "embedding")), batchCells(s, dir, index.centroids),
      "q_vec", "vec_id", "embedding", k = 5, refine = 20)
      .orderBy("query_id", "rk")
  }

  /** [[annBatchProbe]] over the persisted IVF-PQ layout: the batch ADC
    * shape — each query's distance table is computed ONCE as broadcast
    * array columns (codebook centers are plan literals), the
    * partition-pruned codes scan pays O(m) lookups per row, and only
    * k·refine candidates per query reach the exact cosine re-rank.
    * The 32×-less-I/O PQ scan and batch serving compose.
    */
  def annBatchPq(s: SparkSession, dir: String): DataFrame = {
    val index = ivfIndex(s, dir)._1
    val model = pqFit(s, dir)
    // build-once-probe-many: the persisted IVF-PQ layout is written on
    // first probe of this corpus and reused (LayoutCache), exactly like
    // the memoized centroid fit above
    val path = LayoutCache.getOrWrite(s"ivfpq_full:$dir")(p =>
      Pq.writeIvfPq(p, embs(s, dir), "embedding", "vec_id", index.centroids, model))
    batchPqProbe(s, dir, path, index.centroids, model)
  }

  /** [[annBatchProbe]] over the persisted IVF+MRL layout — closes the
    * batch-probe matrix (plain [[annBatchPersisted]], SQ [[annBatchSq]],
    * PQ [[annBatchPq]], now the Matryoshka prefix sidecar): per-query
    * cell ranking in-plan, partition-pruned prefix scan, bounded-heap
    * prefix-cosine prune to 20 candidates per query, exact full-dim
    * re-rank to 5 against the base table. The stored prefix is exact
    * leading floats (no quantization), so the twin is the batch cell
    * chain + a plain `[1:16]` list slice.
    */
  def annBatchMrl(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val index = ivfIndex(s, dir)._1
    val path = LayoutCache.getOrWrite(s"ivfmrl_full:$dir")(p =>
      Matryoshka.writeIvfMrl(p, e, "embedding", "vec_id", index.centroids, dPrefix = 16))
    Matryoshka.probeIvf(s, path, Some(e.select("vec_id", "embedding")),
      batchCells(s, dir, index.centroids),
      "q_vec", "vec_id", "embedding", dPrefix = 16, k = 5, refine = 20)
      .orderBy("query_id", "rk")
  }

  /** [[annBatchPq]] over the persisted RESIDUAL IVF-PQ layout — the
    * batch probe for the PQ form that survives anisotropic vectors
    * (round-11 structured study: global ADC 0.075 recall vs residual
    * 0.70 at 1M), completing the batch matrix for the family that
    * matters most on realistic embeddings. Per-(query, cell) residual
    * ADC tables are broadcast-side array columns (the residual via the
    * same native expression the write path uses); the codes scan and
    * both heaps are identical to [[annBatchPq]]'s shape. The twin
    * re-derives the residual encode and per-cell tables in SQL from
    * the fitted centroid + codebook literals.
    */
  def annBatchPqr(s: SparkSession, dir: String): DataFrame = {
    val index = ivfIndex(s, dir)._1
    val model = pqResidualFit(s, dir, index)
    val path = LayoutCache.getOrWrite(s"ivfpqres_full:$dir")(p =>
      Pq.writeIvfPq(p, embs(s, dir), "embedding", "vec_id", index.centroids, model))
    batchPqProbe(s, dir, path, index.centroids, model)
  }

  /** [[annBatchPersisted]] over the ROTATED persisted IVF+BQ layout —
    * the batch face of [[bqRotated]]'s two levers (IVF pruning × 1/32
    * sign-bit bytes, rotation spreading axis-aligned variance across
    * every bit): per-query cells rank on the driver (bounded set),
    * each query's rotated pack is broadcast-side, hamming + both heaps
    * are bounded, and only |Q|·refine rows touch the base vectors. The
    * twin regenerates the seeded rotation and re-derives cells, signs
    * and hamming in SQL from the centroid literals.
    */
  def annBatchBqRotated(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val index = ivfIndex(s, dir)._1
    val rot = Bq.rotationMatrix(64, seed = 7L)
    val path = LayoutCache.getOrWrite(s"ivfbqrot_full:$dir")(p =>
      Bq.writeIvfBq(p, e, "embedding", "vec_id", index.centroids, Some(rot)))
    Bq.probeIvf(s, path, Some(e.select("vec_id", "embedding")), batchCells(s, dir, index.centroids),
      "q_vec", "vec_id", "embedding", rot = Some(rot), k = 5, refine = 20)
      .orderBy("query_id", "rk")
  }

  /** Persisted probe over a TWO-LEVEL coarse quantizer — the
    * 10^9-vector fit path ([[graft.operators.Ann.buildTwoLevel]]:
    * super-cells on the bounded sample, per-super local sub-fits in one
    * distributed flatMapGroups, concatenated sub-codebooks = a flat
    * k-cell codebook) registered as a hash-gated query: the corpus is
    * assigned HIERARCHICALLY (nearest super, then nearest sub within
    * it — the O(sqrt k) per-row expression), persisted partitioned by
    * the flat cell id, and probed exactly like every flat layout. The
    * twin replays the two-stage assignment from the fitted hierarchy
    * literals (a boundary vector may legally land in a different cell
    * than a flat argmin would pick — the twin reproduces the
    * hierarchy's choice, which is the operator's contract).
    */
  def annTwoLevel(s: SparkSession, dir: String): DataFrame = {
    val (index, two) = Ann.buildTwoLevelCached(dir + "#2l", embs(s, dir),
      "embedding", "vec_id", k = 10, seed = 42)
    val path = LayoutCache.getOrWrite(s"ann2l:$dir")(p => Ann.writeIndex(index, p))
    val cells = probeCells(index.centroids, queryVecLocal(s, dir))
    OracleArtifacts.annTwoLevel = Some((two, cells))
    liveProbe(s, path, queryVecLocal(s, dir), topK = 10, cells)
  }

  /** THE FLAGSHIP COMPOSITION — the full 10^9-vector serving path as
    * one hash-gated query: TWO-LEVEL coarse quantizer
    * ([[graft.operators.Ann.buildTwoLevel]] — fit cost 256·N → ~512·N^0.75,
    * the only k-means that fits at 10⁹ vectors) → RESIDUAL PQ codebooks
    * at the round-12 operating point (m=8 × codes=256: recall 0.862 at
    * 1/32 bytes on 1M anisotropic vectors, PLANS.md) → persisted layout
    * partitioned by the flat cell id with the corpus assigned
    * HIERARCHICALLY (nearest super, then nearest sub — O(√k) per row)
    * → batch residual-ADC probe (per-(query, cell) tables as
    * broadcast-side HOF columns, partition-pruned codes scan, bounded
    * heaps, |Q|·refine exact re-ranks). Individually green pieces
    * (`ann_two_level`, `ann_batch_pqr`) compose here so the scale path
    * cannot silently regress. The twin replays the hierarchy's
    * assignment (its choice at boundary vectors IS the contract), the
    * residual encode against the flat codebook, and the ADC fold — all
    * from fitted literals, bit-for-bit.
    */
  def annTwoLevelPqr(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val (index, two) = Ann.buildTwoLevelCached(dir + "#2l", e,
      "embedding", "vec_id", k = 10, seed = 42)
    val model = Pq.trainResidualCached(dir + "#2l", e, "embedding", "vec_id",
      index.centroids, m = 8, codes = 256)
    OracleArtifacts.annTwoLevelPqr = Some((two, model))
    val path = graft.operators.LayoutCache.getOrWrite(s"ann2lpqr:$dir")(p =>
      Pq.writeIvfPqResidualAssigned(p, Ann.assignTwoLevel(e, "embedding", two),
        "embedding", "vec_id", index.centroids, model))
    batchPqProbe(s, dir, path, index.centroids, model)
  }

  /** [[annBatchPersisted]] with the reference's metadata PREFILTER in
    * the BATCH serving path ([[annFiltered]]'s semantics × the batch
    * machinery): `label IN (2, 5)` lands inside the partition-pruned
    * scan, before every query's bounded heap, so each of the 8 queries
    * returns k results that ALL satisfy the predicate — the shape a
    * filtered-retrieval dashboard or hard-negative miner needs at
    * scale (a postfilter would come back short per query). Same layout
    * and fitted index as [[annBatchPersisted]]; the twin adds the
    * label join + filter before the per-query ranking window.
    */
  def annBatchFiltered(s: SparkSession, dir: String): DataFrame = {
    val index = ivfIndex(s, dir)._1
    liveProbe(s, annFullLayout(s, dir), batchCells(s, dir, index.centroids), topK = 5,
      labeled = true)
      .orderBy("query_id", "rk")
  }

  /** Shared scenario builder for the flagship LIFECYCLE pair
    * ([[annTwoLevelLive]] / [[annTwoLevelCompacted]]) — the round-13
    * verdict's top task: at 10⁹ vectors a layout you can't append to
    * or delete from IS a rebuild, so the two-level residual layout
    * gets the same driver-gated maintenance faces the flat families
    * have (ann_incremental / ann_deleted / ann_compacted). Scenario:
    * the hierarchy AND the residual codebooks fit on a 90% BASE subset
    * (the build-time artifacts — deltas must reuse them, that is the
    * point of incremental maintenance); the base layout lands via
    * [[graft.operators.Pq.writeIvfPqResidualAssigned]]; the 10% delta
    * appends through the SAME hierarchical router + fitted codebooks
    * ([[graft.operators.Ann.assignTwoLevel]] →
    * [[graft.operators.Pq.appendIvfPqResidualAssigned]] — so
    * base + delta ≡ a from-scratch write bit for bit); deletes land as
    * the tombstone sidecar. Build + append + delete are the one-time
    * maintenance events (memoized); each registered query pays only
    * its probe.
    */
  private def twoLevelLifecycleLayout(s: SparkSession, dir: String)
      : (Pq.Model, Array[Array[Double]], String) = {
    val (cents, two, model) = twoLevelBaseFit(s, dir)
    val path = LayoutCache.getOrWrite(s"ann2lpqr_life:$dir") { p =>
      Pq.writeIvfPqResidualAssigned(p, Ann.assignTwoLevel(lifecycleBase(s, dir), "embedding", two),
        "embedding", "vec_id", cents, model)
      Pq.appendIvfPqResidualAssigned(p,
        Ann.assignTwoLevel(embs(s, dir).filter(deltaRows), "embedding", two),
        "embedding", "vec_id", cents, model)
      Ann.deleteFromIndex(s, p, tombstones(s, dir), "vec_id")
    }
    (model, cents, path)
  }

  /** The two-level hierarchy and residual codebooks fitted on the
    * lifecycle base subset (memoized) — the build-time artifacts every
    * two-level maintenance key reuses — stashed once for their twins;
    * returns (flat centroids, hierarchy, model).
    */
  private def twoLevelBaseFit(s: SparkSession, dir: String)
      : (Array[Array[Double]], Ann.TwoLevel, Pq.Model) = {
    val base = lifecycleBase(s, dir)
    val (index, two) = Ann.buildTwoLevelCached(dir + "#2l-base", base,
      "embedding", "vec_id", k = 10, seed = 42)
    val model = Pq.trainResidualCached(dir + "#2l-base", base, "embedding", "vec_id",
      index.centroids, m = 8, codes = 256)
    OracleArtifacts.twoLevelBase = Some((two, model))
    (index.centroids, two, model)
  }

  /** The 8-query batch over a persisted IVF-PQ layout (global or
    * residual — the model says which) that every `ann_batch_pq*` and
    * two-level PQ key shares: cells ranked on the driver, 3 per query,
    * top 5 after a 50-candidate ADC shortlist.
    */
  private def batchPqProbe(s: SparkSession, dir: String, path: String,
      cents: Array[Array[Double]], model: Pq.Model): DataFrame =
    Pq.probeIvf(s, path, cents, model, batchCells(s, dir, cents),
      "q_vec", "embedding", "vec_id", nProbe = 3, k = 5, refineFactor = 10)
      .drop("adc_dist")
      .orderBy("query_id", "rk")

  /** The flagship layout's delta maintenance fed from a STREAM — the
    * [[streamAnn]] pattern over the two-level RESIDUAL layout (F10 ×
    * the round-14 lifecycle): base fits land one-shot, then the 10%
    * delta arrives as micro-batches, each hierarchically assigned and
    * residual-encoded with the FIXED base artifacts
    * ([[graft.streaming.StreamPipeline.appendToIvfPqResidualIndex]]).
    * Per-row-pure assignment + encode make the landed layout
    * batch-boundary-invariant, so the probe equals a from-scratch
    * write of base ∪ delta under the base fits — the twin replays
    * exactly that (no deletes in this scenario).
    */
  def streamAnn2l(s: SparkSession, dir: String): DataFrame = {
    val (cents, two, model) = twoLevelBaseFit(s, dir)
    val path = LayoutCache.getOrWrite(s"ann2lpqr_stream:$dir") { p =>
      Pq.writeIvfPqResidualAssigned(p, Ann.assignTwoLevel(lifecycleBase(s, dir), "embedding", two),
        "embedding", "vec_id", cents, model)
      graft.streaming.StreamPipeline.appendToIvfPqResidualIndex(s, dir, p, two,
        cents, model, deltaFilter = deltaRows)
    }
    batchPqProbe(s, dir, path, cents, model)
  }

  /** LIVE probe of the maintained two-level residual layout: base +
    * appended delta are both visible, the tombstoned 10% is excluded
    * by the merge-on-read anti-join INSIDE the partition-pruned codes
    * scan — before the ADC shortlist heap, so deleted rows can never
    * occupy candidate slots. The twin replays ann_two_level_pqr's
    * chain (hierarchical assignment, residual encode, per-(query,cell)
    * ADC) over the base-fitted literals with the deleted ids excluded
    * from the corpus — hash-green proves append routing AND delete
    * visibility through the serving path at once.
    */
  def annTwoLevelLive(s: SparkSession, dir: String): DataFrame = {
    val (model, cents, path) = twoLevelLifecycleLayout(s, dir)
    batchPqProbe(s, dir, path, cents, model)
  }

  /** COMPACTION closes the flagship lifecycle triangle: the tombstoned
    * delta-carrying layout from [[annTwoLevelLive]]'s scenario is
    * rewritten live-only into a fresh clustered layout
    * ([[graft.operators.Ann.compact]] — delta files folded to one file
    * set per cluster, sidecar cleared, codes ride the rewrite so
    * nothing re-encodes), and the PLAIN probe over it (no anti-join
    * left to pay) must equal the live probe — both share one twin.
    */
  def annTwoLevelCompacted(s: SparkSession, dir: String): DataFrame = {
    val (model, cents, path) = twoLevelLifecycleLayout(s, dir)
    val compacted = LayoutCache.getOrWrite(s"ann2lpqr_life_compact:$dir")(
      p => Ann.compact(s, path, p, "vec_id"))
    batchPqProbe(s, dir, compacted, cents, model)
  }

  /** Full persisted IVF-PQ probe — the reference's actual index type
    * (store.py:274 `IVF_PQ`, config.py:62 refine factor): partition-
    * pruned scan of the 3 nearest cells, ADC rank on the m-byte codes,
    * exact re-rank of the top 100. Reuses the ann_probe IVF centroids
    * (same memoized fit) so the only extra cost is the PQ codebook
    * train + one layout write.
    */
  def ivfpqProbe(s: SparkSession, dir: String): DataFrame = {
    val index = ivfIndex(s, dir)._1
    val model = pqFit(s, dir)
    // distinct key from annBatchPq's layout: this corpus excludes the
    // query vector (vec_id != 0)
    val path = LayoutCache.getOrWrite(s"ivfpq_no_qvec:$dir")(p =>
      Pq.writeIvfPq(p, embs(s, dir).filter(col("vec_id") =!= 0), "embedding", "vec_id",
        index.centroids, model))
    Pq.probeIvf(s, path, index.centroids, model, queryVecLocal(s, dir), "q_vec", "embedding", "vec_id",
      nProbe = 3, k = 10)
      .select("vec_id", "cos_sim")
  }

  /** RESIDUAL IVF-PQ probe — FAISS's actual IVF,PQ form
    * ([[graft.operators.Pq.writeIvfPq]] with the residual model /
    * [[graft.operators.Pq.probeIvf]]; reference:
    * store.py:274's IVF_PQ index type): codebooks train on
    * normalize(v) − centroid[cell] residuals, so the 16 codes per
    * subspace encode WITHIN-cell structure — on anisotropic corpora
    * (real encoder output) the global-codebook form's ADC collapses
    * (measured 0.075 recall in the round-11 structured study) while
    * residual ADC ranks by ||qn − vn||² exactly (the centroid term
    * cancels). Probe: partition-pruned scan of 3 cells, per-cell
    * residual ADC tables as broadcast-side HOF columns, exact re-rank
    * of the top 100.
    */
  def ivfpqResidual(s: SparkSession, dir: String): DataFrame = {
    val index = ivfIndex(s, dir)._1
    val model = pqResidualFit(s, dir, index)
    val path = LayoutCache.getOrWrite(s"ivfpqres256_no_qvec:$dir")(p =>
      Pq.writeIvfPq(p, embs(s, dir).filter(col("vec_id") =!= 0), "embedding", "vec_id",
        index.centroids, model))
    Pq.probeIvf(s, path, index.centroids, model, queryVecLocal(s, dir),
      "q_vec", "embedding", "vec_id", nProbe = 3, k = 10, refineFactor = 10)
      .select(col("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
  }

  /** The nProbe TUNING CURVE over the cached IVF index: recall@10 for
    * nProbe 1..5 against the exact top-10 — the table a team reads to
    * pick the recall/cost point before deploying an index
    * (`ann_recall` is one row of it). Cells are ranked by
    * query-centroid distance, so nProbe=n probes a PREFIX of the
    * nProbe=5 cell list — the twin inlines the fitted centroid
    * literals once and derives each prefix.
    */
  def annRecallSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = queryVecLocal(s, dir)
    val (index, cells5) = ivfIndex(s, dir, nProbe = 5)
    val exact = Ann.exact(embs(s, dir), q, "embedding", "q_vec", "vec_id", topK = 10)
      .select("vec_id")
    (1 to 5).map { n =>
      val probe = Ann.probe(index.assigned, q, "q_vec", index.vecCol, index.idCol, topK = 10,
        cells = cells5.take(n)).select("vec_id")
      (10L, n.toLong, recallAt10(exact, probe))
    }.toDF("top_k", "n_probe", "recall").orderBy("n_probe")
  }

  /** BQ refine-knob eval ([[graft.operators.Bq.probe]]): recall@10 of
    * the hamming-cut-then-rerank probe against the exact scan for
    * refine ∈ {10, 20, 40, 80} — C17's quality/compute dial, the
    * analog of [[annRecallSweep]]'s nProbe sweep. Pure arithmetic on
    * both sides, so the twin is STATIC (no fitted constants).
    */
  def bqRecallSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = probeCorpus(s, dir)
    val q = queryVecLocal(s, dir)
    val exact = Search.knnTopK(corpus, q, "embedding", "q_vec", "vec_id", 10)
      .select("vec_id")
    Seq(10, 20, 40, 80).map { refine =>
      val probe = Bq.probe(corpus, q, "embedding", "q_vec", "vec_id", k = 10, refine = refine)
        .select("vec_id")
      (10L, refine.toLong, recallAt10(exact, probe))
    }.toDF("top_k", "refine", "recall").orderBy("refine")
  }

  /** Single-row ANN quality report: probe recall@10 vs exact top-10. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = queryVecLocal(s, dir)
    val (index, cells) = ivfIndex(s, dir)
    val probe = Ann.probe(index.assigned, q, "q_vec", index.vecCol, index.idCol, topK = 10,
      cells = cells).select("vec_id")
    val exact = Ann.exact(embs(s, dir), q, "embedding", "q_vec", "vec_id", topK = 10)
      .select("vec_id")
    Seq((10L, 3L, recallAt10(exact, probe))).toDF("top_k", "n_probe", "recall")
  }
}
