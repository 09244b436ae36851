package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Deterministic text featurization — the Spark-side stand-in for the
  * reference's batch embedder (embedder.py:41 `embed_documents`).
  *
  * Feature hashing (md5-bucketed bag of words) is vocabulary-free and
  * embarrassingly parallel: per-row token hashing, no fitted state, no
  * driver round-trip — at 100 TB it is a pure map stage. A real model
  * embedder slots into the same column contract (`embedding:
  * array<double>`), e.g. an ONNX scorer in mapPartitions.
  */
object Featurize {

  /** Pure-projection hashed-BoW embedding: the native codegen
    * [[graft.plans.HashedBow]] expression over the token array — no
    * explode, no shuffle, no state; O(tokens + dims) per row (one md5
    * per token). Works identically on batch and streaming DataFrames (a
    * plain map stage); semantics are pinned bit-for-bit to the batch
    * [[hashedBow]] pipeline by FeaturizeSpec.
    */
  def hashedBowInline(textCol: org.apache.spark.sql.Column, dims: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.HashedBow(
        org.apache.spark.sql.GraftBridge.expression(TextOps.tokenize(textCol)), dims))

  /** Append an L2-normalized `embedding: array<double>` hashed-BoW
    * column; rows whose text has no tokens get the zero vector.
    */
  def hashedBow(df: DataFrame, textCol: String, dims: Int, keep: Seq[String]): DataFrame = {
    val counts = df
      .select(keep.map(col) :+ TextOps.tokenize(col(textCol)).as("_toks"): _*)
      .select(keep.map(col) :+ explode_outer(col("_toks")).as("_term"): _*)
      .withColumn("_dim", when(col("_term").isNotNull, TextOps.hashedBowDim(col("_term"), dims)))
    // two-level partial agg: (row, dim) counts, then dim->count map per row
    val perDim = counts
      .filter(col("_dim").isNotNull)
      .groupBy((keep.map(col) :+ col("_dim")): _*)
      .agg(count("*").as("_cnt"))
      .groupBy(keep.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("_dim"), col("_cnt")))).as("_m"))
    val rowsAll = df.select(keep.map(col): _*).distinct()
    val dense = rowsAll
      .join(perDim, keep, "left_outer")
      .withColumn(
        "_raw",
        transform(
          sequence(lit(0), lit(dims - 1)),
          i => coalesce(element_at(col("_m"), i.cast("long")), lit(0L)).cast("double")
        )
      )
    // norm lands in its OWN projection column so the per-element lambda
    // reads an O(1) attribute — splicing the O(d) fold into the lambda
    // re-runs it per element (O(d²)/row), and the 1-element struct
    // binding VectorOps.normalize uses costs more in wrapper allocation
    // than it saves at d=64 on this 100k-row hot path (measured 1.5 s →
    // 2.9 s). An attribute is substitution-safe here: no Generate above
    // it to infer filters from, no predicate to push through.
    dense
      .withColumn("_n",
        sqrt(aggregate(col("_raw"), lit(0.0), (acc, x) => acc + x * x)))
      .withColumn(
        "embedding",
        when(col("_n") > 0, transform(col("_raw"), x => x / col("_n")))
          .otherwise(col("_raw"))
      )
      .drop("_m", "_raw", "_n")
  }

  /** Document embedding by MEAN-POOLING chunk embeddings: the standard
    * "document vector = mean of its chunks' unit vectors, renormalized"
    * reduction a chunk-level store needs for doc-level retrieval and
    * clustering (the reference embeds chunks only; this is the rollup
    * its corpus would need next). Returns sparse rows
    * `(docId, dim, v)` — v the renormalized pooled component.
    *
    * Everything stays SPARSE: per-(doc, chunk, dim) counts, per-chunk
    * squared norms, one co-partitioned equi-join, two more hash aggs —
    * no dense 64-array is materialized anywhere, which is the 100 TB
    * shape (the dense rollup would shuffle dims × docs doubles).
    *
    * Cross-engine exactness: each chunk's unit-vector component
    * cnt/√ss is quantized to a 1e-6 grid as a LONG, so the cross-chunk
    * sum — the one place addition ORDER could differ between engines —
    * is exact integer arithmetic (the mean's 1/n cancels in the final
    * renormalization, so it never appears). The only float ops are one
    * quantizing round per (chunk, dim) and one division by the exact
    * integer norm, rounded to the repo-wide 5 dp.
    */
  def meanPoolChunks(
      chunks: DataFrame,
      docId: String,
      chunkIdx: String,
      textCol: String,
      dims: Int = 64
  ): DataFrame = {
    // Norms via WINDOWS over the aggregated sparse tables, not
    // aggregate-and-join-back: a join-back duplicates the whole
    // scan+tokenize subtree per use (the curation_report lesson) — the
    // window reuses one pass and is keyed (never partition-less).
    import org.apache.spark.sql.expressions.Window
    val cd = chunks
      .select(col(docId), col(chunkIdx), explode(TextOps.tokenize(col(textCol))).as("_term"))
      .withColumn("_dim", TextOps.hashedBowDim(col("_term"), dims))
      .groupBy(col(docId), col(chunkIdx), col("_dim"))
      .agg(count(lit(1)).as("_cnt"))
    val chunkSs = sum(col("_cnt") * col("_cnt"))
      .over(Window.partitionBy(col(docId), col(chunkIdx)))
    val quantized = cd.withColumn("_v",
      round(col("_cnt") * lit(1e6) / sqrt(chunkSs.cast("double"))).cast("long"))
    val pooled = quantized.groupBy(col(docId), col("_dim")).agg(sum(col("_v")).as("_s"))
    val docSs = sum(col("_s") * col("_s")).over(Window.partitionBy(col(docId)))
    pooled
      .withColumn("_ss2", docSs)
      .select(col(docId), col("_dim").as("dim"),
        round(col("_s") / sqrt(col("_ss2").cast("double")), 5).as("v"))
  }

  /** INCREMENTAL doc-embedding sidecar maintenance: pool ONLY the
    * arriving batch's chunks and append their sparse rows to the
    * persisted sidecar (the [[graft.operators.Ann.appendToIndex]] /
    * Fts.appendToIndex pattern applied to pooled doc vectors). A
    * pooled row is a pure function of its OWN document's chunks — no
    * corpus statistics anywhere in [[meanPoolChunks]] — so base+delta
    * is row-identical to a one-shot rebuild over the union corpus
    * (pinned in FeaturizeSpec). `parts` bounds the files one append
    * adds (file-count hygiene, as in the FTS delta path).
    */
  def appendDocEmbeddings(
      sidecarDir: String,
      newChunks: DataFrame,
      docId: String,
      chunkIdx: String,
      textCol: String,
      dims: Int = 64,
      parts: Int = 4
  ): Unit =
    meanPoolChunks(newChunks, docId, chunkIdx, textCol, dims)
      .coalesce(parts)
      .write.mode("append").parquet(sidecarDir)

  /** Hardlink-clone a flat parquet sidecar directory so a consumer can
    * append deltas without mutating the shared base — the single-level
    * analog of [[graft.operators.Fts.cloneIndex]] (O(#files) metadata,
    * no data copied; parquet part files are immutable once written).
    */
  def cloneDir(src: String): String = {
    val dst = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory("graft_sidecar_clone_"))
    Fts.linkFiles(java.nio.file.Paths.get(src), dst)
    dst.toString
  }

  /** Sparse hashed TF-IDF features: (id, dim, tfidf) rows where dim is
    * the md5 feature bucket, tf the in-doc bucket count and
    * idf = ln(1 + N/df) with df = docs containing the bucket. The df
    * table is O(dims) (64 rows) — a broadcast — and N a one-row agg, so
    * the whole thing is two partial-agg shuffles over the token table:
    * the 100 TB shape. Scores round to 5 dp (cross-engine ln parity,
    * same convention as BM25).
    */
  def hashedTfidf(tokens: DataFrame, idCol: String, dims: Int = 64): DataFrame = {
    val dimmed = tokens.select(col(idCol), TextOps.hashedBowDim(col("term"), dims).as("dim"))
    val tf = dimmed.groupBy(col(idCol), col("dim")).agg(count("*").as("tf"))
    val df = tf.groupBy("dim").agg(count("*").cast("double").as("df"))
    val n = tf.select(col(idCol)).distinct().agg(count("*").cast("double").as("n"))
    tf.join(broadcast(df), "dim")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(lit(1.0) + col("n") / col("df")), 5))
      .select(col(idCol), col("dim"), col("tf"), col("tfidf"))
  }

  /** Model-embedder seam (reference: embedder.py:41 `embed_documents`):
    * run an arbitrary text→vector model per partition behind the SAME
    * `embedding: array<double>` column contract as [[hashedBow]].
    *
    * `model` is a factory invoked once per partition — the ONNX-session
    * pattern (load weights once, then score row after row); only the
    * factory travels in the closure, so a real model loads from
    * executor-local files, never the driver. The default stand-in
    * reproduces the hashed-BoW embedding bit-for-bit, which is what
    * lets FeaturizeSpec prove the swap changes neither schema nor any
    * downstream result.
    */
  def embedWithModel(
      df: DataFrame,
      textCol: String,
      keep: Seq[String],
      dims: Int = 64,
      model: () => String => Array[Double] = () => hashedBowStubModel(64)
  ): DataFrame = {
    val in0 = df.select(keep.map(col) :+ col(textCol).as("_text"): _*)
    // Fan the model scoring out to the session's full parallelism: a
    // per-row model forward costs 100-1000x a normal projection, so a
    // small input landing in fewer partitions than cores (locally: one
    // parquet file = ONE partition) serializes the whole corpus through
    // one core — measured 112 s -> ~6 s on the 128-dim multi-head
    // encoder at local[32]. Inputs already wider than the core count
    // keep their partitioning (no gratuitous full-corpus shuffle at
    // scale; the shuffle moves text bytes once and the model math
    // dwarfs it in every regime where this path matters).
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val in =
      if (in0.rdd.getNumPartitions < cores) in0.repartition(cores) else in0
    val schema = org.apache.spark.sql.types.StructType(
      in.schema.fields.dropRight(1) :+ org.apache.spark.sql.types.StructField(
        "embedding",
        // containsNull=true to match hashedBow's transform() output type
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val textIdx = in.schema.length - 1
    in.mapPartitions { rows =>
      val scorer = model() // once per partition
      rows.map { r =>
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.dropRight(1) :+ scorer(r.getString(textIdx)).toSeq)
      }
    }(enc).toDF(schema.fieldNames.toIndexedSeq: _*)
  }

  /** Model factory backed by the CHECKED-IN ONNX artifact
    * (`graft/embed_mlp.onnx`, written by `graft.tools.MakeOnnx`): the
    * real model-file lifecycle through [[embedWithModel]]'s seam —
    * parse the serialized model ONCE per partition (the session), then
    * score row after row (reference: embedder.py:21-60, fastembed/ONNX
    * nomic-embed). The container ships no onnxruntime jar, so the
    * session is [[graft.functions.OnnxMini]], a minimal pure-JVM ONNX
    * subset executor — swapping in a stock runtime is a one-line change
    * in this factory and nothing downstream moves.
    *
    * `isQuery` is the reference's doc/query prefix asymmetry
    * (embedder.py prepends "search_document: " / "search_query: "
    * before encoding): the prefix participates in the bag-of-words, so
    * query and document embeddings of the same text genuinely differ.
    */
  def onnxEmbedder(
      isQuery: Boolean = false,
      resource: String = "/graft/embed_mlp.onnx"
  ): () => String => Array[Double] = () => {
    val session = graft.functions.OnnxMini.load(resource) // once per partition
    val prefix = if (isQuery) "search_query: " else "search_document: "
    val dims = graft.functions.OnnxFixture.InputDims
    text => {
      val bow = new Array[Double](dims)
      (prefix + text).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).foreach { t =>
        val md = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        bow((md(0) & 0xff) % dims) += 1.0
      }
      val out = graft.functions.OnnxMini.run(session, bow)
      val norm = math.sqrt(out.map(x => x * x).sum)
      if (norm > 0) out.map(_ / norm) else out
    }
  }

  /** The subword-id routine every encoder and cross scorer session
    * shares: the lowercased text's pretoken words, each BPE-merged with
    * the checked-in merges (the `bpe_tokens` tokenizer) and its subwords
    * hashed to `floorMod(String.hashCode, vocab)` (stable across JVMs by
    * spec), at most `cap` ids. Call once per session: the word → ids
    * memo it holds is that session's. The BPE merge loop is the
    * dominant per-token cost and natural corpora repeat words heavily
    * (measured ~2× on the template-heavy test corpus); the memo is
    * bounded so an adversarial all-unique stream cannot grow it
    * without limit.
    */
  private def subwordIds(vocab: Int): (String, Int) => Array[Int] = {
    val merges = Bpe.merges // classpath artifact, loaded once
    val pretoken = java.util.regex.Pattern.compile(Bpe.PretokenRegex)
    val memo = new java.util.HashMap[String, Array[Int]]()
    val memoCap = 1 << 17
    (text, cap) => {
      val ids = Array.newBuilder[Int]
      var n = 0
      val m = pretoken.matcher(text.toLowerCase)
      while (m.find() && n < cap) {
        val w = m.group()
        var wids = memo.get(w)
        if (wids == null) {
          wids = Bpe.encodeWord(w, merges).map(s => java.lang.Math.floorMod(s.hashCode, vocab))
          if (memo.size < memoCap) memo.put(w, wids)
        }
        var i = 0
        while (i < wids.length && n < cap) { ids += wids(i); n += 1; i += 1 }
      }
      ids.result()
    }
  }

  /** Token-SEQUENCE encoder factory over the checked-in
    * `graft/embed_encoder.onnx` ([[graft.functions.OnnxFixture.encoderGraph]]):
    * the reference embedder's real pipeline shape (embedder.py:21-60 —
    * tokenize → token embeddings → transformer → mean-pool →
    * normalize), where [[onnxEmbedder]] feeds a fixed-width BoW. Text
    * is BPE-subword-tokenized with the checked-in merges (the same
    * tokenizer as `bpe_tokens`), each subword hashed into the model's
    * 256-entry embedding table (floorMod of String.hashCode — stable
    * across JVMs by spec), and the id LIST runs through
    * Gather → attention → mean-pool, so sequence length genuinely
    * varies per document. Sequences are capped at `maxLen` (attention
    * is O(L²) — the context-window bound every real encoder has) and
    * the empty sequence short-circuits to the zero vector.
    */
  def encoderEmbedder(
      resource: String = "/graft/embed_encoder.onnx",
      maxLen: Int = 64,
      outDims: Int = graft.functions.OnnxFixture.HeadDims
  ): () => String => Array[Double] = () => {
    val session = graft.functions.OnnxMini.load(resource) // once per partition
    val idsOf = subwordIds(graft.functions.OnnxFixture.VocabSize)
    text => {
      val ids = idsOf(text, maxLen).map(_.toDouble)
      val n = ids.length
      if (n == 0) new Array[Double](outDims)
      else {
        val out = graft.functions.OnnxMini.run2d(
          session, graft.functions.OnnxMini.Mat(n, 1, ids)).data
        val norm = math.sqrt(out.map(x => x * x).sum)
        if (norm > 0) out.map(_ / norm) else out
      }
    }
  }

  /** QUANTIZED (integer-exact) encoder factory over the SAME artifact
    * as [[encoderEmbedder]]: identical BPE-subword id pipeline, but the
    * forward pass is [[graft.functions.QuantEncoder]] — Q·2^12
    * fixed-point activations, integer polynomial softmax, integer
    * layer norm (the I-BERT pattern). Integer sums are
    * order-independent, which is what buys this variant the bit-exact
    * DuckDB twin the float encoder cannot have; the price is ~1%
    * activation error against the float forward (bounded in
    * QuantEncoderSpec). The weights come from the artifact FILE with
    * an integrality check — a retrained non-integer model fails loudly
    * at session load, not silently at the hash gate.
    */
  def quantEncoderEmbedder(
      resource: String = "/graft/embed_encoder.onnx",
      maxLen: Int = 64
  ): () => String => Array[Double] = () => {
    val weights = graft.functions.QuantEncoder.loadFromOnnx(resource) // once per partition
    val idsOf = subwordIds(graft.functions.OnnxFixture.VocabSize)
    text => graft.functions.QuantEncoder.encode(weights, idsOf(text, maxLen))
  }

  /** CROSS-ENCODER scorer — (query, document) → one scalar relevance,
    * jointly encoded: BPE-subword ids of the query, the reserved
    * [SEP] id, then the document's ids, through the checked-in
    * transformer + score head (`graft/cross_encoder.onnx`,
    * [[graft.functions.OnnxFixture.crossEncoderGraph]]). Attention
    * mixes query and document tokens in one pass — the interaction a
    * bi-encoder's two independent towers structurally cannot express,
    * and why production search puts exactly this model class between
    * retrieval and the result list. Same per-partition-session seam
    * as [[encoderEmbedder]]; subwords hash into [0, VocabSize−1) so
    * the [SEP] id is never collided with. The query's ids are
    * budgeted to a quarter of `maxLen` so a long query cannot starve
    * the document of context.
    */
  def crossEncoderScorer(
      resource: String = "/graft/cross_encoder.onnx",
      maxLen: Int = 64
  ): () => (String, String) => Double = () => {
    val session = graft.functions.OnnxMini.load(resource) // once per partition
    val subwords = subwordIds(graft.functions.OnnxFixture.VocabSize - 1) // [SEP] reserved
    def idsOf(text: String, cap: Int): Array[Double] = subwords(text, cap).map(_.toDouble)
    (query, doc) => {
      val q = idsOf(query, maxLen / 4)
      val d = idsOf(doc, maxLen - q.length - 1)
      val seq = q ++ Array(graft.functions.OnnxFixture.SepId.toDouble) ++ d
      if (q.isEmpty && d.isEmpty) 0.0
      else graft.functions.OnnxMini
        .run2d(session, graft.functions.OnnxMini.Mat(seq.length, 1, seq)).data(0)
    }
  }

  /** QUANTIZED cross-encoder scorer — [[crossEncoderScorer]]'s
    * integer-exact sibling over the SAME `cross_encoder.onnx`
    * artifact: identical BPE-subword id pipeline (vocab 255 with the
    * reserved [SEP], identical query/document budgets), but the joint
    * forward is [[graft.functions.QuantEncoder.scoreJoint]] — the
    * fixed-point transformer plus the integer score head, whose
    * output is an EXACT dyadic rational. That exactness is what lets
    * `rerank_cross_q` carry a bit-exact DuckDB twin for the whole
    * retrieve-then-rerank pipeline, which the float cross-encoder
    * (rows-only, the documented class) cannot.
    */
  def quantCrossScorer(
      resource: String = "/graft/cross_encoder.onnx",
      maxLen: Int = 64
  ): () => (String, String) => Double = () => {
    val (weights, head) = graft.functions.QuantEncoder.loadCrossFromOnnx(resource)
    val idsOf = subwordIds(graft.functions.OnnxFixture.VocabSize - 1) // [SEP] reserved
    (query, doc) => {
      val q = idsOf(query, maxLen / 4)
      val d = idsOf(doc, maxLen - q.length - 1)
      if (q.isEmpty && d.isEmpty) 0.0
      else graft.functions.QuantEncoder.scoreJoint(weights, head,
        q ++ Array(graft.functions.OnnxFixture.SepId) ++ d)
    }
  }

  /** Deterministic stand-in model: the driver-side twin of
    * [[hashedBow]] (same tokenizer, same md5 bucketing, same L2
    * normalization) — exists so specs can assert the seam preserves
    * results exactly.
    */
  def hashedBowStubModel(dims: Int): String => Array[Double] = { text =>
    val counts = new Array[Double](dims)
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).foreach { t =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      val v = md(0) & 0xff // first md5 byte = first 2 hex chars, unsigned
      counts(v % dims) += 1.0
    }
    val norm = math.sqrt(counts.map(x => x * x).sum)
    if (norm > 0) counts.map(_ / norm) else counts
  }
}
