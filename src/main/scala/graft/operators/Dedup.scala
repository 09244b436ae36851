package graft.operators

import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication suite for LLM training-data pipelines.
  *
  * Reference anchors: content-hash dedup ingestor.py:182-205 (sha256 +
  * skip-if-unchanged) and store.py:206 `find_existing`. Everything else
  * (MinHash/LSH, n-gram Jaccard, SimHash, embedding near-dup) extends
  * the surface for corpus-scale cleaning.
  *
  * Scale design: no operator ever forms a global cross join. Candidate
  * pairs come only from hash-bucket joins (LSH bands) or explicit blocks;
  * the expensive verify step (exact Jaccard / cosine) runs on candidates
  * only. All joins key on fixed-width hashes, so shuffles carry 16-byte
  * keys rather than document text.
  */
object Dedup {

  /** Cross-document duplicated-SPAN removal — the n-gram approximation
    * of Lee'21 exact-substring dedup ("Deduplicating Training Data Makes
    * Language Models Better": repeated spans, not whole near-dup docs,
    * are what inflate memorization): any token position covered by an
    * n-gram that appears in >= minDocs DISTINCT documents is dropped,
    * and each document is rebuilt from its surviving tokens in order
    * (token-level reconstruction, as in the paper's token-sequence
    * formulation).
    *
    * Scale shape: grams and coverage are linear in corpus tokens; the
    * duplicated-gram set joins back by a SHUFFLE join on 16-byte hashes
    * (unlike line_dedup's broadcast — shared spans can be a large
    * fraction of a crawl, so never assume they fit one executor);
    * reconstruction is one groupBy(doc) bounded by doc length.
    */
  def duplicatedSpanRemoval(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 10,
      minDocs: Int = 2
  ): DataFrame = {
    val toksDf = df.select(col(idCol), TextOps.tokenize(col(textCol)).as("_toks"))
    val gr = gramRows(toksDf, idCol, n)
    val dup = gr.select(col(idCol), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minDocs).select("g")
    rebuild(toksDf, coverage(gr, dup, idCol, n), idCol).orderBy(idCol)
  }

  /** (id, gpos, g): each document's n-grams of `_toks` at their start
    * positions, md5-hashed as a top-level projection.
    */
  private def gramRows(toks: DataFrame, idCol: String, n: Int): DataFrame =
    TextOps.posexplodeShingles(
        toks.select(col(idCol), TextOps.rawShingles(col("_toks"), n).as("_sh")),
        col("_sh"), "gpos", "gram", col(idCol))
      .select(col(idCol), col("gpos"), md5(col("gram")).as("g"))

  /** Distinct (id, pos) token positions covered by a gram of `grams`
    * (one column `g`; the caller picks the join: a shuffle for a
    * corpus-sized set, a broadcast for a benchmark's).
    */
  private def coverage(gr: DataFrame, grams: DataFrame, idCol: String, n: Int): DataFrame =
    gr.join(grams, "g")
      .select(col(idCol), explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .distinct()

  /** Each document of `toks` (id, _toks) rebuilt from its tokens NOT in
    * `covered`, in order: (id, n_tokens, dropped_tokens, clean_text).
    */
  private def rebuild(toks: DataFrame, covered: DataFrame, idCol: String): DataFrame =
    TextOps.posexplodeShingles(toks, col("_toks"), "pos", "tok", col(idCol))
      .join(covered.withColumn("_cov", lit(true)), Seq(idCol, "pos"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_cov"), 1L).otherwise(0L)).as("dropped_tokens"),
        concat_ws(" ",
          transform(
            sort_array(collect_list(when(col("_cov").isNull, struct(col("pos"), col("tok"))))),
            s => s.getField("tok"))).as("clean_text"))

  /** Span-level benchmark decontamination — [[duplicatedSpanRemoval]]'s
    * machinery pointed at an EXTERNAL gram set (Lee et al. 2021 §5 note
    * the same exact-substring tooling serves decontamination; GPT-3
    * appendix C removes benchmark-colliding n-gram spans rather than
    * whole documents): every corpus token position covered by an
    * n-gram that appears anywhere in the benchmark is dropped, and the
    * document is rebuilt from what remains — surgical removal instead
    * of [[TextAnalysis.contamination]]'s doc-level ratio report.
    *
    * Shape at scale: the benchmark gram set is distinct + BROADCAST
    * (eval sets are tiny next to a training corpus — same justified
    * assumption as the contamination check); the corpus explodes once
    * into grams and once into tokens, both keyed by md5 hashes.
    *
    * `normalize` is the cross-lingual seam: applied to BOTH sides
    * before tokenization (e.g. [[TextOps.scriptFold]] — diacritic fold
    * + Cyrillic→Latin transliteration), it makes a benchmark span
    * hidden in another script still collide. With a non-identity
    * normalizer, tokenization and reconstruction operate in normalized
    * token space (char-level folds do not preserve raw-text token
    * boundaries, so there is no faithful mapping back).
    */
  def decontaminateSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 10,
      normalize: org.apache.spark.sql.Column => org.apache.spark.sql.Column = identity
  ): DataFrame =
    decontaminateSpansWithGrams(corpus,
      benchGramsDf(benchmark, textCol, n, normalize), textCol, idCol, n, normalize)

  /** ONE definition of the benchmark gram derivation (tokenize →
    * n-shingles → md5 → distinct) — shared by the batch operator, the
    * driver-artifact capture below, and therefore the streamed path;
    * a change here cannot desynchronize them.
    */
  private def benchGramsDf(
      benchmark: DataFrame,
      textCol: String,
      n: Int,
      normalize: org.apache.spark.sql.Column => org.apache.spark.sql.Column
  ): DataFrame =
    shingleHashes(benchmark.select(lit(0L).as("_id"), normalize(col(textCol)).as("_t")), "_t", "_id", n)
      .select("g").distinct()

  /** The benchmark gram set as a bounded driver artifact (distinct md5
    * hashes — same O as [[decontaminateSpans]]'s broadcast, under the
    * same "eval sets are tiny next to the corpus" assumption; use
    * [[graft.operators.TextAnalysis.bloomDecontaminate]]'s shape when
    * the set can't broadcast). Lets a STREAMED caller tokenize the
    * benchmark ONCE and re-plant the hashes per micro-batch instead of
    * re-planning the whole benchmark leg inside every `foreachBatch`.
    */
  def benchmarkGramHashes(
      benchmark: DataFrame,
      textCol: String,
      n: Int = 10,
      normalize: org.apache.spark.sql.Column => org.apache.spark.sql.Column = identity
  ): Array[String] =
    benchGramsDf(benchmark, textCol, n, normalize).collect().map(_.getString(0))

  /** [[decontaminateSpans]] against a PRECOMPUTED gram-hash set
    * ([[benchmarkGramHashes]]): identical results by construction —
    * the same distinct md5 set drives the same coverage join.
    */
  def decontaminateSpansPrecomputed(
      corpus: DataFrame,
      gramHashes: Array[String],
      textCol: String,
      idCol: String,
      n: Int = 10,
      normalize: org.apache.spark.sql.Column => org.apache.spark.sql.Column = identity
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    decontaminateSpansWithGrams(corpus, gramHashes.toSeq.toDF("g"),
      textCol, idCol, n, normalize)
  }

  private def decontaminateSpansWithGrams(
      corpus: DataFrame,
      benchGrams: DataFrame, // one column `g`: distinct md5 gram hashes
      textCol: String,
      idCol: String,
      n: Int,
      normalize: org.apache.spark.sql.Column => org.apache.spark.sql.Column
  ): DataFrame = {
    // Corpus grams must all be hashed and checked — that pass is
    // inherent. But the token-level REBUILD is only needed for docs
    // that actually hit a benchmark gram: clean docs (the vast
    // majority of a curated corpus) reconstruct as a pure projection
    // (no token explode, no corpus-wide collect_list sort — measured
    // 4.3 s → ~1 s at sf0.1 when materializing clean_text, which a
    // landing write must), while CONTAMINATED docs go through the
    // token-level (id, pos) anti-coverage rebuild — linear per doc,
    // so a fully-covered 100k-token document costs O(T log T), never
    // the O(T²) a per-token membership scan over a position ARRAY
    // would (the adversarial case: heavy genuine contamination).
    // toksDf feeds THREE subtrees (the gram pass, the contaminated
    // rebuild's semi-join, the clean anti-join) and Spark shares no
    // common subtrees within a plan — the tokenize therefore runs 3×
    // per action. That is DELIBERATE (round 17, measured): persisting
    // toksDf (r16's eb7b2f1) made decontaminate_xlingual 2× SLOWER at
    // sf0.1 (min-of-3 warm 3.01 s persisted vs 1.51 s recomputed;
    // the r16 driver saw the same 1.64× raw) — a corpus-sized token
    // table costs more to materialize and reread than three pipelined
    // tokenize passes, the curation_disposition lesson. The map-side
    // work stays scan-pruned per consumer.
    val toksDf = corpus
      .select(col(idCol), TextOps.tokenize(normalize(col(textCol))).as("_toks"))
      .filter(size(col("_toks")) > 0) // empty docs had no token rows before either
    // covPairs has TWO consumers (contaminated-id set + the rebuild's
    // anti-coverage join); like toksDf it is NOT cached — the same
    // round-17 measurement covers it (the gram pipeline re-runs are
    // pipelined map work + one hash join, cheaper at every measured
    // scale than materializing and rereading the pair set).
    val covPairs = coverage(gramRows(toksDf, idCol, n), broadcast(benchGrams), idCol, n)
    val contaminatedIds = covPairs.select(col(idCol)).distinct()
    val rebuilt = rebuild(toksDf.join(contaminatedIds, Seq(idCol), "left_semi"), covPairs, idCol)
    val clean = toksDf
      .join(contaminatedIds, Seq(idCol), "left_anti")
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        lit(0L).as("dropped_tokens"),
        array_join(col("_toks"), " ").as("clean_text"))
    rebuilt.unionByName(clean).orderBy(idCol)
  }

  /** Exact dedup groups: one row per content hash that occurs more than
    * once, with the kept (minimum) id and the duplicate count.
    * Hash-partitioned groupBy — embarrassingly scalable.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(
        min(col(idCol)).as(s"keeper_$idCol"),
        count("*").as("dup_count")
      )
      .filter(col("dup_count") > 1)

  /** Exact dedup keep-first: drop all but the min-id row per hash. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Per-document MinHash signature table: (id, h0..h{n-1}, sh) — the
    * min-hashes plus the md5-shingle set the verify step needs. One
    * row per (doc, distinct shingle) into ONE hash-partitioned
    * aggregation (each min-hash is a partial-agg min — the 100 TB-safe
    * shape); md5 runs as a top-level codegen'd projection, once per
    * shingle, never inside a lambda. Tokens are bound to an attribute
    * before the explode (GenerateExec has no CSE).
    *
    * Signatures are a pure function of the single document, which is
    * what makes them INCREMENTAL: a new corpus batch signs only its
    * own rows ([[appendSignatures]]) — nothing existing recomputes.
    */
  def minHashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 8,
      shingleK: Int = 3
  ): DataFrame = {
    require(numHashes % 2 == 0, "bands of 2 need an even numHashes")
    val minCols = (0 until numHashes).map { seed =>
      min(md5(concat(lit(s"$seed:"), col("g")))).as(s"h$seed")
    }
    val aggCols = minCols :+ collect_set(col("g")).as("sh")
    shingleHashes(df, textCol, idCol, shingleK).groupBy(col(idCol)).agg(aggCols.head, aggCols.tail: _*)
  }

  /** (id, g): one row per DISTINCT k-shingle of each document, md5'd.
    * The raw shingles are exploded and hashed as a top-level projection:
    * md5 inside a transform lambda runs interpreted (HOFs are codegen
    * fallbacks — see TextOps.shingles' own caveat) and measured 6×
    * slower (36 s vs 5.5 s for containment's postings at sf0.1).
    */
  private def shingleHashes(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    TextOps.explodeShingles(
        df.select(col(idCol), TextOps.tokenize(col(textCol)).as("_toks")),
        array_distinct(TextOps.rawShingles(col("_toks"), k)), "_raw", col(idCol))
      .select(col(idCol), md5(col("_raw")).as("g"))

  /** Banded candidate generation + exact-Jaccard verify over a
    * signature table shaped like [[minHashSignatures]]'s output.
    */
  def pairsFromSignatures(
      sig: DataFrame,
      idCol: String,
      numHashes: Int = 8,
      threshold: Double = 0.3
  ): DataFrame = {
    val bandCols = (0 until numHashes by 2).map { i =>
      md5(concat(col(s"h$i"), col(s"h${i + 1}")))
    }
    joinBack(bandedPairs(sig, idCol, bandCols), sig, idCol, Seq("sh"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash + banded-LSH near-duplicate pairs with exact-Jaccard verify.
    *
    * Pipeline: tokens → k-shingles (md5) → `numHashes` min-hashes →
    * bands of 2 → candidate pairs share ≥1 band key → verified Jaccard
    * over distinct shingle sets, keep pairs ≥ threshold.
    *
    * The band join is the only shuffle of pair-like data and its
    * cardinality is |bucket|² summed over buckets — at 100 TB the band
    * keys keep buckets tiny, so the all-pairs blow-up never happens.
    */
  def minHashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 8,
      shingleK: Int = 3,
      threshold: Double = 0.3
  ): DataFrame = {
    // read 3x below (bands + both verify sides); O(docs) rows, cached
    // per call. A signature table that should outlive the call belongs
    // in a ChunkStore store: appendSignatures, then pairsFromSignatures.
    val sig = saltedCached(minHashSignatures(df, textCol, idCol, numHashes, shingleK))
    pairsFromSignatures(sig, idCol, numHashes, threshold)
  }

  /** Sign ONLY `delta`'s documents and upsert them into a persisted
    * signature store (the manifest [[ChunkStore]]): the incremental
    * MinHash path — corpus growth costs one delta-sized signing pass
    * plus a manifest commit, re-ingested docs latest-win, deletions
    * tombstone. The pair sweep ([[pairsFromSignatures]] over
    * `store.read`) then sees the merged signature table without any
    * re-signing.
    */
  def appendSignatures(
      store: ChunkStore,
      delta: DataFrame,
      textCol: String,
      numHashes: Int = 8,
      shingleK: Int = 3,
      parts: Int = 0 // >0 bounds the segment's files (micro-batch deltas)
  ): Unit =
    store.upsert(
      minHashSignatures(delta, textCol, store.keyCol, numHashes, shingleK), parts)

  /** Exact Jaccard of two distinct-element sets, rounded to 4 places —
    * the one formula of every Jaccard-verified pair generator.
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    round(inter / ((size(a) + size(b)).cast("double") - inter), 4)
  }

  /** The one candidate-pair rule of every pair generator (REPOSE's
    * scheme: prune locally per block, then verify exactly). `rows`
    * carries a block `key`, an `id` and a `payload`; both sides alias
    * the id as `id_a` / `id_b` and each payload column `p` as `p_a` /
    * `p_b`, join on the key, and keep each unordered pair once
    * (`id_a < id_b`) or, for an asymmetric relation (`ordered`), both
    * orders (`id_a =!= id_b`). An empty key pairs all rows: the caller
    * bounds the block. The join is the only shuffle of pair-like data;
    * its cardinality is |block|² summed over blocks.
    */
  private def blockedPairs(
      rows: DataFrame,
      key: Seq[String],
      id: String,
      payload: Seq[String] = Nil,
      ordered: Boolean = false
  ): DataFrame =
    side(rows, "a", id, payload, key).join(side(rows, "b", id, payload, key), key)
      .filter(if (ordered) col("id_a") =!= col("id_b") else col("id_a") < col("id_b"))

  /** Candidate pairs sharing any band key (one column of `bands` per
    * band), each pair once with its `payload`: a pair sharing several
    * bands is one candidate.
    */
  private def bandedPairs(sig: DataFrame, id: String, bands: Seq[Column],
      payload: Seq[String] = Nil): DataFrame = {
    val banded = sig.select((col(id) +: payload.map(col)) :+
      posexplode(array(bands: _*)).as(Seq("band", "key")): _*)
    blockedPairs(banded, Seq("band", "key"), id, payload).drop("band", "key").distinct()
  }

  /** `payload` carried back onto id pairs by two id-keyed joins against
    * `rows` — for payloads too large to ride the block join.
    */
  private def joinBack(pairs: DataFrame, rows: DataFrame, id: String, payload: Seq[String]): DataFrame =
    pairs.join(side(rows, "a", id, payload), "id_a").join(side(rows, "b", id, payload), "id_b")

  private def side(rows: DataFrame, s: String, id: String, payload: Seq[String],
      key: Seq[String] = Nil): DataFrame =
    rows.select(key.map(col) ++ (col(id).as(s"id_$s") +: payload.map(p => col(p).as(s"${p}_$s"))): _*)

  /** Blocked pairwise n-gram Jaccard: all pairs *within a block* only.
    * Pass a small blocking predicate/projection; never run unblocked at
    * scale (that is what [[minHashLshPairs]] is for).
    *
    * The contract is ENFORCED: the input is counted up front (one cheap
    * job on the already-blocked rows) and anything over `maxRows` fails
    * fast rather than silently materializing an O(n²) cross join — an
    * unblocked corpus passed by mistake dies in milliseconds, not after
    * an executor-melting shuffle.
    *
    * @param maxRows ceiling on the block size; `maxRows²` bounds the
    *                pair count (default 1000 → ≤ ~500k pairs)
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      maxRows: Long = 1000L
  ): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"ngramJaccardPairs got $n rows (> maxRows=$maxRows): this operator cross-joins " +
        "within a block and must never run unblocked — pre-filter to a small block, " +
        "raise maxRows deliberately, or use minHashLshPairs for corpus-scale near-dup pairs")
    val s = df
      .select(col(idCol), TextOps.tokenize(col(textCol)).as("_toks"))
      .select(col(idCol), array_distinct(TextOps.shingles(col("_toks"), shingleK)).as("sh"))
    blockedPairs(s, Nil, idCol, Seq("sh"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** Edit-distance similarity self-join by deletion-neighborhood
    * blocking (FastSS, Bocek et al. 2007 — the SymSpell scheme): all
    * pairs whose `textCol` values are within Levenshtein distance
    * `maxDist`, found WITHOUT the O(n²) cross join and confirmed by
    * the exact codegen `levenshtein`.
    *
    * Blocking guarantee (no false negatives): take an optimal edit
    * script between s₁ and s₂ and delete each edited position from
    * its own string — at most t deletions on each side yield a COMMON
    * string, so ED(s₁,s₂) ≤ t ⇒ the ≤t-deletion neighborhoods
    * intersect. Candidates are pairs sharing any variant; impostors
    * (the neighborhoods also brush at distance up to 2t) die in the
    * exact confirm.
    *
    * Chosen over q-gram prefix filtering deliberately: rarest-first
    * gram signatures degenerate on boilerplate-heavy corpora — a
    * uniform-prefix ID column ties thousands of rows onto the same
    * "rare" gram and the candidate join goes quadratic (measured 36 s
    * on 15k `Customer#0000…` names) — while deletion variants of such
    * names differ wherever the discriminative characters are, keeping
    * buckets near-singleton (same data: sub-second). Short strings
    * need no special casing: neighborhoods shrink with the string.
    *
    * Scale shape: n·(len choose ≤t) variant rows, hashed to 8-byte
    * join keys (a hash collision only mints a candidate, never drops
    * one), one hash self-join, distinct on the id pair, verify. Row
    * text never fans out — variants leave the row as xxhash64 longs,
    * and the STRINGS re-enter only on the distinct candidate PAIRS
    * (two id-keyed joins against the n-row base — pairs ≪ variants by
    * construction, so the verify join never carries name bytes at
    * variant volume). The neighborhood is combinatorial in t, so t ≤ 2
    * is enforced; coarser matching belongs to [[minHashLshPairs]] /
    * n-gram Jaccard.
    *
    * Plan shape (round-16 rework): the neighborhood expansion is
    * hash-spread by id first — the compact id+name scan arrives in a
    * handful of input splits, and the O(n·len^t) generate would
    * otherwise run on those few tasks while the rest of the session
    * idles — then the (id, hash) variant rows are hash-partitioned BY
    * THE JOIN KEY, so the self-join consumes ONE exchange from both
    * sides (ReusedExchange: scan+generate executes once, where the
    * previous distinct()-planted exchange was recomputed per side the
    * moment AQE picked a broadcast join) and needs no further shuffle.
    */
  def editDistanceJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDist: Int = 1
  ): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2,
      s"editDistanceJoin supports maxDist 0..2 (got $maxDist): the deletion " +
        "neighborhood is len-choose-t per row; use token/shingle similarity " +
        "(minHashLshPairs, ngramJaccardPairs) for coarser matching")
    val base = df.select(col(idCol).as("_id"), col(textCol).as("_s"))

    // All strings reachable by deleting exactly one character.
    def del1(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(length(s) > 0,
        transform(sequence(lit(1), length(s)),
          i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))
        .otherwise(array().cast("array<string>"))

    val neighborhood =
      if (maxDist == 0) array(col("_s"))
      else if (maxDist == 1) array_union(array(col("_s")), del1(col("_s")))
      else // t = 2: the string, one deletion, two deletions
        array_union(
          array_union(array(col("_s")), del1(col("_s"))),
          array_distinct(flatten(transform(del1(col("_s")), v => del1(v)))))

    // Variants are distinct per row (array_union/array_distinct above);
    // cross-row duplicates only re-mint a candidate the pair-distinct
    // collapses, so no variant-level distinct is needed. Both
    // repartitions size themselves from spark.sql.shuffle.partitions
    // (scale-adaptive, AQE-coalescible) — no local-core constant.
    val variants = base
      .repartition(col("_id"))
      .select(col("_id"), explode(neighborhood).as("_v"))
      .select(col("_id"), xxhash64(col("_v")).as("_vh"))
      .repartition(col("_vh"))
    val cand = blockedPairs(variants, Seq("_vh"), "_id").select("id_a", "id_b").distinct()
    joinBack(cand, base, "_id", Seq("_s"))
      .filter(abs(length(col("_s_a")) - length(col("_s_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_s_a"), col("_s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Persist an operator-internal DataFrame PROVABLY per-invocation:
    * a literal nonce column is appended before the persist, so the
    * cached plan is unique to this call and CacheManager's
    * sameResult substitution can never serve a previous invocation's
    * entry to a later run (a bench warm pass recomputes from parquet
    * by construction, not by pool-eviction luck — CacheSaltSpec pins
    * this). The salt column takes a name none of the caller's columns
    * has (case-insensitively, as Spark resolves names) and is dropped
    * before the frame is handed back, so consumers see the original
    * schema and values.
    *
    * Retention is bounded: the newest 4 salted frames stay cached, older
    * ones unpersist (non-blocking) — the CacheManager holds cached
    * blocks by strong reference, so a long-lived driver sweeping many
    * corpora would otherwise accumulate them forever; an evicted entry's
    * consumers merely recompute.
    */
  private val invNonce = new java.util.concurrent.atomic.AtomicLong(0L)
  private val retained = new java.util.ArrayDeque[DataFrame]()
  private[graft] def saltedCached(dfc: DataFrame): DataFrame = {
    val salt = Iterator.iterate("_inv")("_" + _)
      .find(n => !dfc.columns.exists(_.equalsIgnoreCase(n))).get
    val salted = dfc.withColumn(salt, lit(invNonce.incrementAndGet()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    retained.synchronized {
      retained.addLast(salted)
      while (retained.size > 4) retained.removeFirst().unpersist(false)
    }
    salted.drop(salt)
  }

  /** Asymmetric CONTAINMENT pairs — excerpt/quote detection:
    * containment(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ τ finds documents
    * whose shingles are (mostly) a subset of another's. Jaccard-keyed
    * near-dup ([[minHashLshPairs]]) structurally MISSES these: a short
    * excerpt inside a long document has containment 1.0 but Jaccard
    * ≈ |A|/|B| — arbitrarily low, so no symmetric threshold finds it.
    *
    * Formulation: the inverted-index co-occurrence join — postings
    * (doc, shingle-md5) self-joined on the shingle to count EVERY
    * co-occurring pair's exact intersection in one hash aggregation,
    * then one size join and the ratio filter. Exact by construction
    * (every shared shingle is counted, every pair with ≥ 1 shared
    * shingle is generated) and the shuffles carry only 16-byte hashes
    * and id pairs. Chosen over the prefix-filter variant (generate
    * candidates from A's rarest shingles, then intersect the paired
    * shingle ARRAYS) after measurement: on a near-dup-rich corpus the
    * array verify shuffles ~5 KB per doc per candidate and took 81 s
    * at sf0.1 where this formulation takes ~2 s.
    *
    * Cost model and hot-shingle routing: the co-occurrence join emits
    * Σ_g df(g)² rows, so a corpus-ubiquitous shingle (boilerplate, a
    * license header) is quadratic. The maximum df is checked up front
    * (one aggregation over the CACHED postings — built once, consumed
    * by every leg below); when every shingle's df ≤ `hotDf` the plain
    * join runs unchanged. Above the cap the EXACT hybrid takes over —
    * no recall bound, no fail-fast:
    *
    *   - the co-occurrence join is restricted to RARE shingles
    *     (df ≤ hotDf), bounding its output by hotDf·Σ df;
    *   - each doc's HOT shingles (df > hotDf) become a per-doc set —
    *     there are < |postings|/hotDf distinct hot shingles, so the
    *     sets are small — and the hot part of any pair's intersection
    *     is `array_intersect` on the candidate, never a join through
    *     the quadratic postings;
    *   - completeness: a qualifying pair (A,B) misses at most
    *     ⌊(1−τ)·|A|⌋ of A's shingles, so A's ⌊(1−τ)·|A|⌋+1 RAREST
    *     shingles (df-ascending prefix) must contain one shared with
    *     B. If that prefix holds any rare shingle shared with B the
    *     rare join already generated the pair; otherwise a hot PREFIX
    *     shingle is shared, and those few prefix-hot entries probe the
    *     hot postings — Σ df per probe, linear not quadratic. The
    *     prefix is widened by the round(…,4) slack (+5e-5·|A|+1) so
    *     boundary pairs the ratio filter would keep are never lost.
    *
    * A corpus where EVERY doc is the same boilerplate still emits
    * O(n²) pairs — but that output is genuinely quadratic; the hybrid
    * is output-bound, not postings-bound.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      tau: Double = 0.8,
      shingleK: Int = 3,
      hotDf: Long = 10000L
  ): DataFrame = {
    // persist: the postings feed the df guard, the size leg and both
    // join sides (4 consumers — previously 4 rebuilds); materialized
    // by the topDf action, per call and retention-bounded.
    val ex = saltedCached(
      shingleHashes(df.select(col(idCol).as("_id"), col(textCol)), textCol, "_id", shingleK))
    val sizes = ex.groupBy(col("_id")).agg(count(lit(1)).cast("double").as("_na"))
    val dfs = ex.groupBy("g").agg(count(lit(1)).as("_df"))
    val topDf = dfs.agg(max(col("_df"))).first().getLong(0)
    // (id_a, id_b, _c): shared postings per ordered pair
    def coCounts(postings: DataFrame): DataFrame =
      blockedPairs(postings, Seq("g"), "_id", ordered = true)
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_c"))
    val pairCounts =
      if (topDf <= hotDf) coCounts(ex) // fast path: every shingle is rare
      else {
        val exD = ex.join(dfs, "g")
        val hot = exD.filter(col("_df") > hotDf).select("_id", "g")
        val rareCnt = coCounts(exD.filter(col("_df") <= hotDf))
        // every doc's hot-shingle set (empty when it has none)
        val hotSets = exD.groupBy(col("_id"))
          .agg(collect_set(when(col("_df") > hotDf, col("g"))).as("_hs"))
        // prefix probes: per-doc df-ascending rank (window keyed by doc
        // id — never partition-less); prefix width ⌊(1−τ+5e-5)·na⌋+2
        // absorbs the round(…,4) boundary slack
        val w = Window.partitionBy(col("_id")).orderBy(col("_df"), col("g"))
        val prefixHot = exD
          .withColumn("_rk", row_number().over(w))
          .join(sizes, "_id")
          .filter(col("_rk") <= floor(lit(1.0 - tau + 5e-5) * col("_na")) + 2)
          .filter(col("_df") > hotDf)
          .select("_id", "g")
        // prefix entries probe the hot postings: the hot self-join with
        // the left side narrowed to the prefix (the `_p` tag filters
        // push down into the union, so each side scans one branch)
        val probePairs = blockedPairs(
            prefixHot.withColumn("_p", lit(true)).unionByName(hot.withColumn("_p", lit(false))),
            Seq("g"), "_id", Seq("_p"), ordered = true)
          .filter(col("_p_a") && !col("_p_b"))
          .select("id_a", "id_b").distinct()
        val pairs = rareCnt.select("id_a", "id_b").unionByName(probePairs).distinct()
          .join(rareCnt, Seq("id_a", "id_b"), "left")
        joinBack(pairs, hotSets, "_id", Seq("_hs"))
          .select(col("id_a"), col("id_b"),
            (coalesce(col("_c"), lit(0L)) + size(array_intersect(col("_hs_a"), col("_hs_b"))))
              .as("_c"))
      }
    pairCounts
      .join(sizes.withColumnRenamed("_id", "id_a"), "id_a")
      .withColumn("containment", round(col("_c").cast("double") / col("_na"), 4))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** URL-keyed exact dedup — crawl step 0: group on the CANONICAL url
    * ([[graft.functions.UrlOps.canonicalizeUrl]] — case-folded
    * scheme/host, `www.`/default-port/fragment/tracking-param
    * stripped, query params sorted, trailing slashes collapsed) and
    * keep the minimum id. One hash-partitioned aggregation; the
    * canonicalization is pure codegen string work, so the whole pass
    * is a map + one shuffle on the canonical key.
    */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.groupBy(graft.functions.UrlOps.canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** Shared sign-sum aggregation: (idCol, _b0.._b63) — bit j is set
    * iff 2·c_j > n, c_j counting the token hashes with bit j set among
    * the document's n tokens.
    *
    * The 64 per-bit counts are accumulated BIT-SLICED: each hex digit
    * expands to one long with four 15-bit fields (one per bit), so the
    * aggregation carries 16 long sums instead of 64 — measured ~4×
    * less generated aggregate code (a 64-buffer HashAggregate costs
    * ~6 s of one-time janino compilation). Counts unpack afterwards
    * with shift/mask. Field width 15 bits caps a document's signature
    * at 32,767 tokens — far above any chunk-sized doc; split longer
    * texts before signing.
    */
  private def simHashAgg(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashed = df
      .select(col(idCol), TextOps.tokenize(col(textCol)).as("_toks"))
      .select(col(idCol), explode(col("_toks")).as("_t"))
      .select(col(idCol), md5(col("_t")).as("_h"))
    // 16 hex digits of the first 16 chars = 64 bits, shared via CSE.
    val digits = hashed.select(
      col(idCol) +: (1 to 16).map(p =>
        conv(substring(col("_h"), p, 1), 16, 10).cast("long").as(s"_v$p")): _*
    )
    val slicedSums = (1 to 16).map { p =>
      val v = col(s"_v$p")
      val sliced = (0 to 3).map { k =>
        shiftright(v, k).bitwiseAND(lit(1L)) * lit(1L << (15 * k))
      }.reduce(_ + _)
      sum(sliced).as(s"_s$p")
    }
    val aggd = digits.groupBy(col(idCol)).agg(count(lit(1)).as("_n"), slicedSums: _*)
    val bits = (0 until 64).map { j =>
      val p = j / 4 + 1
      val k = 3 - j % 4
      (shiftright(col(s"_s$p"), 15 * k).bitwiseAND(lit(32767L)) * 2 > col("_n")).as(s"_b$j")
    }
    aggd.select(col(idCol) +: bits: _*)
  }

  /** 64-bit SimHash signature per row, rendered as a 64-char '0'/'1'
    * string, computed with ONE md5 per token: explode → md5 as a
    * top-level codegen'd column → 16 hex-digit values → 64 bit-sums in
    * a single partial-agg-friendly hash aggregation. Bit j is the sign
    * of Σ_tokens (±1), i.e. set when more than half the token hashes
    * have bit j set. Rows with zero tokens produce no signature (the
    * explode drops them) — identical on the DuckDB side.
    */
  def simHash64(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sig = concat((0 until 64).map(j => when(col(s"_b$j"), lit("1")).otherwise(lit("0"))): _*)
    simHashAgg(df, textCol, idCol).select(col(idCol), sig.as("simhash64"))
  }

  /** The same 64-bit signature packed into four 16-bit integer words
    * (w0..w3, bit j of the signature = bit 15-(j%16) of w_{j/16}) —
    * the form the pairing join works in: band keys are byte extracts
    * and hamming distance is 4 codegen'd `bit_count(xor)` ops instead
    * of 64 interpreted character compares.
    */
  def simHashWords(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val words = (0 until 4).map { t =>
      (0 until 16).map { b =>
        val j = t * 16 + b
        when(col(s"_b$j"), lit(1 << (15 - b))).otherwise(lit(0))
      }.reduce(_ + _).as(s"w$t")
    }
    simHashAgg(df, textCol, idCol).select(col(idCol) +: words: _*)
  }

  /** SimHash near-dup pairs via hamming-band bucketing — the canonical
    * 64-bit SimHash dedup configuration (Manku et al., WWW'07): the
    * signature splits into 4 16-bit words; docs sharing any word become
    * candidates (pigeonhole: every pair within hamming 3 shares at
    * least one clean word), then the exact hamming distance — 4
    * codegen'd `bit_count(xor)` ops — filters to ≤ maxHamming.
    * Candidate generation is a hash join on 16-bit keys, never
    * all-pairs; 16-bit (not byte) keys are what keep template-heavy
    * corpora from blowing up the bucket join (measured at sf0.1:
    * 5.1M candidate rows with byte bands vs 192k with word bands).
    */
  def simHashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      bands: Int = 4,
      maxHamming: Int = 3
  ): DataFrame = {
    require(bands == 4, "band layout is the 4 16-bit signature words")
    require(maxHamming < bands, "band guarantee needs maxHamming < bands")
    // O(docs) fixed-width rows, read by both band sides; per-invocation
    // and retention-bounded like every operator-internal cache
    val sig = saltedCached(simHashWords(df, textCol, idCol))
    val wordCols = (0 until 4).map(t => s"w$t")
    // the 16-bit words are the band keys and ride the band join as the
    // payload (fixed-width, no join-back)
    val candidates = bandedPairs(sig, idCol, wordCols.map(col), wordCols)
    // O(candidates) verify — 4 xor+popcount ops per pair, all codegen.
    val ham = wordCols
      .map(w => bit_count(col(s"${w}_a").bitwiseXOR(col(s"${w}_b"))))
      .reduce(_ + _).cast("long")
    candidates
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Duplicate-cluster resolution: given near-dup pairs (from any of
    * the pair generators), assign every member the minimum id reachable
    * through the pair graph — its cluster's canonical "keeper". This is
    * the step that turns pairwise output into actionable dedup.
    *
    * Two regimes, chosen by measured pair count:
    *  - pair graph ≤ `localThreshold` (default 1M pairs ≈ 16 MB):
    *    union-find on the driver — near-linear, instant, the same
    *    bounded-artifact pattern as PQ's codebook sample. Most real
    *    dedup sweeps land here (the GRAPH is only the duplicates, not
    *    the corpus).
    *  - larger graphs: distributed min-label propagation WITH path
    *    compression (pointer jumping) — O(log diameter) rounds, each
    *    two joins, a driver-side O(1) convergence count per round.
    *    Never materializes the transitive closure.
    */
  def duplicateClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      localThreshold: Long = 1L << 20
  ): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edgesOne = pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .distinct().cache() // read by the count and one branch; unpersisted in both below
    val nPairs = edgesOne.count()
    if (nPairs <= localThreshold) {
      val es = edgesOne.collect().map(r => (r.getLong(0), r.getLong(1)))
      edgesOne.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      es.foreach { case (u, v) =>
        parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
        val ru = find(u); val rv = find(v)
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv } // min-id root
      }
      return parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster_id")
    }
    // localCheckpoint (eager), not cache: each iteration's output must
    // TRUNCATE its lineage, or iteration k's plan nests all k-1 prior
    // joins — Catalyst re-analysis grows linearly per round and the
    // loop goes quadratic in planning (measured 82 s → 21 s on a 1.2M-
    // edge diameter-11 chain graph; the classic iterative-Spark trap;
    // the remaining cost is the genuine O(diameter) round latency).
    // Superseded checkpoint blocks are freed by the ContextCleaner as
    // each round's DataFrame becomes unreachable; the labels table is
    // two longs per NODE (not per edge), so even the transient
    // worst case of maxIter resident copies is node-count-bounded.
    val edges = edgesOne
      .unionAll(edgesOne.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    edgesOne.unpersist()
    @annotation.tailrec
    def propagate(labels: DataFrame, iter: Int): DataFrame = if (iter >= maxIter) labels else {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("lbl").as("vlbl")), "v")
        .groupBy(col("u").as("id"))
        .agg(min("vlbl").as("nlbl"))
      val stepped = labels
        .join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // path compression: lbl := lbl's label (labels are node ids)
      val updated = stepped
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("_lbl2")), Seq("lbl"), "left_outer")
        .select(col("id"), coalesce(col("_lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint()
      val changed = updated
        .join(labels.select(col("id"), col("lbl").as("_old")), "id")
        .filter(col("lbl") =!= col("_old"))
        .count()
      if (changed == 0) updated else propagate(updated, iter + 1)
    }
    propagate(edges.select(col("u").as("id")).distinct()
        .withColumn("lbl", col("id")).localCheckpoint(), 0)
      .select(col("id"), col("lbl").as("cluster_id"))
  }

  /** CANONICAL selection — the step after cluster resolution that
    * production dedup actually ships: keep the BEST copy of each
    * duplicate cluster (highest [[TextAnalysis.qualityScore]], ties
    * to the lowest id), not an arbitrary one — dropping the boilerplate
    * mirror and keeping the clean original. Docs in no cluster are
    * their own canonical (singleton pass-through).
    *
    * Scale shape: one left join onto the cluster map and ONE
    * per-cluster ordered window (keyed by cluster id — partitions stay
    * bounded because near-dup clusters are small by construction; a
    * degenerate all-alike corpus degrades this ONE window, not the
    * corpus scan). The canonical is `first(id)` over the
    * (quality desc, id) order — every frame includes the partition's
    * top row, so no winners table and no second join/corpus pass (the
    * previous row_number + re-join shape evaluated the member subtree
    * twice: Spark shares no common subtrees within a plan). Since
    * [[TextAnalysis.qualityScore]] is a 1:1 projection, it IS the
    * member row set — the separate corpus.select(id) leg was a third
    * corpus pass for a column qualityScore already carries. Returns
    * every input row: (id, cluster_id, canonical_id, quality, keep).
    */
  def canonicalPerCluster(
      corpus: DataFrame,
      clusters: DataFrame, // (id, cluster_id) from duplicateClusters
      textCol: String,
      idCol: String
  ): DataFrame = {
    val member = TextAnalysis.qualityScore(corpus, textCol, idCol)
      .select(col(idCol), col("quality"))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("quality").desc, col(idCol))
    member
      .withColumn("canonical_id", first(col(idCol)).over(w))
      .select(col(idCol), col("cluster_id"), col("canonical_id"),
        col("quality"), (col(idCol) === col("canonical_id")).as("keep"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * blocked by a fitted k-means coarse quantizer. Every document is
    * assigned to its nearest centroid; near-duplicate pairs (cosine >=
    * threshold) are formed ONLY within a cluster; within each duplicate
    * relation the paper's keep rule applies — retain the example with
    * the LOWEST cosine similarity to its cluster centroid (the most
    * "atypical" representative), ids breaking ties. Returns every input
    * row with its cluster, centroid similarity and a `kept` flag.
    *
    * Scale shape: the only shuffle is the equi-join on `cluster`
    * (k grows ~sqrt(N) at scale, so cluster populations stay bounded and
    * the intra-cluster pair loop is O(N * avgClusterSize), never a
    * global cross join — the paper's trick for running on LAION-scale
    * corpora). The centroid table is O(k*dim) and broadcast. The removal
    * decision is a local pairwise EXISTS over rounded (centroid_sim, id)
    * keys, not a transitive closure — no iterative connected-components
    * pass, one shuffle end to end.
    */
  def semDeDup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      threshold: Double
  ): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      centroids.zipWithIndex.toSeq.map { case (c, i) => (i.toLong, c.toSeq) }.toDF("cluster", "cv"))
    val scored = Ann.assign(df, vecCol, centroids)
      .withColumn("cluster", col("cluster").cast("long"))
      .join(centDf, Seq("cluster"))
      .withColumn("centroid_sim", VectorOps.cosineFastRounded(col(vecCol), col("cv")))
      .drop("cv")
    val (csA, csB) = (col("centroid_sim_a"), col("centroid_sim_b"))
    val removed = blockedPairs(scored, Seq("cluster"), idCol, Seq(vecCol, "centroid_sim"),
        ordered = true)
      .filter(VectorOps.cosineFastRounded(col(s"${vecCol}_a"), col(s"${vecCol}_b")) >= threshold)
      .filter(csB < csA || (csB === csA && col("id_b") < col("id_a")))
      .select(col("id_a").as(idCol)).distinct()
      .withColumn("_rm", lit(true))
    scored
      .join(removed, Seq(idCol), "left")
      .withColumn("kept", col("_rm").isNull)
      .drop("_rm")
  }

  /** Embedding near-duplicate pairs, blocked by a partition column
    * (label locally; an LSH bucket or coarse-quantizer cell at scale).
    * Cosine is computed only within blocks.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      blockCol: String,
      threshold: Double
  ): DataFrame = {
    // O(pairs) hot path: the native codegen'd cosine_sim expression —
    // one fused loop per pair, no interpreted HOF fallback.
    graft.plans.GraftFunctions.register(df.sparkSession)
    blockedPairs(df, Seq(blockCol), idCol, Seq(vecCol))
      .withColumn("cos_sim", VectorOps.cosineFastRounded(col(s"${vecCol}_a"), col(s"${vecCol}_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col(blockCol), col("id_a"), col("id_b"), col("cos_sim"))
  }
}
