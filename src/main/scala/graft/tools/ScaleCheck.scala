package graft.tools

import graft._
import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-behavior check: replicate the documents corpus N× (distinct
  * ids, salted text so hashes differ) and time the operators whose cost
  * is corpus-shaped. Verifies the operators' scaling curve, not just
  * their sf0.1 wall time: near-linear growth here means the dataflow
  * has no hidden all-pairs/driver-side bottleneck.
  *
  * runMain graft.tools.ScaleCheck [sfDir] [maxFactor] [section]
  * (section `ivf` runs only the IVF nlist-scaling block; section
  * `structured` runs the STRUCTURED-vector recall study — see
  * [[structuredStudy]] — with maxFactor × 100k vectors)
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val maxFactor = if (args.length > 1) args(1).toInt else 20
    val section = if (args.length > 2) args(2) else ""
    val onlyIvf = section == "ivf" || section == "ivf2"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (section == "structured") {
      structuredStudy(spark, maxFactor * 100000L)
      spark.stop()
      return
    }

    if (section == "structured2l") {
      structuredTwoLevelStudy(spark, maxFactor * 100000L)
      spark.stop()
      return
    }

    if (section == "lifecycle2l") {
      lifecycleStudy(spark, maxFactor * 100000L)
      spark.stop()
      return
    }

    if (section == "firstexec") {
      firstExecution(spark, sfDir)
      spark.stop()
      return
    }

    def corpus(factor: Int): DataFrame = {
      val d = Tables.documents(spark, sfDir)
      val reps = spark.range(factor).select(col("id").as("rep"))
      d.crossJoin(reps)
        .select(
          (col("doc_id") + col("rep") * 1000000L).as("doc_id"),
          // salt the text so content hashes/shingles differ across replicas
          concat(col("text"), lit(" salt"), col("rep").cast("string")).as("text"),
          col("lang"), col("source"), col("n_chars")
        )
    }

    def time(label: String, df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      val n = df.count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-28s ${s}%7.2f s  ($n rows)")
      s
    }

    // warmup
    Tables.documents(spark, sfDir).count()
    Tables.embeddings(spark, sfDir).count()

    for (factor <- Seq(1, maxFactor / 4, maxFactor).distinct.filter(_ >= 1) if !onlyIvf) {
      val c = corpus(factor)
      val rows = c.count()
      println(s"\n[scale] === corpus x$factor (${rows} docs) ===")
      time(s"dedup_exact", Dedup.exactGroups(c, "text", "doc_id"))
      time(s"dedup_minhash_lsh", Dedup.minHashLshPairs(c, "text", "doc_id", threshold = 0.3))
      time(s"doc_fingerprint", TextAnalysis.fingerprint(c, "text", "doc_id"))
      time(s"bm25_topk", Search.bm25TopK(
        TextAnalysis.tokenTable(c, "text", Seq("doc_id")).select("doc_id", "term"),
        "doc_id", Queries.QueryTerms, 10))
      time(s"chunk_explode", Chunker.fixedSize(c, "text", 32, 8, Seq("doc_id", "source")))
      time(s"quality_score", TextAnalysis.qualityScore(c, "text", "doc_id"))
      // agg(sum) forces the expression — count() alone would prune the
      // projection and time only the row count
      time(s"bpe_text_tokens", c.select(
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.BpeTextTokens(
            org.apache.spark.sql.GraftBridge.expression(lower(col("text"))),
            Bpe.mergesArray)).as("n"))
        .agg(sum("n").as("total_tokens")))
      time(s"simhash_pairs", Dedup.simHashPairs(c, "text", "doc_id"))
      // hash-sum every output column: a bare count() lets Catalyst
      // eliminate unique-keyed joins and prune the expensive columns
      def forced(df: DataFrame): DataFrame =
        df.agg(sum(hash(df.columns.map(col): _*).cast("long")).as("h"))
      time(s"repetition_stats", forced(TextAnalysis.repetitionStats(c, "text", "doc_id")))
      time(s"line_dedup", forced(TextAnalysis.lineDedup(c, "text", "doc_id")))
      time(s"mix_temperature",
        forced(Sampling.temperatureMix(c.select("doc_id", "lang"), "lang", "doc_id")))
      time(s"fts_build+probe", {
        val idx = Fts.build(c, "text", "doc_id",
          graft.streaming.StreamPipeline.deleteRecursivelyOnExit(java.nio.file.Files.createTempDirectory("graft_scale_fts_")).toString)
        Fts.probe(spark, idx, "doc_id", Queries.QueryTerms, 10)
      })
      time(s"phrase_search", c
        .select(col("doc_id"), graft.functions.TextOps.tokenize(col("text")).as("toks"))
        .select(col("doc_id"),
          graft.functions.TextOps.phrasePositions(col("toks"), Seq("filter", "join")).as("pos"))
        .filter(size(col("pos")) > 0))
      time(s"perplexity_filter", forced(Lm.perplexity(c, "text", "doc_id")))
      time(s"gopher_quality", forced(TextAnalysis.gopherQuality(c, "text", "doc_id")))
      time(s"decontaminate_spans", forced(Dedup.decontaminateSpans(
        c, Tables.documents(spark, sfDir).filter(col("doc_id") < 10), "text", "doc_id")))
      time(s"fts_bm25_batch", {
        val idx = Fts.build(c, "text", "doc_id",
          graft.streaming.StreamPipeline.deleteRecursivelyOnExit(java.nio.file.Files.createTempDirectory("graft_scale_ftsb_")).toString)
        Fts.probeBatch(spark, idx, "doc_id", Queries.BatchTextQueries, 5)
      })
      time(s"pack_sequences", forced(
        Packing.packSequences(c, "text", "doc_id", budget = 2048L)))
      time(s"shuffle_shards", forced(
        Sampling.shuffleShards(c.select("doc_id"), "doc_id", seed = "sc", nShards = 8)))
      time(s"doc_embedding", forced(
        Featurize.meanPoolChunks(
          Chunker.fixedSize(c, "text", 32, 8, Seq("doc_id"))
            .select("doc_id", "chunk_index", "chunk"),
          "doc_id", "chunk_index", "chunk")))
      time(s"dup_ngrams", forced(
        TextAnalysis.duplicatedNgrams(c, "text", "doc_id", k = 5, minCount = 2, topK = 50)))
      time(s"split_grouped", forced(
        Sampling.groupSplit(c.select("doc_id", "source"), "source", seed = "sc")))
      time(s"embed_encoder", forced(
        Featurize.embedWithModel(c.select("doc_id", "text"), "text", keep = Seq("doc_id"),
          model = Featurize.encoderEmbedder())
          .select(col("doc_id"), hash(col("embedding")).as("h0"))))
      time(s"url_dedup", forced(Dedup.urlDedup(
        c.withColumn("url", concat(
          lit("HTTPS://WWW.Example"), (col("doc_id") % 2000).cast("string"),
          lit(".COM:443/Page/"), (col("doc_id") % 10000).cast("string"),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&sid="), (col("doc_id") % 5).cast("string"),
          lit("&b=2&a=1#sec"), col("doc_id").cast("string"))),
        "url", "doc_id")))
      time(s"bloom_decontaminate", forced(TextAnalysis.bloomDecontaminate(
        c, Tables.documents(spark, sfDir).filter(col("doc_id") < 10),
        "text", "doc_id")))
      time(s"text_entropy", forced(TextAnalysis.charEntropy(c, "text", "doc_id")))
      time(s"jsonl_roundtrip", {
        // gzip JSONL write + explicit-schema PERMISSIVE read at corpus
        // scale — the format-codec path, not just the fingerprint agg
        val p = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(java.nio.file.Files.createTempDirectory("graft_scale_jsonl_")).toString + "/d"
        c.select("doc_id", "lang", "source", "text")
          .write.option("compression", "gzip").mode("overwrite").json(p)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType), StructField("text", StringType),
          StructField("_corrupt", StringType)))
        forced(spark.read.schema(schema)
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
          .json(p)
          .groupBy("source").agg(
            count(lit(1)).as("n"),
            sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("bad")))
      })
      time(s"containment_pairs", forced(
        Dedup.containmentPairs(c, "text", "doc_id", tau = 0.8, shingleK = 5)))
      // boilerplate-heavy variant: every doc carries the SAME license
      // header, so its shingles are corpus-ubiquitous (df = corpus
      // size) — the case the pre-round-9 maxDf fail-fast ABORTED on;
      // the hot-shingle hybrid must complete with near-linear growth
      // (hotDf set below the replica count to force the hybrid path)
      val boiler = c.select(col("doc_id"),
        concat(lit("permission is hereby granted free of charge to any person obtaining a copy " +
          "of this software and associated documentation files to deal without restriction "),
          col("text")).as("text"))
      time(s"containment_hot", forced(
        Dedup.containmentPairs(boiler, "text", "doc_id", tau = 0.8, shingleK = 5,
          hotDf = 200L)))
      // replicated customer names: near-dup structure is intact within
      // a replica, while the replica salt keeps cross-replica pairs out
      // of threshold — output pairs scale linearly with the corpus
      val fuzzyNames = Tables.customer(spark, sfDir)
        .crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select(
          (col("c_custkey") + col("rep") * 10000000L).as("c_custkey"),
          concat(col("c_name"), lit("-r"), col("rep").cast("string")).as("c_name"))
      time(s"fuzzy_join", forced(
        Dedup.editDistanceJoin(fuzzyNames, "c_name", "c_custkey", maxDist = 1)))
      val e = Tables.embeddings(spark, sfDir)
      val embCorpus = e.crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"), col("embedding"))
      time(s"lsh_bucket_assign", embCorpus.select(col("vec_id"),
        Lsh.bucket(col("embedding"), 64, 16).as("bkt")))
      time(s"sq_probe", Sq.probe(
        embCorpus.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")),
        "embedding", "q_vec", "vec_id"))
      time(s"bq_probe", Bq.probe(
        embCorpus.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")),
        "embedding", "q_vec", "vec_id"))
      time(s"corpus_drift", TextAnalysis.corpusDrift(
        c.filter(col("doc_id") % 2 === 0), c.filter(col("doc_id") % 2 === 1), "text"))
      time(s"dedup_canonical", forced({
        val cl = Dedup.duplicateClusters(
          Dedup.minHashLshPairs(c, "text", "doc_id", threshold = 0.3))
        Dedup.canonicalPerCluster(c, cl, "text", "doc_id")
      }))
      // events interval join scaled on the events table (windows AND
      // points both replicate — candidate pressure grows on both sides)
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), expr("ts DIV 1000000").as("t"),
          col("event_type"), col("value"))
        .crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select((col("event_id") + col("rep") * 10000000L).as("event_id"),
          // shift each replica by a day so windows don't all overlap
          (col("t") + col("rep") * 86400000L).as("t"),
          col("event_type"), col("value"))
      time(s"events_interval_join", forced(Events.intervalJoin(
        ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("t"), col("value")),
        ev.filter(col("event_type") === "error")
          .select(col("event_id").as("win_id"), col("t").as("w_start"),
            (col("t") + 300000L).as("w_end")),
        "t", "w_start", "w_end", binWidth = 300000L)))
    }

    // IVF at scale-appropriate nlist (~√N): at 100 TB nlist must grow
    // with the corpus or each cell becomes corpus/nlist-huge and the
    // probe degenerates to a near-full scan. Growing nlist with √N
    // keeps per-probe scanned rows at nProbe·N/nlist = nProbe·√N —
    // sublinear with CONSTANT nProbe — while the partition-pruned
    // layout still skips whole files. The corpus replicates every base
    // vector into a TIGHT ball (first component jittered by ≤ 0.012) —
    // the regime IVF serves: neighborhoods small relative to cells.
    // Recall vs the exact top-10 must hold as N and nlist grow
    // together; factors start at 10 so the query's true top-10 is its
    // own planted ball, not the unstructured base corpus.
    for (factor <- Seq(maxFactor / 2, maxFactor).distinct.filter(_ >= 10)
         if section != "ivf2") {
      val e = Tables.embeddings(spark, sfDir)
      val embCorpus = e.crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"), col("embedding"))
      val perturbed = embCorpus.select(
        col("vec_id"),
        concat(
          array(element_at(col("embedding"), 1).cast("double") +
            pmod(col("vec_id"), lit(7)).cast("double") * lit(0.002)),
          graft.functions.VectorOps.toDouble(slice(col("embedding"), 2, 63))
        ).as("embedding"))
      val corpusVecs = perturbed.filter(col("vec_id") =!= 0)
      val nVecs = corpusVecs.count()
      val nlist = math.max(8, math.ceil(math.sqrt(nVecs.toDouble)).toInt)
      val ivfQuery = perturbed.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val tb = System.nanoTime()
      val ivfIdx = Ann.build(corpusVecs, "embedding", "vec_id", nlist, seed = 42)
      val ivfDir = java.nio.file.Files
        .createTempDirectory("graft_scale_ivf_").toString + "/idx"
      Ann.writeIndex(ivfIdx, ivfDir)
      println(f"[scale] ivf_build nlist=$nlist%-17d ${(System.nanoTime() - tb) / 1e9}%7.2f s  ($nVecs vecs)")
      val ivfCells = Ann.nearestCells(ivfIdx.centroids, Ann.queryVector(ivfQuery, "q_vec"), 4)
      def ivfProbe(dir: String): DataFrame =
        Ann.probe(Ann.liveLayout(spark, dir, "vec_id"), ivfQuery, "q_vec", "embedding",
          "vec_id", topK = 10, cells = ivfCells)
      time(f"ivf_probe nlist=$nlist nprobe=4", ivfProbe(ivfDir))
      val got = ivfProbe(ivfDir).collect().map(_.getLong(0)).toSet
      val want = Ann.exact(corpusVecs, ivfQuery, "embedding", "q_vec", "vec_id", 10)
        .collect().map(_.getLong(0)).toSet
      println(f"[scale] ivf_recall nlist=$nlist         ${(got & want).size / want.size.toDouble}%.2f")

      // Maintenance lifecycle at the same scale: append a 10% delta,
      // tombstone-delete 10%, probe the live face, compact, probe the
      // rewritten layout. What must hold as N grows: delete cost is
      // O(delete batch) (a sidecar append + one semi-joined stat scan —
      // never a partition rewrite), the live probe pays only a
      // broadcast anti-join over the pruned scan, and compaction is one
      // index-sized rewrite that restores the sidecar-free probe and
      // folds delta files back to O(nlist).
      def parquetFiles(dir: String): Long = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try w.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
        finally w.close()
      }
      val delta = perturbed
        .filter(col("vec_id") =!= 0)
        .select((col("vec_id") + 500000000L).as("vec_id"), col("embedding"))
        .filter(pmod(col("vec_id"), lit(100)) === 1) // ~1% arriving batch
      val ta = System.nanoTime()
      Ann.appendToIndex(ivfDir, delta, "embedding", ivfIdx.centroids)
      println(f"[scale] ivf_append 1pct delta        ${(System.nanoTime() - ta) / 1e9}%7.2f s")
      val td = System.nanoTime()
      Ann.deleteFromIndex(spark, ivfDir,
        corpusVecs.filter(pmod(col("vec_id"), lit(10)) === 3).select("vec_id"), "vec_id")
      println(f"[scale] ivf_delete 10pct             ${(System.nanoTime() - td) / 1e9}%7.2f s")
      time(f"ivf_probe_live nlist=$nlist", ivfProbe(ivfDir))
      val filesBefore = parquetFiles(ivfDir)
      val compDir = java.nio.file.Files
        .createTempDirectory("graft_scale_compact_").toString + "/idx"
      val tc = System.nanoTime()
      Ann.compact(spark, ivfDir, compDir, "vec_id")
      println(f"[scale] ivf_compact                  ${(System.nanoTime() - tc) / 1e9}%7.2f s  (files $filesBefore -> ${parquetFiles(compDir)})")
      time(f"ivf_probe_compacted nlist=$nlist", ivfProbe(compDir))
    }
    // Two-level fit at the same scales (section `ivf2`): the flat fit's
    // measured wall (PLANS.md) against the hierarchical one, same
    // corpus recipe, same nlist, recall at matched nProbe and at 2x.
    for (factor <- Seq(maxFactor / 2, maxFactor).distinct.filter(_ >= 10)
         if section == "ivf2") {
      val e = Tables.embeddings(spark, sfDir)
      val embCorpus = e.crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"), col("embedding"))
      val perturbed = embCorpus.select(
        col("vec_id"),
        concat(
          array(element_at(col("embedding"), 1).cast("double") +
            pmod(col("vec_id"), lit(7)).cast("double") * lit(0.002)),
          graft.functions.VectorOps.toDouble(slice(col("embedding"), 2, 63))
        ).as("embedding"))
      val corpusVecs = perturbed.filter(col("vec_id") =!= 0)
      val nVecs = corpusVecs.count()
      val nlist = math.max(8, math.ceil(math.sqrt(nVecs.toDouble)).toInt)
      val ivfQuery = perturbed.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val tb = System.nanoTime()
      val (idx2, _) = Ann.buildTwoLevel(corpusVecs, "embedding", "vec_id", nlist, seed = 42,
        rowCount = Some(nVecs))
      val dir2 = java.nio.file.Files
        .createTempDirectory("graft_scale_ivf2_").toString + "/idx"
      Ann.writeIndex(idx2, dir2)
      println(f"[scale] ivf2_build nlist=$nlist%-16d ${(System.nanoTime() - tb) / 1e9}%7.2f s  ($nVecs vecs)")
      def ivf2Probe(np: Int): DataFrame =
        Ann.probe(Ann.liveLayout(spark, dir2, "vec_id"), ivfQuery, "q_vec", "embedding",
          "vec_id", topK = 10,
          cells = Ann.nearestCells(idx2.centroids, Ann.queryVector(ivfQuery, "q_vec"), np))
      time(f"ivf2_probe nlist=$nlist nprobe=4", ivf2Probe(4))
      val want = Ann.exact(corpusVecs, ivfQuery, "embedding", "q_vec", "vec_id", 10)
        .collect().map(_.getLong(0)).toSet
      Seq(4, 8).foreach { np =>
        val got = ivf2Probe(np).collect().map(_.getLong(0)).toSet
        println(f"[scale] ivf2_recall nlist=$nlist np=$np   ${(got & want).size / want.size.toDouble}%.2f")
      }
    }
    spark.stop()
  }

  /** STRUCTURED-vector recall study (round-10 verdict #6): every recall
    * number so far rode the near-isotropic synthetic corpus — the
    * regime MOST favorable to coarse pruning and LEAST like real
    * encoder output. This generator produces the realistic regime:
    *
    *  - a mixture of `kClusters` Gaussians on the unit sphere with
    *    UNEVEN masses (u² draw — a few dominant topics, a long tail),
    *  - a SHARED low-rank factor A (dim × rank): all clusters elongate
    *    along the same `rank` directions — the anisotropy real encoder
    *    embeddings exhibit (Ethayarajh'19: a narrow cone, variance
    *    concentrated in few directions),
    *  - small isotropic residual noise.
    *
    * Deterministic per row (seed ⊕ splitmix of vec_id), so reruns and
    * partitioning changes reproduce the corpus bit-for-bit. On this
    * corpus the study measures recall@10 vs the exact top-10 for the
    * whole compressed-index matrix — IVF (nProbe sweep + scanned-rows
    * fraction), PQ-ADC, IVF+SQ8, residual IVF+SQ8, IVF+BQ, IVF+MRL —
    * at the registered operating points and one refine notch up, each
    * family over the SAME persisted layouts and fitted centroids.
    * Results + re-judged claims are tabled in PLANS.md.
    */
  /** FIRST-EXECUTION cost check (`section=firstexec`) — the round-11
    * cold-flag class: a freshly generated stage's first run executes in
    * the HotSpot interpreter until tiered compilation catches up, so a
    * query whose per-row work lives in big fresh codegen pays an
    * interpreted ceiling its SECOND run never shows (bloom_decontaminate
    * cold: 163 s of task CPU on the round-11 driver box vs 0.63 s warm,
    * same tasks/bytes — reproduced at 107 s on the builder box with
    * -XX:TieredStopAtLevel=0). Correctness suites cannot see this —
    * first-execution cost is a SCALE axis like plan size. This section
    * times pass 1 vs pass 2 of the decontaminate family plus a control,
    * with the JVM's JIT-time delta alongside, and FAILS (exit 1) if a
    * first pass exceeds `maxRatio`× its second pass AND 5 s absolute —
    * the regression bar for reintroducing a huge-first-execution stage.
    */
  def firstExecution(spark: SparkSession, sfDir: String, maxRatio: Double = 12.0): Unit = {
    def jit: Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
    }
    // same untimed warmup policy as Bench: tables + one bounded slice of
    // the shared text path, so the measurement isolates the QUERY's own
    // first-execution cost (its generated stages), not library warmup
    Tables.documents(spark, sfDir).count()
    Tables.embeddings(spark, sfDir).count()
    TextAnalysis.contamination(
      Tables.documents(spark, sfDir).limit(64),
      Tables.documents(spark, sfDir).limit(8), "text", "doc_id").count()
    var bad = List.empty[String]
    // One representative per family whose per-row work lives in big
    // generated stages. Round-13 note: Bench's untimed dry-run warmup
    // now pre-compiles EVERY query's stages, so the published cold
    // column can no longer surface a first-execution regression — this
    // list is the regression net for the class and must cover each
    // family the warmup covers. Extend via SPARK_GRAFT_FIRSTEXEC_QUERIES
    // (comma-separated) without a rebuild.
    val defaultList = Seq(
      "bloom_decontaminate", "decontaminate_spans", "contamination_check",
      "curation_report", "decontaminate_xlingual", "dup_ngrams",
      "dedup_minhash_incremental",
      // round-13 watch flags (docsim_incremental warm-list,
      // dedup_canonical cold) — gated HERE, where the JIT class is
      // measured directly, instead of riding the cross-round cold
      // comparison (round-13 verdict #8)
      "docsim_incremental", "dedup_canonical")
    val queryList = sys.env.get("SPARK_GRAFT_FIRSTEXEC_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(defaultList)
    for (name <- queryList) {
      val fn = SparkEntry.queries(name)
      val j0 = jit; val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val first = (System.nanoTime() - t0) / 1e9; val jFirst = jit - j0
      val t1 = System.nanoTime()
      fn(spark, sfDir).count()
      val second = (System.nanoTime() - t1) / 1e9
      val ratio = first / math.max(second, 1e-3)
      println(f"[scale] firstexec $name%-22s first ${first}%6.2f s (jit ${jFirst} ms)  second ${second}%6.2f s  ratio ${ratio}%5.1f")
      if (ratio > maxRatio && first - second > 5.0)
        bad ::= f"$name $ratio%.1fx (${first}%.1f s vs ${second}%.1f s)"
    }
    if (bad.nonEmpty) {
      System.err.println(s"[scale] FIRST-EXECUTION REGRESSION: ${bad.mkString("; ")}")
      sys.exit(1)
    }
  }

  /** Shared anisotropic corpus generator behind EVERY structured study
    * (recall envelope, lifecycle, deep-scale flagship) and the sizing
    * specs: `kClusters` unit centers with uneven masses (u² skew),
    * rank-`rank` correlated within-cluster structure (the low-rank
    * energy real embedding models produce — the regime where
    * global-codebook ADC collapses), Gaussian per-row noise. Every
    * value is seeded per row id, so any two callers at the same
    * (n, dim, rotM) generate bit-identical corpora — the lifecycle and
    * sizing numbers stay coupled to the recall-study corpus by
    * construction instead of by copy-paste (round-14 advice: the three
    * inlined copies had already started to drift on the dim/m knobs).
    * `rotM` applies a seeded orthogonal rotation at generation — the
    * OPQ-random baseline (cosine and neighbor sets are
    * rotation-invariant, so recall deltas isolate subspace-energy
    * effects).
    */
  def structuredCorpus(
      spark: SparkSession,
      n: Long,
      dim: Int,
      rotM: Array[Array[Double]] = null,
      kClusters: Int = 32,
      rank: Int = 8,
      zScale: Double = 0.15,
      noise: Double = 0.05,
      seed: Long = 7L): DataFrame = {
    import spark.implicits._
    val rnd0 = new java.util.Random(seed)
    def unit(v: Array[Double]): Array[Double] = {
      val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn)
    }
    val centers = Array.fill(kClusters)(unit(Array.fill(dim)(rnd0.nextGaussian())))
    val aMat = Array.fill(dim)(Array.fill(rank)(rnd0.nextGaussian() / math.sqrt(dim.toDouble)))
    val bc = spark.sparkContext.broadcast((centers, aMat, rotM))
    spark.range(0, n, 1, 64).mapPartitions { it =>
      val (cents, a, rm) = bc.value
      val kC = cents.length
      val rk = a(0).length
      val d = cents(0).length
      it.map { i =>
        val r = new java.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))
        val u = r.nextDouble()
        val c = math.min(kC - 1, (u * u * kC).toInt) // uneven masses
        val z = Array.fill(rk)(r.nextGaussian())
        val v = new Array[Float](d)
        var j = 0
        while (j < d) {
          var s = cents(c)(j)
          var t = 0
          while (t < rk) { s += a(j)(t) * z(t) * zScale; t += 1 }
          v(j) = (s + noise * r.nextGaussian()).toFloat
          j += 1
        }
        val out =
          if (rm == null) v
          else {
            val w = new Array[Float](v.length)
            var p = 0
            while (p < v.length) {
              var s2 = 0.0; var q = 0
              while (q < v.length) { s2 += rm(p)(q) * v(q); q += 1 }
              w(p) = s2.toFloat
              p += 1
            }
            w
          }
        (i, out.toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  def structuredStudy(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val dim = 64; val seed = 7L
    val vecs = structuredCorpus(spark, n, dim, seed = seed)
    val dir = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(java.nio.file.Files.createTempDirectory("graft_structured_")).toString
    val corpusPath = dir + "/vecs"
    vecs.write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    println(s"[structured] corpus n=$n (structuredCorpus defaults: 32 clusters, rank 8)")

    // 8 queries: perturbed copies of corpus members spread across the id
    // range (so across clusters) — realistic "near but not in corpus"
    val qids = (0 until 8).map(q => (n / 8) * q + 13L)
    val qvecs = corpus.filter(col("vec_id").isin(qids: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val rq = new java.util.Random(seed + 99)
    val queries = qids.map { id =>
      id -> qvecs(id).map(x => x + (0.02 * rq.nextGaussian()).toFloat)
    }
    def qDf(v: Array[Float]): DataFrame = Seq(Tuple1(v.toSeq)).toDF("q_vec")

    val truth: Map[Long, Set[Long]] = queries.map { case (id, v) =>
      id -> Ann.exact(corpus, qDf(v), "embedding", "q_vec", "vec_id", 10)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    println("[structured] exact ground truth done (8 queries)")

    def recall(name: String)(probe: Array[Float] => Set[Long]): Unit = {
      val t0 = System.nanoTime()
      val rs = queries.map { case (id, v) => (truth(id) & probe(v)).size / 10.0 }
      println(f"[structured] recall $name%-32s ${rs.sum / rs.size}%.3f  " +
        f"(per-q ${rs.map(r => f"$r%.1f").mkString(",")})  ${(System.nanoTime() - t0) / 1e9}%5.1f s")
    }

    val nlist = math.max(64, math.ceil(math.sqrt(n.toDouble)).toInt)
    val tb = System.nanoTime()
    val (idx, _) = Ann.buildTwoLevel(corpus, "embedding", "vec_id", nlist,
      seed = 42, rowCount = Some(n))
    println(f"[structured] ivf two-level fit nlist=$nlist  ${(System.nanoTime() - tb) / 1e9}%.1f s")
    val ivfDir = dir + "/ivf"
    Ann.writeIndex(idx, ivfDir)
    val sizes = spark.read.parquet(ivfDir).groupBy("cluster").count()
      .collect().map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap

    for (np <- Seq(1, 4, 8, 16)) {
      var scanned = 0L
      recall(s"ivf nProbe=$np") { v =>
        val cells = Ann.nearestCells(idx.centroids, v.map(_.toDouble), np)
        scanned += cells.map(c => sizes.getOrElse(c, 0L)).sum
        Ann.probe(Ann.liveLayout(spark, ivfDir, "vec_id"), qDf(v), "q_vec", "embedding",
            "vec_id", topK = 10, cells = cells)
          .collect().map(_.getLong(0)).toSet
      }
      println(f"[structured]   scanned ${100.0 * scanned / (8.0 * n)}%.3f%% of corpus rows per query")
    }

    val model = Pq.train(corpus, "embedding", "vec_id", m = 8, codes = 16)
    val encoded = Pq.encode(corpus, "embedding", model)
    for (rf <- Seq(10, 25))
      recall(s"pq m=8x16 adc refine=$rf") { v =>
        Pq.adcProbe(encoded, model, qDf(v), "q_vec", "embedding", "vec_id",
            k = 10, refine = 10 * rf)
          .collect().map(_.getLong(0)).toSet
      }

    val resModel = Pq.trainResidual(corpus, "embedding", "vec_id", idx.centroids,
      m = 8, codes = 16)
    val pqrDir = dir + "/pqres"
    Pq.writeIvfPqResidual(pqrDir, corpus, "embedding", "vec_id", idx.centroids, resModel)
    for (rf <- Seq(10, 25))
      recall(s"ivfpq_residual nProbe=4 refine=$rf") { v =>
        Pq.probeIvf(spark, pqrDir, idx.centroids, resModel, qDf(v),
            "q_vec", "embedding", "vec_id", nProbe = 4, k = 10, refineFactor = rf)
          .collect().map(_.getLong(0)).toSet
      }

    // Round-12 quality dial (verdict #5): the measured 0.70-vs-0.89 gap
    // to the IVF ceiling at 8×16 is the CODE BUDGET. Operating points:
    // m=16 codes=16 spends 16 nibble-codes (8 B/vec packed, here 16 B
    // unpacked ints), codes=256 spends byte codes (the FAISS default
    // granularity), 16×256 both. Bytes/vec vs float32's 256 B: 8×16 =
    // 8 B (1/32), 16×16 = 16 B (1/16), 8×256 = 8 B (1/32, better
    // centers), 16×256 = 16 B (1/16).
    for ((mm, cc) <- Seq((16, 16), (8, 256), (16, 256))) {
      val rm = Pq.trainResidual(corpus, "embedding", "vec_id", idx.centroids,
        m = mm, codes = cc)
      val d = dir + s"/pqres_${mm}x$cc"
      Pq.writeIvfPqResidual(d, corpus, "embedding", "vec_id", idx.centroids, rm)
      for (rf <- Seq(10, 25))
        recall(s"ivfpq_residual ${mm}x$cc nP=4 refine=$rf") { v =>
          Pq.probeIvf(spark, d, idx.centroids, rm, qDf(v),
              "q_vec", "embedding", "vec_id", nProbe = 4, k = 10, refineFactor = rf)
            .collect().map(_.getLong(0)).toSet
        }
    }

    def cells4(v: Array[Float]): Seq[Int] = Ann.nearestCells(idx.centroids, v.map(_.toDouble), 4)
    val sqDir = dir + "/sq"
    Sq.writeIvfSq(sqDir, corpus, "embedding", "vec_id", idx.centroids)
    for (rf <- Seq(40, 100))
      recall(s"ivfsq nProbe=4 refine=$rf") { v =>
        Sq.probeIvf(spark, sqDir, Some(corpus), qDf(v), "q_vec", "vec_id", "embedding",
            cells = cells4(v), k = 10, refine = rf)
          .collect().map(_.getLong(0)).toSet
      }

    for (rf <- Seq(40, 100))
      recall(s"ivfsq_residual nProbe=4 refine=$rf") { v =>
        Sq.residualProbe(corpus, qDf(v), idx.centroids,
            "embedding", "q_vec", "vec_id", cells4(v), k = 10, refine = rf)
          .collect().map(_.getLong(0)).toSet
      }

    val bqDir = dir + "/bq"
    Bq.writeIvfBq(bqDir, corpus, "embedding", "vec_id", idx.centroids)
    for (rf <- Seq(40, 100))
      recall(s"ivfbq nProbe=4 refine=$rf") { v =>
        Bq.probeIvf(spark, bqDir, Some(corpus), qDf(v), "q_vec", "vec_id", "embedding",
            cells = cells4(v), k = 10, refine = rf)
          .collect().map(_.getLong(0)).toSet
      }

    val rot = Bq.rotationMatrix(dim, seed = 7L)
    val bqrDir = dir + "/bqrot"
    Bq.writeIvfBqRotated(bqrDir, corpus, "embedding", "vec_id", idx.centroids, rot)
    for (rf <- Seq(40, 100))
      recall(s"ivfbq_rotated nProbe=4 refine=$rf") { v =>
        Bq.probeIvf(spark, bqrDir, Some(corpus), qDf(v), "q_vec", "vec_id", "embedding",
            cells = cells4(v), rot = Some(rot), k = 10, refine = rf)
          .collect().map(_.getLong(0)).toSet
      }

    val mrlDir = dir + "/mrl"
    Matryoshka.writeIvfMrl(mrlDir, corpus, "embedding", "vec_id", idx.centroids, dPrefix = 16)
    for (rf <- Seq(40, 100))
      recall(s"ivfmrl d'=16 nProbe=4 refine=$rf") { v =>
        Matryoshka.probeIvf(spark, mrlDir, Some(corpus), qDf(v), "q_vec", "vec_id",
            "embedding", cells = cells4(v), dPrefix = 16, k = 10, refine = rf)
          .collect().map(_.getLong(0)).toSet
      }
  }

  /** LIFECYCLE-at-scale study (`section=lifecycle2l`): the round-14
    * maintenance verbs of the two-level residual layout, timed at
    * n = maxFactor × 100k on the structured corpus — the numbers that
    * justify delta maintenance over the reference's rebuild-per-upsert
    * (store.py:197). Expected shape, which the printed walls verify:
    *
    *  - base build = the one-time cost (fit + encode + clustered write);
    *  - APPEND of a 10% delta costs ~10% of the base write (assignment
    *    + encode are per-row; the clustered exchange ships delta rows
    *    only) — NOT a rebuild;
    *  - DELETE of 1% is a coalesced kilobyte-scale sidecar append —
    *    milliseconds, corpus-size-independent;
    *  - the LIVE batch probe pays the tombstone exclusion INSIDE the
    *    pruned scan (inline NOT-IN below 65536 ids — no extra job);
    *  - COMPACT rewrites live rows from the layout itself (no corpus
    *    re-read, no re-encode) ≈ the base write wall, amortized over
    *    however many append/delete cycles preceded it;
    *  - probe(compacted) == probe(live) row for row (asserted).
    */
  def lifecycleStudy(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val dim = sys.env.get("SPARK_GRAFT_2L_DIM").map(_.toInt).getOrElse(64)
    val pqM = sys.env.get("SPARK_GRAFT_2L_M").map(_.toInt).getOrElse(8)
    val seed = 7L
    // SAME generator (and seed) as the recall studies — the lifecycle
    // numbers are measured on the recall-study corpus by construction
    val vecs = structuredCorpus(spark, n, dim, seed = seed)
    val dir = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory("graft_lifecycle2l_")).toString
    vecs.write.parquet(dir + "/vecs")
    val corpus = spark.read.parquet(dir + "/vecs")
    val base = corpus.filter(col("vec_id") % 10 =!= 7)
    val delta = corpus.filter(col("vec_id") % 10 === 7)
    val nBase = (n * 9) / 10
    println(s"[lifecycle2l] corpus n=$n (base ~$nBase, delta ~${n / 10}, dim=$dim, m=$pqM)")

    val nlist = math.max(64, math.ceil(math.sqrt(nBase.toDouble)).toInt)
    val tFit = System.nanoTime()
    val (idx, two) = Ann.buildTwoLevel(base, "embedding", "vec_id", nlist,
      seed = 42, rowCount = Some(nBase))
    val resModel = Pq.trainResidual(base, "embedding", "vec_id", idx.centroids,
      m = pqM, codes = 256)
    println(f"[lifecycle2l] base fit (two-level nlist=$nlist + residual ${pqM}x256)  ${(System.nanoTime() - tFit) / 1e9}%.1f s")

    val layout = dir + "/life"
    val tWrite = System.nanoTime()
    Pq.writeIvfPqResidualAssigned(layout, Ann.assignTwoLevel(base, "embedding", two),
      "embedding", "vec_id", idx.centroids, resModel)
    val wWrite = (System.nanoTime() - tWrite) / 1e9
    println(f"[lifecycle2l] base build (assign+encode+clustered write, ~$nBase rows)  $wWrite%.1f s")

    val tApp = System.nanoTime()
    Pq.appendIvfPqResidualAssigned(layout, Ann.assignTwoLevel(delta, "embedding", two),
      "embedding", "vec_id", idx.centroids, resModel)
    val wApp = (System.nanoTime() - tApp) / 1e9
    println(f"[lifecycle2l] APPEND 10%% delta (~${n / 10} rows)  $wApp%.1f s  (${100 * wApp / wWrite}%.0f%% of base build — O(delta), not a rebuild)")

    val delIds = corpus.filter(col("vec_id") % 100 === 3).select("vec_id")
    val delCount = delIds.distinct().count()
    val tDel = System.nanoTime()
    Pq.deleteFromIndex(spark, layout, delIds, "vec_id")
    println(f"[lifecycle2l] DELETE 1%% ($delCount ids -> tombstone sidecar)  ${(System.nanoTime() - tDel) / 1e9}%.2f s  (corpus-size-independent)")

    val qids = (0 until 8).map(q => (n / 8) * q + 13L)
    val qvecs = corpus.filter(col("vec_id").isin(qids: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val rq = new java.util.Random(seed + 99)
    val qRows = qids.map { id =>
      org.apache.spark.sql.Row(id, qvecs(id).map(x => x + (0.02 * rq.nextGaussian()).toFloat).toSeq)
    }
    val qLocal = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(qRows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("q_vec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = false), nullable = false))))
    def probe(d: String): Seq[(Long, Long, Double, Long)] = {
      Pq.probeIvf(spark, d, idx.centroids, resModel,
          Ann.queryCellsLocal(qLocal, "q_vec", "query_id", idx.centroids, nProbe = 8),
          "q_vec", "embedding", "vec_id", nProbe = 8, k = 10)
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos_sim"),
          r.getAs[Long]("rk")))
        .sortBy(t => (t._1, t._4))
    }
    probe(layout) // warm codegen/listing off the clock
    val tLive = System.nanoTime()
    val live = probe(layout)
    // label derived from the ACTUAL tombstone count vs the ACTUAL inline
    // limit (Pq.TombstoneInlineLimit), so a limit change can never make
    // the study log misreport which exclusion path was measured
    val tombPath =
      if (delCount <= Pq.TombstoneInlineLimit)
        s"inline NOT-IN set ($delCount ids <= inline limit ${Pq.TombstoneInlineLimit})"
      else
        s"broadcast anti-join ($delCount ids past the inline limit ${Pq.TombstoneInlineLimit})"
    println(f"[lifecycle2l] LIVE batch probe (8 queries, tombstones via $tombPath)  ${(System.nanoTime() - tLive) / 1e9}%.1f s")
    require(live.nonEmpty && live.forall(_._2 % 100 != 3),
      "a tombstoned id reached the live probe results")
    val deltaHits = live.count(_._2 % 10 == 7)
    println(s"[lifecycle2l] appended-delta rows in the 80 results: $deltaHits (~10% of corpus is delta)")

    val tComp = System.nanoTime()
    Pq.compact(spark, layout, dir + "/compacted", "vec_id")
    println(f"[lifecycle2l] COMPACT (live rewrite from the layout, no re-encode)  ${(System.nanoTime() - tComp) / 1e9}%.1f s")
    val comp = probe(dir + "/compacted")
    require(comp == live, "probe(compacted) != probe(live)")
    println("[lifecycle2l] probe(compacted) == probe(live): OK (80 rows bit-identical)")

    // AUTO-MAINTENANCE POLICY (round-15): amortizing the O(nlist)
    // per-append file floor. Small delta batches (0.1% each) land on
    // the compacted layout under maintainLayout(maxDeltaAppends = 8):
    // files climb by ~nlist per append until the policy folds them
    // back, so read amplification stays bounded at <= 8 delta file
    // sets while per-append cost stays O(delta) + the floor.
    def fileCount(d: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val mnt = dir + "/compacted"
    println(f"[lifecycle2l] maintain start: ${fileCount(mnt)} parquet files (post-compact floor)")
    for (b <- 0 until 12) {
      val slice = corpus.filter(col("vec_id") % 1000 === b)
      val tA = System.nanoTime()
      Pq.appendIvfPqResidualAssigned(mnt, Ann.assignTwoLevel(slice, "embedding", two),
        "embedding", "vec_id", idx.centroids, resModel)
      val wA = (System.nanoTime() - tA) / 1e9
      val tM = System.nanoTime()
      val rep = Pq.maintainLayout(spark, mnt,
        (s, o) => Pq.compact(spark, s, o, "vec_id"), maxDeltaAppends = 8)
      val wM = (System.nanoTime() - tM) / 1e9
      println(f"[lifecycle2l] maintain batch $b%2d: append $wA%5.1f s, " +
        f"deltas ${rep.deltaAppends}%2d, compacted=${rep.compacted}%-5s " +
        f"(policy $wM%5.1f s), files ${fileCount(mnt)}")
    }
    val maintained = probe(mnt)
    require(maintained.nonEmpty, "probe over the maintained layout came back empty")
    println("[lifecycle2l] maintained-layout probe OK — the fold is invisible to readers (same path)")
  }

  /** FLAGSHIP deep-scale row (`section=structured2l`, round-13 verdict
    * #8): the two-level coarse quantizer → residual 8×256 codebooks →
    * hierarchically-assigned persisted layout → residual-ADC probe,
    * measured END TO END at n = maxFactor × 100k on the same
    * anisotropic generator as [[structuredStudy]] (whose 1M row chose
    * the 8×256 operating point). Run at 5–10M to confirm the fit-cost
    * curve (two-level ≈ 512·N^0.75 sample work vs flat 256·N) and the
    * recall hold past the studied point. Prints fit/write wall,
    * scan fraction, and recall@10 at nProbe ∈ {4, 8} × refine ∈
    * {10, 25}.
    */
  def structuredTwoLevelStudy(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    // SPARK_GRAFT_2L_DIM widens the corpus off the 64-dim test point —
    // production embeddings are 384-1024, and the ADC/encode cost model
    // (m=8 subspaces of dim/8 each) plus the recall envelope must be
    // validated at ≥128 (round-13 verdict #5). The generator, fit,
    // layout and probes are all dim-generic already.
    val dim = sys.env.get("SPARK_GRAFT_2L_DIM").map(_.toInt).getOrElse(64)
    // SPARK_GRAFT_2L_M scales the PQ subspace count with the width —
    // the round-14 dim=128 run measured recall 0.86 → 0.60 at FIXED
    // m=8 (same 8-byte budget across 2× the dims halves the
    // dims-per-subspace precision); production sizing holds
    // dims-per-subspace ~8 constant, i.e. m = dim/8.
    val pqM = sys.env.get("SPARK_GRAFT_2L_M").map(_.toInt).getOrElse(8)
    val rotM: Array[Array[Double]] =
      if (sys.env.get("SPARK_GRAFT_2L_ROT").contains("1")) Bq.rotationMatrix(dim, seed = 11L)
      else null
    val seed = 7L
    // SPARK_GRAFT_2L_ROT=1 rotates at generation — the OPQ-random
    // baseline (Ge et al.'s free variant); see structuredCorpus's doc.
    val vecs = structuredCorpus(spark, n, dim, rotM = rotM, seed = seed)
    if (rotM != null) println(s"[structured2l] ROTATED corpus (seeded orthogonal, dim=$dim) — OPQ-random baseline")
    val dir = graft.streaming.StreamPipeline.deleteRecursivelyOnExit(java.nio.file.Files.createTempDirectory("graft_structured2l_")).toString
    val corpusPath = dir + "/vecs"
    vecs.write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    println(s"[structured2l] corpus n=$n (same generator as the 1M study)")

    val qids = (0 until 8).map(q => (n / 8) * q + 13L)
    val qvecs = corpus.filter(col("vec_id").isin(qids: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val rq = new java.util.Random(seed + 99)
    val queries = qids.map { id =>
      id -> qvecs(id).map(x => x + (0.02 * rq.nextGaussian()).toFloat)
    }
    def qDf(v: Array[Float]): DataFrame = Seq(Tuple1(v.toSeq)).toDF("q_vec")
    val truth: Map[Long, Set[Long]] = queries.map { case (id, v) =>
      id -> Ann.exact(corpus, qDf(v), "embedding", "q_vec", "vec_id", 10)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    println("[structured2l] exact ground truth done (8 queries)")

    val nlist = math.max(64, math.ceil(math.sqrt(n.toDouble)).toInt)
    val tFit = System.nanoTime()
    val (idx, two) = Ann.buildTwoLevel(corpus, "embedding", "vec_id", nlist,
      seed = 42, rowCount = Some(n))
    println(f"[structured2l] two-level fit nlist=$nlist  ${(System.nanoTime() - tFit) / 1e9}%.1f s")

    val tModel = System.nanoTime()
    val resModel = Pq.trainResidual(corpus, "embedding", "vec_id", idx.centroids,
      m = pqM, codes = 256)
    println(f"[structured2l] residual ${pqM}x256 train  ${(System.nanoTime() - tModel) / 1e9}%.1f s")

    val layout = dir + s"/pqres2l_${pqM}x256"
    val tWrite = System.nanoTime()
    Pq.writeIvfPqResidualAssigned(layout,
      Ann.assignTwoLevel(corpus, "embedding", two),
      "embedding", "vec_id", idx.centroids, resModel)
    println(f"[structured2l] hierarchical-assign + encode + partitioned write  ${(System.nanoTime() - tWrite) / 1e9}%.1f s")
    val sizes = spark.read.parquet(layout).groupBy("cluster").count()
      .collect().map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap

    for (np <- Seq(4, 8, 16); rf <- Seq(10, 25)) {
      var scanned = 0L
      val t0 = System.nanoTime()
      val rs = queries.map { case (id, v) =>
        val cells = Ann.nearestCells(idx.centroids, v.map(_.toDouble), np)
        scanned += cells.map(c => sizes.getOrElse(c, 0L)).sum
        val got = Pq.probeIvf(spark, layout, idx.centroids, resModel, qDf(v),
            "q_vec", "embedding", "vec_id", nProbe = np, k = 10, refineFactor = rf)
          .collect().map(_.getLong(0)).toSet
        (truth(id) & got).size / 10.0
      }
      println(f"[structured2l] recall 2l+pqr ${pqM}x256 nP=$np%-2d refine=$rf%-3d " +
        f"${rs.sum / rs.size}%.3f  (per-q ${rs.map(r => f"$r%.1f").mkString(",")})  " +
        f"scan ${100.0 * scanned / (8.0 * n)}%.3f%%  ${(System.nanoTime() - t0) / 1e9}%5.1f s")
    }

    // BATCH face at the same scale — the registered serving shape
    // (Pq.probeIvf = ann_two_level_pqr's probe), which is
    // also the TopKPerKey partial-heap path: all 8 queries in ONE
    // pruned scan, per-(query, cell) ADC tables broadcast, map-side
    // heaps bounding the shuffle. Recall must match the corresponding
    // single-query points; wall amortizes the scan across the batch.
    {
      val qRows = queries.map { case (id, v) => (id, v.toSeq) }
      val queriesDf = spark.createDataFrame(
        spark.sparkContext.parallelize(qRows.map(r => org.apache.spark.sql.Row(r._1, r._2)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("q_vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType, containsNull = false), nullable = false))))
        .cache()
      queriesDf.count()
      val qLocal = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(qRows.map(r => org.apache.spark.sql.Row(r._1, r._2)): _*)),
        queriesDf.schema)
      for (np <- Seq(8); rf <- Seq(25)) {
        val t0 = System.nanoTime()
        val got = Pq.probeIvf(spark, layout, idx.centroids, resModel,
            Ann.queryCellsLocal(qLocal, "q_vec", "query_id", idx.centroids, nProbe = np),
            "q_vec", "embedding", "vec_id", nProbe = np, k = 10, refineFactor = rf)
          .collect().groupBy(_.getLong(0)).map { case (q, rows) =>
            q -> rows.map(_.getLong(1)).toSet
          }
        val rs = queries.map { case (id, _) => (truth(id) & got.getOrElse(id, Set.empty)).size / 10.0 }
        println(f"[structured2l] BATCH recall 2l+pqr ${pqM}x256 nP=$np refine=$rf " +
          f"${rs.sum / rs.size}%.3f  (per-q ${rs.map(r => f"$r%.1f").mkString(",")})  " +
          f"all 8 queries in ${(System.nanoTime() - t0) / 1e9}%5.1f s (one pruned scan)")
      }
    }
  }
}
