package graft

import graft.operators.{Ann, Featurize, Search}
import graft.streaming.StreamPipeline
import org.apache.spark.sql.functions._

class StreamPipelineSpec extends SparkSpec {

  test("ingestAndProbe: streamed index probe equals the batch-built probe on the same corpus") {
    val docs = Tables.documents(spark, sf)
    val emb = Featurize.hashedBow(docs, "text", 64, Seq("doc_id"))
    val idx = Ann.buildCached(sf + "#hbow", emb, "embedding", "doc_id", k = 8, seed = 42)

    val streamedDir = tempDir("graft_sp_test").toString + "/idx"
    val got = StreamPipeline.ingestAndProbe(
      spark, sf, streamedDir, idx.centroids, "spark filter join stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // batch twin: same centroids, same corpus, written by the batch path
    val batchDir = tempDir("graft_sp_batch").toString + "/idx"
    Ann.appendToIndex(batchDir, emb.select("doc_id", "embedding"), "embedding", idx.centroids)
    val queryDf = Featurize.hashedBow(
        spark.range(1).select(lit("spark filter join stream").as("text"), col("id")),
        "text", 64, Seq("id"))
      .select(col("embedding").as("q_vec"))
    val expected = Ann.probe(Ann.liveLayout(spark, batchDir, "doc_id"), queryDf, "q_vec",
        "embedding", "doc_id", topK = 10, cells = cellsOf(idx.centroids, queryDf, 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(got == expected, s"streamed probe diverged:\n$got\nvs\n$expected")
    assert(got.length == 10)
    // descending score, id tie-break — deterministic output
    assert(got.map(_._3).sliding(2).forall(p => p.head >= p.last))
  }

  test("appendToAnnIndex lands the base layout's schema: every data file's footer is equal") {
    val e = Tables.embeddings(spark, sf)
    val idx = Ann.build(e.filter(col("vec_id") % 10 =!= 7), "embedding", "vec_id", k = 10,
      seed = 42)
    val dir = tempDir("graft_sp_schema").toString + "/idx"
    Ann.writeIndex(idx, dir)
    StreamPipeline.appendToAnnIndex(spark, sf, dir, idx.centroids,
      deltaFilter = col("vec_id") % 10 === 7)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val files = root.getFileSystem(conf).listFiles(root, true)
    val schemas = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.toString.contains("/_"))
      .map { p =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try p -> reader.getFooter.getFileMetaData.getSchema finally reader.close()
      }.toSeq
    assert(schemas.size > 10, s"base and delta files expected, got ${schemas.size}")
    assert(schemas.map(_._2).distinct.size == 1,
      s"mixed footer schemas:\n${schemas.map { case (p, s) => s"${p.getName}: $s" }.mkString("\n")}")
    assert(spark.read.parquet(dir).count() == e.count())
    // a delta without one of the layout's columns fails, naming it
    val err = intercept[IllegalArgumentException](
      Ann.appendToIndex(dir, e.select("vec_id", "embedding"), "embedding", idx.centroids))
    assert(err.getMessage.contains("`label`"), err.getMessage)
    // a delta holding one of them under another type fails, naming the
    // column and both types
    val typed = intercept[IllegalArgumentException](Ann.appendToIndex(dir,
      e.select(col("vec_id"), col("embedding"), col("label").cast("string").as("label")),
      "embedding", idx.centroids))
    Seq("`label`", "string", "int").foreach(w => assert(typed.getMessage.contains(w), typed.getMessage))
    assert(spark.read.parquet(dir).count() == e.count(), "a refused delta lands nothing")
  }

  test("decontaminateAndLand equals the batch decontamination over the same corpus") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") < 10)
    val landDir = tempDir("graft_decon_spec").toString + "/landed"
    val streamed = StreamPipeline.decontaminateAndLand(spark, sf, bench, landDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val batch = graft.operators.Dedup
      .decontaminateSpans(docs.filter(col("doc_id") >= 10), bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.keys.foreach(k => assert(streamed(k) == batch(k), s"doc $k diverged"))
    assert(streamed.values.exists(_._2 > 0), "some contaminated doc must have dropped tokens")
  }

  test("driftSnapshot: monoid partials merge to the batch drift over the same split") {
    val streamed = StreamPipeline.driftSnapshot(spark, sf).collect().head
    val d = Tables.documents(spark, sf).select("doc_id", "text")
    val batch = graft.operators.TextAnalysis.corpusDrift(
      d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1), "text")
      .collect().head
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // monoid merge directly: two arbitrary splits of B sum to B's counts
    val b = d.filter(col("doc_id") % 2 === 1)
    val merged = graft.operators.TextAnalysis
      .driftTermCounts(b.filter(col("doc_id") < 250), "text", "cb")
      .unionByName(graft.operators.TextAnalysis
        .driftTermCounts(b.filter(col("doc_id") >= 250), "text", "cb"))
      .groupBy("term").agg(sum("cb").as("cb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = graft.operators.TextAnalysis.driftTermCounts(b, "text", "cb")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == oneShot)
  }

  test("intervalJoinSnapshot equals the batch interval join") {
    val streamed = StreamPipeline.intervalJoinSnapshot(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = Queries.eventsIntervalJoin(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty, "some error window must contain clicks")
  }

  test("upsertCdc: streamed CDC segments merge to the batch upsert→revise→delete flow") {
    val store = new graft.operators.ChunkStore(
      tempDir("graft_cdc_spec").toString + "/cs",
      "doc_id")
    val got = StreamPipeline.upsertCdc(spark, sf, store)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // batch replay of the same modification rules straight off the table
    val expected = Tables.documents(spark, sf)
      .select(
        col("doc_id"),
        when(col("doc_id") % 7 === 3, lit("xx")).otherwise(col("lang")).as("lang"),
        md5(when(col("doc_id") % 7 === 3, upper(col("text"))).otherwise(col("text")))
          .as("content_hash"))
      .filter(col("doc_id") % 13 =!= 5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == expected)
    assert(got.exists(_._2 == "xx"), "revised docs must surface the revision")
    assert(store.versions(spark).size >= 3, "CDC must land as multiple manifest commits")
  }

  test("tokenBudgetSnapshot equals the batch per-source BPE aggregation") {
    val got = StreamPipeline.tokenBudgetSnapshot(spark, sf, budget = 3000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val batch = graft.streaming.EventStreams
      .tokenAccounting(Tables.documents(spark, sf).select("doc_id", "source", "text"), 3000L)
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("stream_ann: micro-batch delta appends land the same index as the one-shot append") {
    val streamed = Queries.streamAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val oneShot = Queries.annIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed == oneShot,
      s"stream-fed layout diverges from the batch append:\n$streamed\n$oneShot")
    // the streamed delta is actually visible in the probed top-k corpus
    val path = graft.operators.LayoutCache.getOrWrite(s"annidx_stream:$sf")(_ =>
      fail("must be memoized"))
    assert(spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 7).count() > 0,
      "streamed delta rows must land in the layout")
  }

  test("concurrently: a failed action rethrows only after every sibling action has finished") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // the sibling stands in for a parquet append still landing files: it
    // is running when the other action fails, and only the test thread
    // releases it early — so it can finish before `concurrently` returns
    // only if `concurrently` waits for it (up to the 2 s release timeout)
    val siblingRunning = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      StreamPipeline.concurrently(
        () => { siblingRunning.await(); throw new IllegalStateException("write failed") },
        () => {
          siblingRunning.countDown()
          release.await(2, TimeUnit.SECONDS)
          siblingDone.set(true)
        })
    }
    val finishedBeforeReturn = siblingDone.get()
    release.countDown()
    assert(err.getMessage == "write failed")
    assert(finishedBeforeReturn, "concurrently returned while a sibling action was still running")
  }
}
