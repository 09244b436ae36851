package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streamed funnel state equals the batch funnel across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stages = Seq("view", "click", "purchase")
    // (user, ts, type) — per-user in-order; split mid-chain across batches
    val batch1 = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"),
      (2L, 5L, "click"), (2L, 10L, "view"),
      (3L, 10L, "view"))
    val batch2 = Seq(
      (1L, 30L, "purchase"),            // completes u1's chain started in batch 1
      (2L, 20L, "purchase"),            // u2 never had click-after-view → not counted
      (3L, 20L, "click"), (3L, 15L, "purchase")) // u3's purchase precedes its click
    val input = MemoryStream[(Long, Long, String)]
    val name = "funnel_parity_test"
    val q = graft.streaming.StreamPipeline.funnelProgress(input.toDS(), stages)
      .toDF("user_id", "reached")
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Update()).start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).groupBy("user_id").agg(org.apache.spark.sql.functions.max("reached").as("r"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // tuple order is (user, ts, type): label the batch DF accordingly
    val batchCounts = graft.operators.Events.funnel(
      (batch1 ++ batch2).toDF("user_id", "ts", "event_type"),
      "user_id", "event_type", "ts", stages)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap // stage_index -> users
    val streamedCounts = stages.indices.map(i =>
      i.toLong -> streamed.values.count(_ > i).toLong).toMap
    assert(streamedCounts == batchCounts,
      s"streamed $streamedCounts vs batch $batchCounts")
    // the mid-chain split is genuinely exercised: u1 reaches stage 3
    assert(streamed(1L) == 3)
  }

  test("streamed retention state equals the batch retention across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // (user, day) — per-user in-order; users span batches, days repeat
    val batch1 = Seq(
      (1L, 10L), (1L, 10L), (1L, 11L), // u1: cohort 10, revisit day 11
      (2L, 12L),                       // u2: cohort 12
      (3L, 10L))
    val batch2 = Seq(
      (1L, 13L),            // u1 active again at offset 3
      (1L, 11L),            // replayed (user, day) must NOT double-count
      (2L, 12L), (2L, 14L), // u2 same-day repeat + offset-2 return
      (3L, 10L))            // u3 never returns
    val input = MemoryStream[(Long, Long)]
    val name = "retention_parity_test"
    val q = graft.streaming.StreamPipeline.retentionProgress(input.toDS())
      .toDF("cohort", "day_offset")
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.functions.{count, lit}
    val streamed = spark.table(name).groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("users"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // batch formulation over the union, ts = day (divisor 1)
    val batchOut = graft.operators.Events.retention(
      (batch1 ++ batch2).toDF("user_id", "ts"), "user_id", "ts", dayDivisor = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batchOut, s"streamed $streamed vs batch $batchOut")
    // the cross-batch dedup is genuinely exercised: u1's day 11 replay
    // in batch 2 did not double-count offset 1 of cohort 10
    assert(streamed((10L, 1L)) == 1L)
  }

  test("streamed session paths equal the batch report across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val gap = 1800000L
    // (user, ms, event_id, type) — u1's first session straddles the
    // batch boundary mid-window; a 40-min gap opens a second session
    // inside batch 2 (the trailing-window state must clear on it).
    val batch1 = Seq(
      (1L, 0L, 1L, "v"), (1L, 60000L, 2L, "c"),
      (2L, 0L, 3L, "v"), (2L, 60000L, 4L, "c"), (2L, 120000L, 5L, "p"))
    val batch2 = Seq(
      (1L, 120000L, 6L, "p"), (1L, 180000L, 7L, "v"),          // completes v>c>p, then c>p>v
      (1L, 180000L + gap + 60000L, 8L, "v"),                    // new session
      (1L, 180000L + gap + 120000L, 9L, "c"),
      (1L, 180000L + gap + 180000L, 10L, "p"))
    val input = MemoryStream[(Long, Long, Long, String)]
    val name = "paths_parity_test"
    val q = graft.streaming.StreamPipeline.pathsProgress(input.toDS())
      .toDF("user_id", "path")
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.functions.{count, countDistinct, lit}
    val streamed = spark.table(name).groupBy("path")
      .agg(count(lit(1)).as("o"), countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.operators.Events.topPaths(
      (batch1 ++ batch2).toDF("user_id", "t", "event_id", "event_type"),
      "user_id", "event_type", "t", "event_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // the cross-batch mid-window split is genuinely exercised (u1's
    // v>c>p completed in batch 2 from batch-1 state), and the gap
    // reset kept the sessions apart (p>v>v across the gap is absent)
    assert(streamed("v>c>p") == ((3L, 2L)))
    assert(!streamed.contains("p>v>v"))
  }

  test("streamed FTS appends across micro-batches equal the one-shot index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Fts
    val docs = Seq(
      (1L, "spark filter join stream spark"),
      (2L, "filter join filter"),
      (3L, "stream stream stream spark"),
      (4L, "join spark filter"),
      (5L, "unrelated words only here"),
      (6L, "spark spark spark"))
    val base = docs.take(3).toDF("doc_id", "text")
    val dir = tempDir("fts_stream_spec").toString
    val idx = new java.util.concurrent.atomic.AtomicReference(
      Fts.build(base, "text", "doc_id", dir))
    // the delta arrives over TWO micro-batches through the streamed loop
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        idx.set(Fts.appendToIndex(idx.get(), batch, "text", "doc_id"))
      }
      .start()
    try {
      input.addData(docs.slice(3, 5)); q.processAllAvailable()
      input.addData(docs.slice(5, 6)); q.processAllAvailable()
    } finally q.stop()
    val terms = Seq("spark", "filter", "join", "stream")
    val streamed = Fts.probe(spark, idx.get(), "doc_id", terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = Fts.probe(spark,
      Fts.build(docs.toDF("doc_id", "text"), "text", "doc_id",
        tempDir("fts_oneshot_spec").toString),
      "doc_id", terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == oneShot, s"streamed $streamed vs one-shot $oneShot")
    // the stats really accumulated across batches (exact, not weighted-mean drift)
    assert(idx.get().nDocs == 6.0)
    val expectedSumDl = docs.map(_._2.split(" ").length.toDouble).sum
    assert(idx.get().sumDl == expectedSumDl)
  }

  test("streamed doc-embedding appends across micro-batches equal the one-shot sidecar") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Featurize
    val ch = Seq(
      (1L, 0L, "cat dog cat"), (1L, 1L, "dog bird"),
      (2L, 0L, "fish fish"),
      (3L, 0L, "spark join"), (3L, 1L, "join filter"),
      (4L, 0L, "window exchange"))
    // base: doc 1; docs 2+3 arrive in batch one, doc 4 in batch two —
    // a doc's chunks always travel together (the pooling purity contract)
    val dir = tempDir("docemb_stream_spec").toString
    Featurize.meanPoolChunks(
      ch.filter(_._1 == 1L).toDF("doc_id", "chunk_index", "chunk"),
      "doc_id", "chunk_index", "chunk")
      .write.mode("overwrite").parquet(dir)
    val input = MemoryStream[(Long, Long, String)]
    val q = input.toDS().toDF("doc_id", "chunk_index", "chunk").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Featurize.appendDocEmbeddings(dir, batch, "doc_id", "chunk_index", "chunk")
      }
      .start()
    try {
      input.addData(ch.filter(r => r._1 == 2L || r._1 == 3L)); q.processAllAvailable()
      input.addData(ch.filter(_._1 == 4L)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val oneShot = Featurize.meanPoolChunks(
      ch.toDF("doc_id", "chunk_index", "chunk"), "doc_id", "chunk_index", "chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed == oneShot, "streamed sidecar must equal the one-shot build exactly")
  }

  test("windowedCounts aggregates a stream into hourly windows (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(15), 2, "view", 5.0)
    )
    val q = EventStreams
      .windowedCounts(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("win_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n, total_value FROM win_test ORDER BY event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("ingestStream chunks and embeds a document stream statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    input.addData(
      (1L, (1 to 100).map(i => s"alpha$i").mkString(" ")),
      (2L, "short doc body")
    )
    val q = EventStreams.ingestStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingest_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT doc_id, chunk_index, size(embedding) AS d FROM ingest_stream_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.count(_._1 == 1L) == 2) // 100 tokens / (64-8) step -> 2 chunks
      assert(rows.count(_._1 == 2L) == 1)
      assert(rows.forall(_._3 == 64))
    } finally q.stop()
  }

  test("tokenAccounting keeps running per-source BPE totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Bpe, Chunker}
    val input = MemoryStream[(Long, String, String)]
    val q = EventStreams
      .tokenAccounting(input.toDF().toDF("doc_id", "source", "text"), budget = 30L)
      .writeStream.format("memory").queryName("token_acct_test")
      .outputMode(OutputMode.Complete()).start()
    def totals(): Map[String, (Long, Long, Boolean)] = spark
      .sql("SELECT source, docs, bpe_tokens, over_budget FROM token_acct_test")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    try {
      input.addData((1L, "web", "the spark filter joins a window"), (2L, "code", "scan scan scan"))
      q.processAllAvailable()
      val t1 = totals()
      val exp1 = Chunker.bpeTokenLen("the spark filter joins a window").toLong
      val exp2 = Chunker.bpeTokenLen("scan scan scan").toLong
      assert(t1("web") == ((1L, exp1, exp1 > 30)), s"web: ${t1("web")} vs $exp1")
      assert(t1("code") == ((1L, exp2, exp2 > 30)))
      // second batch accumulates into the same per-source state
      input.addData((3L, "web", "partition column partition column partition column"))
      q.processAllAvailable()
      val t2 = totals()
      val exp3 = Chunker.bpeTokenLen("partition column partition column partition column").toLong
      assert(t2("web") == ((2L, exp1 + exp3, exp1 + exp3 > 30)), s"web after batch 2: ${t2("web")}")
      assert(t2("code") == t1("code"))
      assert(Bpe.merges.nonEmpty) // totals above used the real merge table
    } finally q.stop()
  }

  test("dedupStream drops replayed events within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val e1 = Event(1, ts(0), 1, "click", 1.0)
    val e2 = Event(2, ts(1), 2, "view", 2.0)
    input.addData(e1, e2, e1) // replay of e1 in the same batch
    val q = EventStreams.dedupStream(input.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      input.addData(e1) // replay across batches
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dedup_test").head.getLong(0) == 2L)
    } finally q.stop()
  }

  test("purchaseAttribution joins purchases to preceding clicks within the interval") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 7, "click", 0.0),    // within the hour → attributed
      Event(2, ts(30), 7, "click", 0.0),   // within the hour → attributed
      Event(3, ts(45), 7, "purchase", 99.0),
      Event(4, ts(50), 8, "purchase", 5.0) // no clicks for user 8
    )
    val q = EventStreams.purchaseAttribution(input.toDF())
      .writeStream.format("memory").queryName("attr_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT purchase_id, click_id FROM attr_test ORDER BY click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((3L, 1L), (3L, 2L)))
    } finally q.stop()
  }

  test("enrichWithDim joins the stream to a broadcast static dim, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(1), 100, "click", 1.0),
      Event(2, ts(2), 200, "view", 2.0),
      Event(3, ts(3), 999, "click", 3.0) // no dim row → left outer null
    )
    val dim = Seq((100L, "BUILDING"), (200L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
    val enriched = EventStreams.enrichWithDim(input.toDF(), dim)
    val q = enriched.select("event_id", "c_mktsegment")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, c_mktsegment FROM enrich_test ORDER BY event_id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      assert(rows.toSeq == Seq((1L, Some("BUILDING")), (2L, Some("MACHINERY")), (3L, None)))
      // stateless: no state store rows in the progress metrics
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
  }

  test("appendToChunkStore lands micro-batches as deltas with latest-wins replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val store = new graft.operators.ChunkStore(
      tempDir("graft_stream_store").resolve("chunks").toString,
      "doc_id")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamPipeline.eachBatch(input.toDF().toDF("doc_id", "content")) {
      b => if (!b.isEmpty) store.upsert(b)
    }
    try {
      input.addData((1L, "v1"), (2L, "b"))
      q.processAllAvailable()
      input.addData((1L, "v2")) // replay doc 1 → supersedes in-place
      q.processAllAvailable()
      val out = store.read(spark).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(out == Seq((1L, "v2"), (2L, "b")))
    } finally q.stop()
  }

  test("appendToAnnIndex: streamed vectors become probe-visible, partitioned by cluster") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Ann
    val embs = Tables.embeddings(spark, sf)
    val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)
    val dir = tempDir("annstream").toString + "/idx"
    Ann.writeIndex(index, dir)
    val queryDf = embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))

    // stream in a near-copy of the query vector under a fresh id
    val qVec = queryDf.as[Seq[Float]].head()
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamPipeline.eachBatch(input.toDF().toDF("vec_id", "embedding")) {
      b => if (!b.isEmpty) Ann.appendToIndex(dir, b, "embedding", index.centroids)
    }
    try {
      input.addData((888888L, qVec))
      q.processAllAvailable()
    } finally q.stop()

    val after = Ann.probe(Ann.liveLayout(spark, dir, "vec_id"), queryDf, "q_vec", "embedding",
        "vec_id", topK = 10, cells = cellsOf(index.centroids, queryDf, 3))
      .select("vec_id").as[Long].collect().toSet
    assert(after.contains(888888L), s"streamed vector not probe-visible: $after")
    // the appended file landed under the assigned cluster partition
    val clusters = spark.read.parquet(dir).filter(col("vec_id") === 888888L)
      .select("cluster").as[Int].collect().toSeq
    assert(clusters.length == 1)
  }

  test("sessionize splits on gaps and accumulates within a session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // user 1: two events 5 min apart (one session), then 40 min gap → new session
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(45), 1, "view", 10.0)
    )
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, events, totalValue FROM sess_test").collect()
      assert(rows.length == 1)
      // the 40-min gap resets the running session: final state is the NEW session
      assert(rows.head.getLong(0) == 1L)
      assert(rows.head.getInt(1) == 1 && rows.head.getDouble(2) == 10.0)
    } finally q.stop()
  }

  test("streaming session state logic agrees with batch window sessionization on real events") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gapMs = 30 * 60 * 1000L
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), expr("timestamp_millis(ts DIV 1000000)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    // mapGroupsWithState on a BATCH Dataset runs each group once — the
    // same state transition the stream applies incrementally
    val streamed = EventStreams.sessionize(raw.as[Event], gapMs).collect()
      .map(u => u.user_id -> u).toMap

    // independent batch formulation: window break/sid, then the LAST session
    val wOrd = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val sess = raw
      .select(col("user_id"), col("event_id"), col("value"),
        expr("unix_millis(ts)").as("t"))
      .withColumn("pt", lag("t", 1).over(wOrd))
      .withColumn("brk", when(col("pt").isNull || col("t") - col("pt") > gapMs, 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val last = sess.groupBy("user_id").agg(max("sid").as("lastSid"))
    val expected = sess.join(last, "user_id").filter(col("sid") === col("lastSid"))
      .groupBy("user_id")
      .agg(min("t").as("start"), count(lit(1)).as("n"), sum("value").as("total"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

    assert(streamed.keySet == expected.keySet)
    for ((u, (start, n, total)) <- expected) {
      val s = streamed(u)
      assert(s.sessionStart == start, s"user $u session start")
      assert(s.events.toLong == n, s"user $u session event count")
      assert(math.abs(s.totalValue - total) < 1e-6, s"user $u session value sum")
    }
  }
}
