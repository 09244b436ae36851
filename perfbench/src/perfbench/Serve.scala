package perfbench

import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** `serve`: build once, then serve reads while writes land.
  *
  * Set-up builds the base layout the reference's primary flow builds:
  * `Ingest.pipeline` over a seeded mixed-type folder (convert, chunk,
  * embed) -> `ChunkStore.upsert` -> `Fts.build`, and a two-level IVF
  * index with residual PQ over the documents' clustered vectors. A
  * small untimed cycle on that layout then pays every timed call's
  * first-call costs (codegen, JIT, stream start).
  *
  * The clock then runs one closed-loop client through:
  *  - a seeded micro-batch landed through two Structured Streaming
  *    queries: the vectors through
  *    `StreamPipeline.ivfPqResidualAppendQuery`, the text through a
  *    `foreachBatch` sink here (`ChunkStore.upsert`, `Fts.appendToIndex`),
  *    and deletes of a seeded set of older documents from all three;
  *  - one batch probe (`Fts.probeBatch` + `Pq.probeBatchIvfPqResidual`
  *    + a client fuse), then single-query hybrid probes (`Fts.probe` +
  *    `Pq.probeIvfPqResidual` + `Search.rrfFuse`) until `--seconds`
  *    have passed, all reading the live layout with the micro-batch's
  *    delta files and tombstones in place;
  *  - compaction (`ChunkStore.maintain`, `Fts.maintain`,
  *    `Pq.maintainLayout` with `Pq.compact`).
  *
  * Chosen because the index and storage layers, `TopKPerKey` and the
  * driver do all of the work here and Dedup, TextAnalysis and Packing
  * none, and because read cost, write cost and space trade against each
  * other: a faster append that leaves more files shows up as slower live
  * probes and a larger space_amp.
  */
final class Serve(run: Run) extends Workload {
  import Serve._
  private val spark = run.spark

  private val vocab = new Gen.Vocab(run.seed)
  private val textQ = Gen.textQueries(run.seed, vocab, NQueries)
  private val docs = Gen.corpus(run.seed, vocab, NBase + WarmDocs + BatchDocs,
    Gen.Rates(0, 0, 0, 0, 0)).docs
  private var lane: Lane = _

  def setup(): Unit = {
    var vectors: IndexedSeq[Array[Float]] = null
    var vecQ: IndexedSeq[Array[Float]] = null
    Bench.par(
      () => {
        val (vs, qs) = Gen.vectors(spark, run.seed, docs.size, Hybrid.Dim, NQueries)
        vectors = vs
        vecQ = qs
      },
      () => Gen.writeFolder(run.seed, docs.take(NBase), run.work.resolve("docs")))
    lane = new Lane(run, run.dir("main"), run.dir("docs"), docs, vectors, textQ, vecQ)
    run.log("setup: base layout")
    // a traced run records the base build's spans, outside the window
    run.trace.attach(spark)
    run.trace.span("setup")(lane.build())
    run.trace.detach(spark)
    lane.start()
    // untimed small-scale warm-up on the base layout, with queries the
    // clock does not use; a write invalidates every layout memo, so the
    // window's probes cannot be served by it
    run.log("setup: warm-up")
    lane.land(WarmDocs, WarmDeletes)
    (1 to WarmProbes).foreach(i => lane.probeOnce(NQueries - i))
    lane.batch(WarmBatch, NQueries - WarmProbes - WarmBatch)
    lane.compact()
    lane.resetCounters()
  }

  def measure(): Unit = {
    lane.land(BatchDocs, Deletes)
    lane.batch(BatchSize, NQueries - WarmProbes - WarmBatch - BatchSize)
    var i = 0
    while (run.remaining > 0 || i < MinProbes) { lane.probeOnce(i); i += 1 }
    // compaction closes the window, so every probe above reads the layout
    // with the micro-batch's delta files and tombstones in place
    lane.compact()
  }

  def unit(i: Int): Unit = lane.probeOnce(i)

  def verify(): Unit = {
    lane.stop()
    lane.report()
    lane.verify()
  }
}

/** One layout and the client that writes and reads it. */
final class Lane(run: Run, root: String, folder: String, docs: IndexedSeq[Gen.Doc],
                 vectors: IndexedSeq[Array[Float]], textQ: IndexedSeq[Seq[String]],
                 vecQ: IndexedSeq[Array[Float]]) {
  import Serve._
  import Hybrid.{IdCol, VecCol, VecId, NProbe, K}
  private val spark = run.spark
  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext

  private val rnd = new java.util.SplittableRandom(run.seed ^ 0xDE1L)
  private val hybrid = new Hybrid(run)
  private val store = new ChunkStore(s"$root/store", ChunkKey)
  @volatile private var fts: Fts.Index = _
  private var pq: PqLayout = _
  private var textIn: MemoryStream[(String, Long, String)] = _
  private var vecIn: MemoryStream[(Long, Seq[Float])] = _
  private var textQuery: StreamingQuery = _
  private var vecQuery: StreamingQuery = _

  private val live = mutable.LinkedHashSet.empty[Long]
  private var next = NBase
  private var rowsLanded = 0L
  private var writeS = 0.0
  private var microBatches = 0
  private var batchQueries = 0L
  private var batchS = 0.0
  private var buildS = 0.0

  private def docsDf(ids: Seq[Long]): DataFrame = ids.map(i => (i, docs(i.toInt).text)).toDF(IdCol, "text")

  private def vecDf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vectors(i.toInt).toSeq)).toDF(VecId, VecCol)

  /** The base layout; its text half (ingest, store, FTS) and vector half
    * are independent, so they build together.
    */
  def build(): Unit = {
    val base = 0L until NBase
    val t0 = System.nanoTime()
    run.par(
      () => {
        val chunks = run.call("ingest.pipeline") {
          val c = Ingest.pipeline(spark, folder, "bench")
            .withColumn(IdCol, regexp_extract(col("source"), "d(\\d+)\\.[a-z]+$", 1).cast("long"))
            .withColumn(ChunkKey, concat(col("doc_id"), lit(":"), col("chunk_index").cast("string")))
            .cache()
          run.trace.count("ingest.pipeline", "rows_out", c.count())
          c
        }.get
        upsert(chunks, parts = 0)
        chunks.unpersist()
        fts = run.call("fts.build") {
          val ix = Fts.build(store.read(spark).select(IdCol, "chunk"), "chunk", IdCol, s"$root/fts")
          run.trace.count("fts.build", "bytes_written", Bench.duBytes(s"$root/fts"))
          ix
        }.get
      },
      () => pq = Hybrid.buildPq(run, vecDf(base), NBase, Cells, s"$root/pq"))
    buildS = (System.nanoTime() - t0) / 1e9
    live ++= base
  }

  private def upsert(rows: DataFrame, parts: Int): Unit = run.call("chunkstore.upsert") {
    val before = Bench.dataFiles(store.root)
    store.upsert(rows, parts = parts)
    run.trace.count("chunkstore.upsert", "files_written", Bench.dataFiles(store.root) - before)
  }

  /** Start the two streaming queries that land micro-batches. */
  def start(): Unit = {
    textIn = MemoryStream[(String, Long, String)]
    vecIn = MemoryStream[(Long, Seq[Float])]
    textQuery = textIn.toDF().toDF(ChunkKey, IdCol, "chunk").writeStream
      .option("checkpointLocation", s"$root/ckpt-text")
      .foreachBatch((b: DataFrame, _: Long) => landText(b))
      .start()
    vecQuery = graft.streaming.StreamPipeline.ivfPqResidualAppendQuery(
      vecIn.toDF().toDF(VecId, VecCol), pq.path, pq.two, pq.cents, pq.model)
  }

  def stop(): Unit = {
    textQuery.stop()
    vecQuery.stop()
  }

  /** The text sink: one micro-batch into the chunk store (one chunk per
    * streamed document) and the FTS index.
    */
  private def landText(b: DataFrame): Unit = if (!b.isEmpty) {
    val batch = b.cache()
    upsert(batch, parts = Parts)
    run.call("fts.append") {
      val before = Bench.dataFiles(fts.dir)
      fts = Fts.appendToIndex(fts, batch.select(IdCol, "chunk"), "chunk", IdCol)
      run.trace.count("fts.append", "files_written", Bench.dataFiles(fts.dir) - before)
    }
    batch.unpersist()
  }

  /** Land the next `n` documents through both streams and delete a
    * seeded set of `deletes` older live documents everywhere (timed as
    * writes).
    */
  def land(n: Int, deletes: Int): Unit = {
    val ids = (next until next + n).map(_.toLong)
    next += n
    val t0 = System.nanoTime()
    def progress = textQuery.recentProgress.length + vecQuery.recentProgress.length
    val before = progress
    run.call("streampipeline.batch") {
      textIn.addData(ids.map(i => (s"s:$i", i, docs(i.toInt).text)))
      textQuery.processAllAvailable()
      run.call("pq.append") {
        val before = Bench.dataFiles(pq.path)
        vecIn.addData(ids.map(i => (i, vectors(i.toInt).toSeq)))
        vecQuery.processAllAvailable()
        run.trace.count("pq.append", "files_written", Bench.dataFiles(pq.path) - before)
      }
    }
    microBatches += progress - before
    live ++= ids
    val liveSeq = live.toIndexedSeq
    val dels = Seq.fill(deletes)(liveSeq(rnd.nextInt(liveSeq.size))).distinct
    val chunkKeys = run.call("chunkstore.read") {
      store.read(spark).filter(col(IdCol).isin(dels: _*)).select(ChunkKey).cache()
    }.get
    run.call("chunkstore.delete")(store.delete(chunkKeys, parts = 1))
    chunkKeys.unpersist()
    run.call("fts.delete") { fts = Fts.deleteFromIndex(spark, fts, dels.toDF(IdCol), IdCol) }
    run.call("pq.delete")(Pq.deleteFromIndex(spark, pq.path, dels.toDF(VecId), VecId))
    live --= dels
    rowsLanded += ids.size + dels.size
    writeS += (System.nanoTime() - t0) / 1e9
  }

  /** Each layer's threshold maintenance policy, with thresholds that
    * fold every delta and tombstone (timed as writes).
    */
  def compact(): Unit = {
    val t0 = System.nanoTime()
    run.call("chunkstore.maintain") {
      val before = Bench.segments(store.root)
      store.maintain(spark, maxDeltas = 1)
      val written = Bench.segments(store.root) -- before
      run.trace.count("chunkstore.maintain", "bytes_written",
        written.toSeq.map(s => Bench.duBytes(s"${store.root}/$s")).sum)
    }
    run.call("fts.compact") {
      Fts.maintain(spark, fts, IdCol, maxDeltaAppends = 0, maxTombstones = 0L)
    }
    run.call("pq.compact") {
      Pq.maintainLayout(spark, pq.path, (s, o) => Pq.compact(spark, s, o, VecId),
        maxDeltaAppends = 0, maxTombstones = 0L)
    }
    writeS += (System.nanoTime() - t0) / 1e9
  }

  /** Forget the warm-up's timings (its layout changes stay). */
  def resetCounters(): Unit = {
    rowsLanded = 0L
    writeS = 0.0
    microBatches = 0
    batchQueries = 0L
    batchS = 0.0
    hybrid.latencyMs.clear()
  }

  private def ftsBatch(tq: Seq[(Long, Seq[String])]): Seq[Row] =
    Fts.probeBatch(spark, fts, IdCol, tq, K).collect().toSeq

  /** One single hybrid probe of the live layout. */
  def probeOnce(i: Int): Unit = hybrid.probe(fts, pq, textQ(i % NQueries), vecQ(i % NQueries))

  /** One batch hybrid probe of `size` queries from query `first` on:
    * both batch legs, then an RRF fuse per query on the client.
    */
  def batch(size: Int, first: Int): Unit = {
    val t0 = System.nanoTime()
    val ids = (0 until size).map(j => (first + j) % NQueries)
    val f = run.call("fts.probe_batch")(ftsBatch(ids.map(i => i.toLong -> textQ(i))))
    val p = run.call("pq.probe_batch") {
      val qdf = ids.map(i => (i.toLong, vecQ(i).toSeq)).toDF("query_id", "qv")
      Pq.probeBatchIvfPqResidual(spark, pq.path, pq.cents, pq.model, qdf, "qv", "query_id",
        VecCol, VecId, NProbe, K).collect().toSeq
    }
    for (a <- f; b <- p) fuseBatch(a, b)
    batchS += (System.nanoTime() - t0) / 1e9
    batchQueries += size
  }

  /** Client-side RRF per query over the two batch legs. */
  private def fuseBatch(fts: Seq[Row], pq: Seq[Row]): Map[Long, Seq[(Long, Double)]] = {
    def legs(rows: Seq[Row], score: String) = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => r.getLong(1) -> r.getAs[Double](score)) }
    val a = legs(fts, "bm25")
    val b = legs(pq, "cos_sim")
    (a.keySet ++ b.keySet).map(q => q -> Hybrid.rrf(a.getOrElse(q, Nil), b.getOrElse(q, Nil))).toMap
  }

  def report(): Unit = {
    val lat = hybrid.latencyMs.toSeq
    val inputBytes = live.toSeq.map(i => docs(i.toInt).text.length.toLong + Hybrid.Dim * 4).sum
    val layoutBytes = Seq(store.root, fts.dir, pq.path).map(Bench.duBytes).sum
    run.metrics("docs_per_s") = rowsLanded / writeS
    run.metrics("call_p50_ms") = Bench.percentile(lat, 0.5)
    run.metrics("space_amp") = layoutBytes.toDouble / inputBytes
    run.info("call_p90_ms") = Bench.percentile(lat, 0.9)
    run.info("single_samples") = lat.size
    run.info("batch_qps") = batchQueries / batchS
    run.info("base_build_docs_per_s") = NBase / buildS
    run.info("live_docs") = live.size
    run.layer("streampipeline.batches", microBatches)
    run.layer("chunkstore.files_live", store.fileCount(spark))
  }

  /** The output checks; the text and vector halves are independent, so
    * they run side by side (the clock has stopped).
    */
  def verify(): Unit = {
    Bench.par(() => verifyText(), () => verifyVectors())
    hybrid.checkFuse()
    // no temp or orphaned files behind any writer
    Seq(store.root, fts.dir, pq.path).foreach { dir =>
      val junk = Bench.debris(dir) ++ orphanSegments(dir)
      run.check(s"no_debris[${java.nio.file.Paths.get(dir).getFileName}]", junk.isEmpty,
        junk.take(3).mkString(", "))
    }
  }

  private def verifyText(): Unit = {
    // the store serves exactly the live documents
    val liveText = store.read(spark).select(IdCol, "chunk").cache()
    val stored = liveText.select(IdCol).distinct().as[Long].collect().toSet
    run.check("chunkstore.read_equals_live", stored == live.toSet,
      s"${stored.size} stored vs ${live.size} live")
    // the live FTS index answers exactly like a fresh Fts.build over the
    // live corpus, and its batch probe like brute-force Search.bm25TopK
    val fresh = Fts.build(liveText, "chunk", IdCol, s"$root/fts-check")
    val tokens = liveText
      .select(col(IdCol), explode(graft.functions.TextOps.tokenize(col("chunk"))).as("term")).cache()
    val tq = (0 until 2).map(i => i.toLong -> textQ(i))
    val batchRows = ftsBatch(tq)
    tq.foreach { case (qid, terms) =>
      val got = hybrid.ftsLeg(fts, terms, K)
      run.check(s"fts.live_equals_rebuild[q$qid]",
        Hybrid.sameRanking(got, hybrid.ftsLeg(fresh, terms, K)), s"$got")
      val gotBatch = batchRows.filter(_.getLong(0) == qid).sortBy(rk).map(r => r.getLong(1) -> r.getDouble(2))
      val want = Search.bm25TopK(tokens, IdCol, terms, K).collect().toSeq
        .map(r => r.getLong(0) -> r.getDouble(1))
      run.check(s"fts.batch_equals_bruteforce[q$qid]", Hybrid.sameRanking(gotBatch, want),
        s"$gotBatch vs $want")
    }
    tokens.unpersist()
    liveText.unpersist()
  }

  private def verifyVectors(): Unit = {
    // the PQR layout's live face holds exactly the live vectors, and its
    // probe finds the exact top 10 often enough
    val pqLive = Pq.liveFace(spark, pq.path, spark.read.parquet(pq.path), VecId)
      .select(VecId).as[Long].collect().toSet
    run.check("pq.live_equals_expected", pqLive == live.toSet,
      s"${pqLive.size} in layout vs ${live.size} live")
    val liveVec = vecDf(live.toSeq).cache()
    val recalls = (0 until RecallQueries).map { i =>
      val want = Ann.exact(liveVec, hybrid.qvec(vecQ(i)), VecCol, "qv", VecId, K).collect()
        .map(_.getLong(0)).toSet
      (want intersect hybrid.pqLeg(pq, vecQ(i), K).map(_._1).toSet).size.toDouble / want.size
    }
    liveVec.unpersist()
    val recall = recalls.sum / recalls.size
    run.layer("pq.recall_at_10", recall)
    run.check("pq.recall_at_10", recall >= RecallFloor, s"recall $recall < $RecallFloor")
  }

  /** ChunkStore segment dirs that no retained manifest references. */
  private def orphanSegments(dir: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val log = Paths.get(dir, "_log")
    if (!Files.isDirectory(log)) Nil
    else {
      def list(p: java.nio.file.Path) = {
        val s = Files.list(p)
        try s.iterator().asScala.toList finally s.close()
      }
      val referenced = list(log).filter(_.getFileName.toString.endsWith(".manifest"))
        .flatMap(p => Files.readAllLines(p).asScala.map(_.trim).filter(_.nonEmpty).map(_.split(" ", 2)(1)))
        .toSet
      list(Paths.get(dir)).map(_.getFileName.toString).filter(_.startsWith("seg-")).filterNot(referenced)
    }
  }
}

object Serve {
  val ChunkKey = "chunk_key"
  val NBase = 600
  val BatchDocs = 60
  val Deletes = 10
  val MinProbes = 10
  val BatchSize = 256
  val WarmDocs = 20
  val WarmDeletes = 2
  val WarmProbes = 3
  val WarmBatch = 16
  val Parts = 4
  val Cells = 48
  val NQueries = 512
  val RecallQueries = 4
  val RecallFloor = 0.8

  private[perfbench] def rk(r: Row): Int = r.getAs[Number]("rk").intValue
}
