package perfbench

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `curate`: the training-data sweep over one seeded corpus.
  *
  * `Dedup.urlDedup` -> `Dedup.exactDedup` -> `Dedup.minHashLshPairs` ->
  * `TextAnalysis.c4Filters` + `TextAnalysis.gopherQuality` ->
  * `Dedup.decontaminateSpans` -> `Packing.packSequences`, the survivors
  * of each stage feeding the next, the packed set written out as the
  * sweep's product. Each pass runs over a fresh corpus at a fresh path,
  * so no pass can be served by an earlier pass's caches.
  *
  * Chosen because it is shuffle- and CPU-bound in Dedup, TextAnalysis
  * and Packing and touches no index layer: the "no change" control for
  * every index or probe optimisation, as `serve` is for this one.
  */
final class Curate(run: Run) extends Workload {
  import Curate._
  private val spark = run.spark
  import spark.implicits._

  private val vocab = new Gen.Vocab(run.seed)

  /** One pass's corpus, written before the clock starts. */
  final case class Shard(path: String, corpus: Gen.Corpus, bytes: Long)
  /** What one pass produced, for the output checks. */
  final case class Out(shard: Shard, exactRemoved: Set[Long], urlRemoved: Set[Long],
                       pairs: Set[(Long, Long)], kept: Set[Long], dropped: Map[Long, Long],
                       packedTokens: Long, cleanTokens: Long, lastEnd: Long, outBytes: Long,
                       sequences: Long)

  private val shards = mutable.Queue.empty[Shard]
  private val outs = mutable.ArrayBuffer.empty[Out]
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private var docsDone = 0L
  private var windowS = 0.0
  private val sigs = new ChunkStore(run.dir("signatures"), "id")
  private var sweep = Set.empty[(Long, Long)]

  private def shard(i: Int, n: Int): Shard = {
    val c = Gen.corpus(run.seed * 1000 + i, vocab, n, Gen.Rates(), idBase = i * 1000000L)
    val path = run.dir(s"corpus-$i")
    c.docs.map(d => (d.id, d.url, d.source, d.lang, d.text)).toDF("id", "url", "source", "lang", "text")
      .coalesce(Cores).write.parquet(path)
    Shard(path, c, Bench.duBytes(path))
  }

  def setup(): Unit = {
    // the pass corpora are generated while a small pass warms up
    val warm = shard(0, WarmDocs)
    Bench.par(
      () => shards ++= (1 to MaxPasses).map(shard(_, NDocs)),
      () => pass(warm, "warm", new ChunkStore(run.dir("warm-signatures"), "id")))
    outs.clear()
    run.log("setup: done")
  }

  /** One full sweep over `s`, appending its signatures to `sigs`;
    * returns false if any stage failed.
    */
  private def pass(s: Shard, tag: String, sigs: ChunkStore): Boolean = {
    val docs = spark.read.parquet(s.path)
    val n = s.corpus.docs.size.toLong
    var sequences = 0L
    val r = for {
      urlKeepers <- run.call("dedup.url") {
        Dedup.urlDedup(docs, "url", "id").select(col("keeper").as("id")).as[Long].collect().toSet
      }
      afterUrl = docs.filter(col("id").isInCollection(urlKeepers))
      exactKept <- run.call("dedup.exact") {
        Dedup.exactDedup(afterUrl, "text", "id").select("id").as[Long].collect().toSet
      }
      afterExact = docs.filter(col("id").isInCollection(exactKept))
      pairs <- run.call("dedup.minhash") {
        val p = Dedup.minHashLshPairs(afterExact, "text", "id").select("id_a", "id_b")
          .as[(Long, Long)].collect().toSet
        run.trace.count("dedup.minhash", "pairs_out", p.size)
        p
      }
      _ <- run.call("dedup.append_signatures") {
        Dedup.appendSignatures(sigs, afterExact.select("id", "text"), "text", parts = SigParts)
      }
      afterNear = afterExact.filter(!col("id").isInCollection(pairs.map(_._2)))
      c4Keep <- run.call("textanalysis.c4") {
        TextAnalysis.c4Filters(afterNear, "text", "id").filter(col("keep")).select("id")
          .as[Long].collect().toSet
      }
      gopherKeep <- run.call("textanalysis.gopher") {
        TextAnalysis.gopherQuality(afterNear, "text", "id").filter(col("keep")).select("id")
          .as[Long].collect().toSet
      }
      kept = c4Keep intersect gopherKeep
      clean <- run.call("dedup.decontaminate") {
        val out = run.dir(s"clean-$tag")
        Dedup.decontaminateSpans(afterNear.filter(col("id").isInCollection(kept)),
          spark.createDataset(s.corpus.benchmark).toDF("text"), "text", "id")
          .write.parquet(out)
        spark.read.parquet(out)
      }
      packed <- run.call("packing.pack") {
        val out = run.dir(s"packed-$tag")
        Packing.packSequences(clean.select(col("id"), col("clean_text")), "clean_text", "id", Budget)
          .write.parquet(out)
        val p = spark.read.parquet(out)
        sequences = p.agg(max("seq_id")).head().getLong(0) + 1
        p
      }
    } yield {
      val dropped = clean.filter(col("dropped_tokens") > 0).select("id", "dropped_tokens")
        .as[(Long, Long)].collect().toMap
      val cleanTokens = clean.select(
        sum(size(graft.functions.TextOps.tokenize(col("clean_text"))))).head().getLong(0)
      val (packedTokens, lastEnd) = packed.agg(sum("n_tokens"), max(col("start_offset") + col("n_tokens")))
        .as[(Long, Long)].head()
      outs += Out(s, s.corpus.docs.map(_.id).toSet -- exactKept -- (s.corpus.docs.map(_.id).toSet -- urlKeepers),
        s.corpus.docs.map(_.id).toSet -- urlKeepers, pairs, kept, dropped, packedTokens, cleanTokens,
        lastEnd, Bench.duBytes(run.dir(s"clean-$tag")) + Bench.duBytes(run.dir(s"packed-$tag")),
        sequences)
      n
    }
    r.isDefined
  }

  def measure(): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    // closed loop: the next pass starts only if it is expected to end
    // within --seconds (as long as the last one took), and one always runs
    while (shards.nonEmpty && (passMs.isEmpty || run.remaining * 1000 > passMs.last)) {
      val s = shards.dequeue()
      val (ok, t) = Bench.timed(pass(s, s"p$i", sigs))
      passMs += t * 1000
      if (ok) docsDone += s.corpus.docs.size
      i += 1
    }
    // the incremental face of near-dup detection: one sweep over the
    // signatures every pass appended
    run.call("dedup.pairs_from_signatures") {
      sweep = Dedup.pairsFromSignatures(sigs.read(spark), "id").select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet
      run.trace.count("dedup.pairs_from_signatures", "pairs_out", sweep.size)
    }
    windowS = (System.nanoTime() - t0) / 1e9
  }

  /** One C4 filter call over the first measured corpus (the unit the
    * traced run times with and without tracing).
    */
  def unit(i: Int): Unit = run.call("textanalysis.c4") {
    TextAnalysis.c4Filters(spark.read.parquet(outs.head.shard.path), "text", "id").count()
  }

  def verify(): Unit = {
    run.metrics("docs_per_s") = docsDone / windowS
    run.metrics("call_p50_ms") = Bench.percentile(passMs.toSeq, 0.5)
    run.info("call_p90_ms") = Bench.percentile(passMs.toSeq, 0.9)
    run.metrics("space_amp") = outs.map(_.outBytes).sum.toDouble / outs.map(_.shard.bytes).sum
    run.info("passes") = passMs.size
    run.info("docs") = docsDone
    val pairRecalls = mutable.ArrayBuffer.empty[Double]
    val spanRecalls = mutable.ArrayBuffer.empty[Double]
    var keptDocs = 0L
    var inDocs = 0L
    outs.zipWithIndex.foreach { case (o, i) =>
      val c = o.shard.corpus
      // exact dedup removes exactly the planted copies (each copy has a
      // larger id than its original, and the minimum id is kept); the URL
      // stage likewise removes exactly the planted URL variants
      run.check(s"dedup.exact_found[$i]", o.exactRemoved == c.exactDups.keySet,
        s"removed ${o.exactRemoved.size} planted ${c.exactDups.size}")
      run.check(s"dedup.url_found[$i]", o.urlRemoved == c.urlDups.keySet,
        s"removed ${o.urlRemoved.size} planted ${c.urlDups.size}")
      val found = c.nearDups.count { case (a, b) => o.pairs.contains((math.min(a, b), math.max(a, b))) }
      val pr = found.toDouble / c.nearDups.size
      pairRecalls += pr
      run.check(s"dedup.pair_recall[$i]", pr >= PairRecallFloor, s"$pr")
      // planted spans: every contaminated doc that survived the filters
      // loses at least its planted span
      val cont = c.contaminated.filter { case (id, _) => o.kept.contains(id) }
      val hit = cont.count { case (id, len) => o.dropped.getOrElse(id, 0L) >= len }
      val sr = if (cont.isEmpty) 1.0 else hit.toDouble / cont.size
      spanRecalls += sr
      run.check(s"dedup.span_recall[$i]", sr >= SpanRecallFloor, s"$sr of ${cont.size}")
      run.check(s"quality.low_dropped[$i]", (c.lowQuality intersect o.kept).isEmpty,
        s"${(c.lowQuality intersect o.kept).size} planted low-quality docs kept")
      // packing conserves tokens
      run.check(s"packing.conserves[$i]",
        o.packedTokens == o.cleanTokens && o.lastEnd == o.cleanTokens,
        s"packed ${o.packedTokens} clean ${o.cleanTokens} end ${o.lastEnd}")
      keptDocs += o.kept.size
      inDocs += c.docs.size
    }
    run.layer("dedup.minhash.pair_recall", pairRecalls.sum / math.max(1, pairRecalls.size))
    run.layer("dedup.decontaminate.span_recall", spanRecalls.sum / math.max(1, spanRecalls.size))
    run.layer("textanalysis.keep_rate", keptDocs.toDouble / math.max(1L, inDocs))
    run.layer("packing.sequences", outs.map(_.sequences).sum.toDouble / math.max(1, outs.size))
    // the incremental sweep over every pass's signatures finds exactly
    // the pairs the per-pass batch MinHash found (same signatures, same
    // banding; passes share no near-duplicates)
    val batchPairs = outs.flatMap(_.pairs).toSet
    run.check("dedup.incremental_equals_batch", sweep == batchPairs,
      s"sweep ${sweep.size} pairs, batch ${batchPairs.size}")
  }
}

object Curate {
  val NDocs = 4000
  val WarmDocs = 100
  val MaxPasses = 2
  val Cores = 4
  val Budget = 2048L
  val PairRecallFloor = 0.85
  val SpanRecallFloor = 0.95
  // bounded files per appended signature segment: the micro-batch
  // setting the ChunkStore and Fts append paths use
  val SigParts = 4
}
