package graft

import java.nio.file.Files

import graft.operators.{Fts, Search}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class FtsSpec extends SparkSpec {
  import spark.implicits._

  private val docsFixture = Seq(
    (1L, "cat cat dog bird"),
    (2L, "cat fish"),
    (3L, "dog dog dog"),
    (4L, "bird bird cat dog fish")
  ).toDF("doc_id", "text")

  // "an" and "c0" share a String hashCode (3117)
  private val edgeFixture = Seq(
    (1L, "an c0 cat"),
    (2L, "an an dog"),
    (3L, "c0 cat cat"),
    (4L, "bird")
  ).toDF("doc_id", "text")

  private def fullScan(docs: DataFrame, terms: Seq[String], k: Int) =
    Search.bm25TopK(
      docs.select(col("doc_id"),
        explode(graft.functions.TextOps.tokenize(col("text"))).as("term")),
      "doc_id", terms, k)

  test("index probe reproduces the full-scan BM25 scorer bit-for-bit") {
    val idx = Fts.build(docsFixture, "text", "doc_id", tempDir("fts_spec_").toString)
    assert(idx.nDocs == 4.0)
    assert(idx.avgdl == (4 + 2 + 3 + 5) / 4.0)
    val edge = Fts.build(edgeFixture, "text", "doc_id", tempDir("fts_spec_edge_").toString)
    for ((docs, index, terms) <- Seq(
           (docsFixture, idx, Seq("cat")), (docsFixture, idx, Seq("cat", "dog")),
           (docsFixture, idx, Seq("fish", "bird", "cat")),
           // hash-colliding pair, a repeated term (counts once), no term
           (edgeFixture, edge, Seq("an", "c0")), (edgeFixture, edge, Seq("cat", "cat")),
           (edgeFixture, edge, Nil))) {
      val probed = Fts.probe(spark, index, "doc_id", terms, k = 10).collect().toSeq
      val scanned = fullScan(docs, terms, 10).collect().toSeq
      assert(probed == scanned, s"probe != full scan for terms=$terms")
      assert(probed.isEmpty == terms.isEmpty, s"terms=$terms: ${probed.length} rows")
    }
    assert(Fts.probe(spark, edge, "doc_id", Seq("cat", "cat"), k = 10).collect().toSeq ==
      Fts.probe(spark, edge, "doc_id", Seq("cat"), k = 10).collect().toSeq)
  }

  test("probe pushes the term filter into the postings scan") {
    val dir = tempDir("fts_spec_").toString
    val idx = Fts.build(docsFixture, "text", "doc_id", dir)
    val plan = Fts.probe(spark, idx, "doc_id", Seq("cat", "dog"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"),
      s"expected term IN pushdown in:\n$plan")
  }

  test("semanticProbe from the sidecar equals the from-scratch semantic flow") {
    val fromScratch = Queries.semanticSearch(spark, sf).collect().toSeq
    val fromIndex = Queries.semanticIndexed(spark, sf).collect().toSeq
    assert(fromScratch == fromIndex)
  }

  test("appendToIndex: base+delta probe is bit-identical to a one-shot build over the union") {
    val delta = Seq((5L, "cat cat cat cat"), (6L, "fish dog")).toDF("doc_id", "text")
    val union = docsFixture.union(delta)

    val incDir = tempDir("fts_spec_inc_").toString
    val base = Fts.build(docsFixture, "text", "doc_id", incDir)
    val inc = Fts.appendToIndex(base, delta, "text", "doc_id")

    val oneShot = Fts.build(union, "text", "doc_id",
      tempDir("fts_spec_full_").toString)
    assert(inc.nDocs == oneShot.nDocs)
    assert(math.abs(inc.avgdl - oneShot.avgdl) < 1e-12)

    for (terms <- Seq(Seq("cat"), Seq("cat", "dog"), Seq("fish", "bird", "cat"))) {
      val probed = Fts.probe(spark, inc, "doc_id", terms, k = 10).collect().toSeq
      val full = Fts.probe(spark, oneShot, "doc_id", terms, k = 10).collect().toSeq
      assert(probed == full, s"incremental probe != one-shot for terms=$terms")
    }
    // the semantic sidecar is maintained too
    val semInc = Fts.semanticProbe(spark, inc, "doc_id", "cat fish", k = 6).collect().toSeq
    val semFull = Fts.semanticProbe(spark, oneShot, "doc_id", "cat fish", k = 6).collect().toSeq
    assert(semInc == semFull)
    // term pruning still reaches the scan across base+delta files
    val plan = Fts.probe(spark, inc, "doc_id", Seq("cat", "dog"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"))
  }

  test("retrievalEval: self + paraphrase ranks are consistent MRR components") {
    val out = Queries.retrievalEval(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq == ((0L until 8L) ++ (100L until 108L)),
      "one row per eval query, both classes")
    out.foreach { case (qid, variant, rank, rr) =>
      assert(variant == (if (qid < 100) "self" else "para"), s"q$qid variant $variant")
      if (rank == 0L) assert(rr == 0.0, s"q$qid: miss must have rr 0")
      else {
        assert(rank >= 1L && rank <= 10L)
        assert(math.abs(rr - BigDecimal(1.0 / rank).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12,
          s"q$qid: rr $rr != 1/$rank")
      }
    }
    // on this corpus at least some self-retrievals must land in the
    // top-10; paraphrase hits are corpus-dependent (they DO hit at
    // sf0.01 — the structural checks above pin the class regardless)
    assert(out.exists(o => o._1 < 100 && o._3 > 0L), "no self query found its document")
  }

  test("rebuild after new documents land refreshes the same index dir (store.py:197 replace=True)") {
    val dir = tempDir("fts_spec_").toString
    Fts.build(docsFixture, "text", "doc_id", dir)
    val more = docsFixture.union(Seq((5L, "cat cat cat cat")).toDF("doc_id", "text"))
    val idx2 = Fts.build(more, "text", "doc_id", dir)
    assert(idx2.nDocs == 5.0)
    val top = Fts.probe(spark, idx2, "doc_id", Seq("cat"), k = 1).collect().head
    assert(top.getLong(0) == 5L, "the new all-cat doc must rank first after rebuild")
  }

  test("deleteFromIndex: tombstoned probe scores bit-identically to a live-only rebuild") {
    val dir = tempDir("graft_fts_del").toString
    val full = Fts.build(docsFixture, "text", "doc_id", dir)
    val deleted = Fts.deleteFromIndex(spark, full,
      docsFixture.filter(col("doc_id") === 3L).select("doc_id"), "doc_id")
    // stats shrink exactly: doc 3 had 3 tokens
    assert(deleted.nDocs == 3.0 && deleted.sumDl == full.sumDl - 3.0)
    val got = Fts.probe(spark, deleted, "doc_id", Seq("cat", "dog"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(!got.exists(_._1 == 3L), "tombstoned doc must not surface")
    // from-scratch build over the live corpus: same ids AND same scores
    // (df for 'dog' shrinks from 3 to 2 — the idf must move with it)
    val live = Fts.build(docsFixture.filter(col("doc_id") =!= 3L), "text", "doc_id",
      tempDir("graft_fts_live").toString)
    val expect = Fts.probe(spark, live, "doc_id", Seq("cat", "dog"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect, s"tombstoned vs rebuilt diverge:\n$got\n$expect")
  }

  test("deleteFromIndex is idempotent: re-deleting tombstoned ids never drifts the stats") {
    val dir = tempDir("graft_fts_del_idem").toString
    val full = Fts.build(docsFixture, "text", "doc_id", dir)
    val once = Fts.deleteFromIndex(spark, full,
      docsFixture.filter(col("doc_id") === 3L).select("doc_id"), "doc_id")
    // same id again, plus an overlapping batch: stats must not move twice
    val twice = Fts.deleteFromIndex(spark, once,
      docsFixture.filter(col("doc_id") === 3L).select("doc_id"), "doc_id")
    assert(twice.nDocs == once.nDocs && twice.sumDl == once.sumDl,
      s"re-delete drifted stats: $twice vs $once")
    val overlap = Fts.deleteFromIndex(spark, twice,
      docsFixture.filter(col("doc_id").isin(3L, 2L)).select("doc_id"), "doc_id")
    assert(overlap.nDocs == once.nDocs - 1 && overlap.sumDl == once.sumDl - 2.0,
      s"overlapping batch must decrement only the fresh id: $overlap")
    val got = Fts.probe(spark, overlap, "doc_id", Seq("cat", "dog"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(!got.contains(3L) && !got.contains(2L))
  }

  test("ALL probe families honor tombstones: probeBatch and the semantic sidecar probes") {
    val dir = tempDir("graft_fts_del_all").toString
    val full = Fts.build(docsFixture, "text", "doc_id", dir)
    val deleted = Fts.deleteFromIndex(spark, full,
      docsFixture.filter(col("doc_id") === 4L).select("doc_id"), "doc_id")
    val batch = Fts.probeBatch(spark, deleted, "doc_id",
      Seq(0L -> Seq("bird"), 1L -> Seq("cat", "fish")), k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(!batch.contains(4L), "probeBatch served a deleted doc")
    val sem = Fts.semanticProbe(spark, deleted, "doc_id", "bird cat fish", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(!sem.contains(4L), "semanticProbe served a deleted doc")
    val semBatch = Fts.semanticProbeBatch(spark, deleted, "doc_id",
      Seq(0L -> "bird cat", 1L -> "dog fish"), k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(!semBatch.contains(4L), "semanticProbeBatch served a deleted doc")
    // batch probe scores over the live corpus equal a live-only rebuild
    val live = Fts.build(docsFixture.filter(col("doc_id") =!= 4L), "text", "doc_id",
      tempDir("graft_fts_live_all").toString)
    val got = Fts.probeBatch(spark, deleted, "doc_id", Seq(0L -> Seq("cat", "dog")), k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val expect = Fts.probeBatch(spark, live, "doc_id", Seq(0L -> Seq("cat", "dog")), k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect, s"live-face batch probe diverges from rebuild:\n$got\n$expect")
  }

  test("stats: live books balance through build, delete and compaction") {
    val dir = tempDir("graft_fts_stats").toString
    val full = Fts.build(docsFixture, "text", "doc_id", dir)
    def row(idx: Fts.Index) = Fts.stats(spark, idx, "doc_id").collect().head
    val r0 = row(full)
    // corpus: 4 docs, 14 tokens, distinct (doc, term) postings = 10
    assert(r0.getLong(0) == 4L, "distinct terms: cat dog bird fish")
    assert(r0.getLong(1) == 10L, s"postings: ${r0.getLong(1)}")
    assert(r0.getLong(2) == 4L && r0.getDouble(3) == 3.5)
    val deleted = Fts.deleteFromIndex(spark, full,
      docsFixture.filter(col("doc_id") === 4L).select("doc_id"), "doc_id")
    val r1 = row(deleted)
    // doc 4 carried 4 distinct-term postings and 5 tokens
    assert(r1.getLong(1) == 6L && r1.getLong(2) == 3L)
    assert(r1.getDouble(3) == (14.0 - 5.0) / 3.0)
    val compacted = Fts.compact(spark, deleted, "doc_id",
      tempDir("graft_fts_stats_c").toString)
    assert(row(compacted) == r1, "compaction must not move the books")
  }

  test("maintain: the threshold policy folds the FTS layout IN PLACE; probes and stats carry") {
    val dir = tempDir("graft_fts_maint").toString
    val base = Fts.build(docsFixture.filter(col("doc_id") <= 2L), "text", "doc_id", dir)
    val i1 = Fts.appendToIndex(base, docsFixture.filter(col("doc_id") === 3L), "text", "doc_id")
    val i2 = Fts.appendToIndex(i1, docsFixture.filter(col("doc_id") === 4L), "text", "doc_id")
    val del = Fts.deleteFromIndex(spark, i2, Seq(Tuple1(1L)).toDF("doc_id"), "doc_id")
    val terms = Seq("cat", "dog", "fish")
    val before = Fts.probe(spark, del, "doc_id", terms, k = 10).collect().toSeq
    val (kept, rep) = Fts.maintain(spark, del, "doc_id", maxDeltaAppends = 1)
    assert(rep.compacted && rep.deltaAppends == 2 && rep.tombstones == 1L, rep.toString)
    assert(kept.dir == del.dir && kept.nDocs == del.nDocs && kept.sumDl == del.sumDl,
      "the index handle is unchanged — same path, same carried stats")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_tombstones")),
      "the fold clears the sidecar")
    assert(Fts.probe(spark, kept, "doc_id", terms, k = 10).collect().toSeq == before,
      "probes over the folded layout score bit-identically (stale handles invalidated)")
    val semBefore = Fts.semanticProbe(spark, kept, "doc_id", "cat dog", k = 10).collect().toSeq
    assert(semBefore.nonEmpty, "the semantic sidecar survived the in-place fold")
    val (_, rep2) = Fts.maintain(spark, kept, "doc_id", maxDeltaAppends = 1)
    assert(!rep2.compacted, "pressure relieved — the second call is a no-op")
  }

  test("compact: append + delete fold into a clean layout scoring bit-identically") {
    val dir = tempDir("graft_fts_cmp").toString
    val base = Fts.build(docsFixture.filter(col("doc_id") <= 3L), "text", "doc_id", dir)
    val appended = Fts.appendToIndex(base,
      docsFixture.filter(col("doc_id") === 4L), "text", "doc_id")
    val deleted = Fts.deleteFromIndex(spark, appended,
      docsFixture.filter(col("doc_id") === 3L).select("doc_id"), "doc_id")
    val out = tempDir("graft_fts_cmp_out").toString
    val compacted = Fts.compact(spark, deleted, "doc_id", out)
    // stats carry over; the sidecar does NOT
    assert(compacted.nDocs == deleted.nDocs && compacted.sumDl == deleted.sumDl)
    assert(!Files.exists(java.nio.file.Paths.get(out, "_tombstones")))
    // every probe family scores the compacted layout == the tombstoned one
    for (terms <- Seq(Seq("cat"), Seq("cat", "dog"), Seq("fish", "bird"))) {
      val a = Fts.probe(spark, compacted, "doc_id", terms, k = 10).collect().toSeq
      val b = Fts.probe(spark, deleted, "doc_id", terms, k = 10).collect().toSeq
      assert(a == b, s"compacted vs tombstoned diverge for $terms:\n$a\n$b")
    }
    val semA = Fts.semanticProbe(spark, compacted, "doc_id", "cat dog fish", k = 10)
      .collect().toSeq
    val semB = Fts.semanticProbe(spark, deleted, "doc_id", "cat dog fish", k = 10)
      .collect().toSeq
    assert(semA == semB)
    // ... and equals a from-scratch build over the live corpus
    val live = Fts.build(
      docsFixture.filter(col("doc_id") =!= 3L), "text", "doc_id",
      tempDir("graft_fts_cmp_live").toString)
    val a = Fts.probe(spark, compacted, "doc_id", Seq("cat", "dog"), k = 10).collect().toSeq
    val b = Fts.probe(spark, live, "doc_id", Seq("cat", "dog"), k = 10).collect().toSeq
    assert(a == b, s"compacted vs live rebuild diverge:\n$a\n$b")
    // compaction restores the bounded file count a delta append grew
    def nFiles(d: String) = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(d, "postings"))
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    assert(nFiles(out) <= nFiles(dir),
      s"compaction must not grow the segment count: ${nFiles(out)} vs ${nFiles(dir)}")
  }

  test("appendToIndex: a failed segment write returns only after every sibling write has stopped") {
    val dir = tempDir("graft_fts_fail_")
    val base = Fts.build(docsFixture, "text", "doc_id", dir.toString)
    // a regular file where the postings segment dir should be: only the
    // postings write fails, at job setup, before any of its jobs runs
    val postings = dir.resolve("postings")
    val old = Files.walk(postings)
    try old.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(p => Files.delete(p))
    finally old.close()
    Files.write(postings, Array[Byte](1))
    val delta = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    def landed(): Set[String] = {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p)).map(p => dir.relativize(p).toString)
        .toArray.map(_.toString).toSet
      finally s.close()
    }
    val tracker = spark.sparkContext.statusTracker
    intercept[Exception](Fts.appendToIndex(base, delta, "text", "doc_id"))
    val active = tracker.getActiveJobIds.toSeq
    val atReturn = landed()
    // let any straggler finish before looking at the files again
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(500)
    assert(active.isEmpty, s"jobs $active still running when the failure reached the caller")
    assert(landed() == atReturn,
      s"files landed after the failure returned: ${landed() -- atReturn}")
  }
}
