package graft

import graft.operators.{Ann, Bq, Fts, Matryoshka, Pq, Sq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The equivalences the one-probe-per-family design rests on. A query
  * relation without a `query_id` column is ONE query (static cell
  * filter, `orderBy.limit` heaps); with one it is a BATCH (per-query
  * cells in its `cluster` column, per-query TopK heaps). For every IVF
  * family the single-query probe must equal the |Q| = 1 batch probe
  * row for row once the batch's `query_id` and `rk` are dropped — so
  * the single-query shape is a driver-latency choice, never a
  * semantic one. And every flat (unpartitioned) probe must equal its
  * family's IVF probe over every cell: the flat form is the same core
  * with no partition filter. The text probes follow the same rule:
  * Fts's BM25 and semantic single-query probes are the |Q| = 1 batch
  * of their core, over every index state.
  */
class ProbeFoldSpec extends SparkSpec {

  private lazy val embs = Tables.embeddings(spark, sf)
  private lazy val base = embs.select("vec_id", "embedding")
  private lazy val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)
  private lazy val rot = Bq.rotationMatrix(64, seed = 7L)
  private lazy val pqModel = Pq.train(base, "embedding", "vec_id", m = 8, codes = 16)
  private lazy val pqrModel =
    Pq.trainResidual(base, "embedding", "vec_id", index.centroids, m = 8, codes = 16)

  private def layoutDir(tag: String): String =
    tempDir(s"graft_fold_$tag").resolve("idx").toString

  private def tombstone(path: String): Unit =
    Ann.deleteFromIndex(spark, path,
      embs.filter(col("vec_id") % 10 === 3).select("vec_id"), "vec_id")

  /** family → its persisted layout, written once. */
  private lazy val layouts: Map[String, String] = {
    val ann = layoutDir("ann")
    Ann.writeIndex(index, ann)
    val annDel = layoutDir("ann_del")
    Ann.writeIndex(index, annDel)
    tombstone(annDel)
    val sq = layoutDir("sq")
    Sq.writeIvfSq(sq, base, "embedding", "vec_id", index.centroids)
    val mrl = layoutDir("mrl")
    Matryoshka.writeIvfMrl(mrl, base, "embedding", "vec_id", index.centroids, dPrefix = 16)
    val bq = layoutDir("bq")
    Bq.writeIvfBq(bq, base, "embedding", "vec_id", index.centroids)
    val bqRot = layoutDir("bq_rot")
    Bq.writeIvfBqRotated(bqRot, base, "embedding", "vec_id", index.centroids, rot)
    val pq = layoutDir("pq")
    Pq.writeIvfPq(pq, base, "embedding", "vec_id", index.centroids, pqModel)
    val pqr = layoutDir("pqr")
    Pq.writeIvfPqResidual(pqr, base, "embedding", "vec_id", index.centroids, pqrModel)
    val pqrDel = layoutDir("pqr_del")
    Pq.writeIvfPqResidual(pqrDel, base, "embedding", "vec_id", index.centroids, pqrModel)
    tombstone(pqrDel)
    Map("ann" -> ann, "ann_tombstoned" -> annDel, "sq" -> sq, "mrl" -> mrl, "bq" -> bq,
      "bq_rotated" -> bqRot, "pq" -> pq, "pq_residual" -> pqr,
      "pq_residual_tombstoned" -> pqrDel)
  }

  private type Probe = (DataFrame, Seq[Int]) => DataFrame

  /** family → IVF probe(query relation, one query's cells). PQ ranks its
    * own 3 cells (`nProbe`), the same ones [[cellsOf]] picks.
    */
  private def ivf(family: String): Probe = {
    val path = layouts(family)
    def pqOver(model: Pq.Model): Probe = (q, _) =>
      Pq.probeIvf(spark, path, index.centroids, model, q, "q_vec", "embedding", "vec_id",
        nProbe = 3, k = 5, refineFactor = 4)
    family match {
      case "ann" | "ann_tombstoned" => (q, cells) =>
        Ann.probe(Ann.liveLayout(spark, path, "vec_id"), q, "q_vec", "embedding", "vec_id",
          topK = 5, cells = cells)
      case "sq" => (q, cells) => Sq.probeIvf(spark, path, Some(base), q, "q_vec", "vec_id",
        "embedding", cells = cells, k = 5, refine = 20)
      case "mrl" => (q, cells) => Matryoshka.probeIvf(spark, path, Some(base), q, "q_vec",
        "vec_id", "embedding", cells = cells, dPrefix = 16, k = 5, refine = 20)
      case "bq" => (q, cells) => Bq.probeIvf(spark, path, Some(base), q, "q_vec", "vec_id",
        "embedding", cells = cells, k = 5, refine = 20)
      case "bq_rotated" => (q, cells) => Bq.probeIvf(spark, path, Some(base), q, "q_vec",
        "vec_id", "embedding", cells = cells, rot = Some(rot), k = 5, refine = 20)
      case "pq" => pqOver(pqModel)
      case _ => pqOver(pqrModel)
    }
  }

  private def queryOf(qid: Long): DataFrame =
    embs.filter(col("vec_id") === qid).select(col("embedding").as("q_vec"))

  for (family <- Seq("ann", "ann_tombstoned", "sq", "mrl", "bq_rotated", "pq", "pq_residual",
                     "pq_residual_tombstoned"))
    test(s"$family: single-query probe equals the |Q| = 1 batch probe row for row") {
      val probe = ivf(family)
      (0L until 4L).foreach { qid =>
        val queryDf = queryOf(qid)
        val singleDf = probe(queryDf, cellsOf(index.centroids, queryDf, 3))
        val plan = singleDf.queryExecution.executedPlan.toString
        // a residual PQ query's ADC tables differ per probed cell, so its
        // one query runs as the |Q| = 1 batch by design
        if (family.startsWith("pq_residual"))
          assert(plan.contains("TopKPerKey"), "a residual PQ query runs as the |Q| = 1 batch")
        else
          assert(plan.contains("TakeOrderedAndProject"),
            "a query relation without query_id must take the orderBy.limit path")
        val single = singleDf.collect().toSeq
        val qCells = Ann.queryCellsLocal(
          embs.filter(col("vec_id") === qid)
            .select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
          "q_vec", "query_id", index.centroids, nProbe = 3)
        val batch = probe(qCells, Nil).orderBy("rk").drop("query_id", "rk").collect().toSeq
        assert(single.length == 5, s"query $qid: ${single.length} rows")
        assert(single == batch, s"$family query $qid:\n single: $single\n batch:  $batch")
        if (family.endsWith("tombstoned"))
          assert(single.forall(_.getLong(0) % 10 != 3), s"query $qid served a tombstoned id")
      }
    }

  /** family → flat probe of the whole corpus, same k and shortlist. */
  private val flat: Map[String, DataFrame => DataFrame] = Map(
    "sq" -> (q => Sq.probe(base, q, "embedding", "q_vec", "vec_id", k = 5, refine = 20)),
    "mrl" -> (q => Matryoshka.probe(base, q, "embedding", "q_vec", "vec_id", dPrefix = 16,
      k = 5, refine = 20)),
    "bq" -> (q => Bq.probe(base, q, "embedding", "q_vec", "vec_id", k = 5, refine = 20)),
    "bq_rotated" -> (q => Bq.probeRotated(base, q, "embedding", "q_vec", "vec_id", rot,
      k = 5, refine = 20)),
    "pq" -> (q => Pq.adcProbe(Pq.encode(base, "embedding", pqModel), pqModel, q, "q_vec",
      "embedding", "vec_id", k = 5, refine = 20)))

  for (family <- Seq("sq", "mrl", "bq", "bq_rotated", "pq"))
    test(s"$family: flat probe equals the IVF probe over every cell") {
      val every = index.centroids.indices
      val probe: Probe =
        if (family == "pq") (q, _) => Pq.probeIvf(spark, layouts("pq"), index.centroids,
          pqModel, q, "q_vec", "embedding", "vec_id", nProbe = every.size, k = 5,
          refineFactor = 4)
        else ivf(family)
      (0L until 4L).foreach { qid =>
        val flatDf = flat(family)(queryOf(qid))
        assert(!flatDf.columns.contains("cluster"), "a flat scan has no cells to carry")
        val got = flatDf.collect().toSeq
        val want = probe(queryOf(qid), every).drop("cluster").collect().toSeq
        assert(got.length == 5, s"query $qid: ${got.length} rows")
        assert(got == want, s"$family query $qid:\n flat: $got\n ivf:  $want")
      }
    }

  test("a local batch with query-side columns still prunes its cells statically") {
    // BQ packs each query and PQ adds its ADC tables on the query side:
    // the driver-known cell union must still reach the scan as a static
    // partition filter, not an every-cell scan
    for (key <- Seq("ann_batch_bq_rotated", "ann_batch_pq", "ann_batch_pqr")) {
      val plan = SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cluster#\\d+ IN \\(".r.findFirstIn(plan).isDefined,
        s"$key scans every cell:\n${plan.take(3000)}")
    }
  }

  test("ann_batch_probe equals per-query single probes (same cells, same ranking)") {
    // shape: 8 queries x top-5, rk 1..5 per query
    val byQ = Queries.annBatchProbe(spark, sf).collect().groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.values.foreach(rows => assert(rows.map(_.getLong(4)).sorted.toSeq == (1L to 5L)))
    // each query's hits equal the single-query probe over ITS OWN cells
    (0L until 8L).foreach { qid =>
      val qDf = queryOf(qid)
      val single = Ann.probe(index.assigned, qDf, "q_vec", "embedding", "vec_id", topK = 5,
          cells = cellsOf(index.centroids, qDf, 3))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val got = byQ(qid).sortBy(_.getLong(4)).map(_.getLong(1)).toSeq
      assert(got == single, s"query $qid: batch $got vs single $single")
    }
  }

  private lazy val docs = Tables.documents(spark, sf)

  private def ftsBuild(d: DataFrame, tag: String): Fts.Index =
    Fts.build(d, "text", "doc_id", tempDir(s"graft_fold_fts_$tag").toString)

  /** index state → its FTS index; the tombstoned and compacted states
    * drop every doc_id ≡ 3 (mod 10).
    */
  private lazy val ftsIndexes: Map[String, Fts.Index] = {
    val tombstoned = Fts.deleteFromIndex(spark, ftsBuild(docs, "del"),
      docs.filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id")
    Map(
      "built" -> ftsBuild(docs, "built"),
      "appended" -> Fts.appendToIndex(ftsBuild(docs.filter(col("doc_id") % 4 =!= 1), "app"),
        docs.filter(col("doc_id") % 4 === 1), "text", "doc_id"),
      "tombstoned" -> tombstoned,
      "compacted" -> Fts.compact(spark, tombstoned, "doc_id",
        tempDir("graft_fold_fts_cmp").toString))
  }

  private def textQueryIds(family: String): Seq[Long] =
    (if (family == "bm25") Queries.BatchTextQueries else Queries.BatchSemanticQueries).map(_._1)

  /** family → one query's single probe, k = 5. */
  private def textSingle(family: String, idx: Fts.Index, qid: Long): DataFrame =
    if (family == "bm25")
      Fts.probe(spark, idx, "doc_id", Queries.BatchTextQueries.toMap.apply(qid), k = 5)
    else Fts.semanticProbe(spark, idx, "doc_id", Queries.BatchSemanticQueries.toMap.apply(qid), k = 5)

  /** family → the batch probe of the queries `qids`, k = 5. */
  private def textBatch(family: String, idx: Fts.Index, qids: Seq[Long]): DataFrame =
    if (family == "bm25")
      Fts.probeBatch(spark, idx, "doc_id", Queries.BatchTextQueries.filter(q => qids.contains(q._1)), k = 5)
    else Fts.semanticProbeBatch(spark, idx, "doc_id",
      Queries.BatchSemanticQueries.filter(q => qids.contains(q._1)), k = 5)

  for (family <- Seq("bm25", "semantic");
       state <- Seq("built", "appended", "tombstoned", "compacted"))
    test(s"$family, $state index: single probe equals the |Q| = 1 batch") {
      val idx = ftsIndexes(state)
      textQueryIds(family).foreach { qid =>
        val singleDf = textSingle(family, idx, qid)
        assert(singleDf.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
          "the one query must take the orderBy.limit path")
        val one = singleDf.collect().toSeq
        val ofBatch = textBatch(family, idx, Seq(qid)).drop("query_id", "rk").collect().toSeq
        assert(one.length == 5, s"query $qid: ${one.length} rows")
        assert(one == ofBatch, s"$family/$state query $qid:\n single: $one\n batch:  $ofBatch")
        if (state == "tombstoned" || state == "compacted")
          assert(one.forall(_.getLong(0) % 10 != 3), s"query $qid served a tombstoned id")
      }
    }

  for (family <- Seq("bm25", "semantic"))
    test(s"$family: batch probe equals per-query single probes") {
      val idx = ftsIndexes("built")
      val qids = textQueryIds(family)
      val batchDf = textBatch(family, idx, qids)
      val got = batchDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      val expected = qids.flatMap { qid =>
        textSingle(family, idx, qid).collect().zipWithIndex.map {
          case (r, i) => (qid, r.getLong(0), r.getDouble(1), (i + 1).toLong)
        }
      }
      assert(got == expected, s"batch diverged:\n$got\nvs\n$expected")
      if (family == "bm25") {
        // one pruned pass: the union term filter reaches the scan
        val plan = batchDf.queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters: [In(term"))
        assert(!plan.contains("SortMergeJoin"), "query/df tables must broadcast")
      }
    }
}
