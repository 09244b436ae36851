package graft

import graft.operators.{Ann, Bq, Matryoshka, Pq, Sq}
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
  * with no partition filter.
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
    java.nio.file.Files.createTempDirectory(s"graft_fold_$tag").resolve("idx").toString

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
}
