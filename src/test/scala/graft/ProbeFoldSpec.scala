package graft

import graft.operators.{Ann, Bq, Matryoshka, Sq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The equivalence the one-probe-per-family design rests on. A query
  * relation without a `query_id` column is ONE query (static cell
  * filter, `orderBy.limit` heaps); with one it is a BATCH (per-query
  * cells in its `cluster` column, per-query TopK heaps). For every IVF
  * family the single-query probe must equal the |Q| = 1 batch probe
  * row for row once the batch's `query_id` and `rk` are dropped — so
  * the single-query shape is a driver-latency choice, never a
  * semantic one.
  */
class ProbeFoldSpec extends SparkSpec {

  private lazy val embs = Tables.embeddings(spark, sf)
  private lazy val base = embs.select("vec_id", "embedding")
  private lazy val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)

  private def layoutDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_fold_$tag").resolve("idx").toString

  private type Probe = (DataFrame, Seq[Int]) => DataFrame

  /** family → probe(query relation, one query's cells), over a layout
    * written once per family.
    */
  private lazy val families: Map[String, Probe] = {
    def annOver(path: String): Probe = (q, cells) =>
      Ann.probe(Ann.liveLayout(spark, path, "vec_id"), q, "q_vec", "embedding", "vec_id",
        topK = 5, cells = cells)
    val ann = layoutDir("ann")
    Ann.writeIndex(index, ann)
    val tombstoned = layoutDir("ann_del")
    Ann.writeIndex(index, tombstoned)
    Ann.deleteFromIndex(spark, tombstoned,
      embs.filter(col("vec_id") % 10 === 3).select("vec_id"), "vec_id")
    val sq = layoutDir("sq")
    Sq.writeIvfSq(sq, base, "embedding", "vec_id", index.centroids)
    val mrl = layoutDir("mrl")
    Matryoshka.writeIvfMrl(mrl, base, "embedding", "vec_id", index.centroids, dPrefix = 16)
    val rot = Bq.rotationMatrix(64, seed = 7L)
    val bq = layoutDir("bq")
    Bq.writeIvfBqRotated(bq, base, "embedding", "vec_id", index.centroids, rot)
    Map(
      "ann" -> annOver(ann),
      "ann_tombstoned" -> annOver(tombstoned),
      "sq" -> ((q, cells) => Sq.probeIvf(spark, sq, Some(base), q, "q_vec", "vec_id",
        "embedding", cells = cells, k = 5, refine = 20)),
      "mrl" -> ((q, cells) => Matryoshka.probeIvf(spark, mrl, Some(base), q, "q_vec", "vec_id",
        "embedding", cells = cells, dPrefix = 16, k = 5, refine = 20)),
      "bq_rotated" -> ((q, cells) => Bq.probeIvf(spark, bq, Some(base), q, "q_vec", "vec_id",
        "embedding", cells = cells, rot = Some(rot), k = 5, refine = 20)))
  }

  for (family <- Seq("ann", "ann_tombstoned", "sq", "mrl", "bq_rotated"))
    test(s"$family: single-query probe equals the |Q| = 1 batch probe row for row") {
      val probe = families(family)
      (0L until 4L).foreach { qid =>
        val one = embs.filter(col("vec_id") === qid)
        val queryDf = one.select(col("embedding").as("q_vec"))
        val singleDf = probe(queryDf, cellsOf(index.centroids, queryDf, 3))
        assert(singleDf.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
          "a query relation without query_id must take the orderBy.limit path")
        val single = singleDf.collect().toSeq
        val qCells = Ann.queryCellsLocal(
          one.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
          "q_vec", "query_id", index.centroids, nProbe = 3)
        val batch = probe(qCells, Nil).orderBy("rk").drop("query_id", "rk").collect().toSeq
        assert(single.length == 5, s"query $qid: ${single.length} rows")
        assert(single == batch, s"$family query $qid:\n single: $single\n batch:  $batch")
      }
    }

  test("ann_batch_probe equals per-query single probes (same cells, same ranking)") {
    // shape: 8 queries x top-5, rk 1..5 per query
    val byQ = Queries.annBatchProbe(spark, sf).collect().groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.values.foreach(rows => assert(rows.map(_.getLong(4)).sorted.toSeq == (1L to 5L)))
    // each query's hits equal the single-query probe over ITS OWN cells
    (0L until 8L).foreach { qid =>
      val qDf = embs.filter(col("vec_id") === qid).select(col("embedding").as("q_vec"))
      val single = Ann.probe(index.assigned, qDf, "q_vec", "embedding", "vec_id", topK = 5,
          cells = cellsOf(index.centroids, qDf, 3))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val got = byQ(qid).sortBy(_.getLong(4)).map(_.getLong(1)).toSeq
      assert(got == single, s"query $qid: batch $got vs single $single")
    }
  }
}
