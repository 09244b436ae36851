package graft

import graft.operators.{Ann, Skew}
import org.apache.spark.sql.functions._

class SkewAndLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the plain-join result on skewed data") {
    // 90% of fact rows share one hot key
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, i.toLong))
      .toDF("key", "row_id")
    val dim = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c")).toDF("key", "label")
    val plain = fact.join(dim, "key").select("key", "row_id", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(fact, dim, "key", "row_id", saltFactor = 8)
      .select("key", "row_id", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.count(_._1 == 42L) > 1000) // the skew is real
  }

  test("persisted ANN index prunes partitions at the scan") {
    val dir = tempDir("graft_ivf").resolve("idx").toString
    val index = Ann.buildCached(sf, Tables.embeddings(spark, sf), "embedding", "vec_id", k = 10, seed = 42)
    Ann.writeIndex(index, dir)

    val queryDf = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec"))
    val cells = cellsOf(index.centroids, queryDf, 3)
    val probed = Ann.probe(Ann.liveLayout(spark, dir, "vec_id"), queryDf, "q_vec", "embedding",
      "vec_id", topK = 10, cells = cells)

    // identical results to the in-memory probe
    val inMem = Ann.probe(index.assigned, queryDf, "q_vec", "embedding", "vec_id", topK = 10,
        cells = cells)
      .select("vec_id").as[Long].collect().toSet
    assert(probed.select("vec_id").as[Long].collect().toSet == inMem)

    // and the pruning is structural: the scan selects only the probed
    // cluster partitions (PartitionFilters, not a post-scan filter)
    val pruned = spark.read.parquet(dir).filter(col("cluster").isInCollection(Seq(0, 1, 2)))
    pruned.count()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("cluster"),
      s"cluster filter must reach the partition level: ${scan.metadata}")
    assert(scan.selectedPartitions.partitionCount == 3,
      s"expected 3 of 10 cluster partitions, got ${scan.selectedPartitions.partitionCount}")
  }

  test("keyStats reports the planted hot key's share, top-k share and cv exactly") {
    import spark.implicits._
    // key 1 appears 60×, keys 2..21 appear 2× each → 100 rows, 21 keys
    val rows = Seq.fill(60)(1L) ++ (2L to 21L).flatMap(k => Seq(k, k))
    val out = graft.operators.Skew.keyStats(rows.toDF("k"), "k").head()
    assert(out.getLong(0) == 100 && out.getLong(1) == 21 && out.getLong(2) == 60)
    assert(out.getDouble(3) == 0.6, s"max_share ${out.getDouble(3)}")
    // top-10 = hot(60) + nine 2s = 78
    assert(out.getDouble(4) == 0.78, s"top10_share ${out.getDouble(4)}")
    // counts: one 60, twenty 2s → Σc=100, Σc²=3680; cv = sqrt(21*3680-10000)/100
    val cv = BigDecimal(math.sqrt(21.0 * 3680 - 10000) / 100)
      .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getDouble(5) == cv, s"cv ${out.getDouble(5)} != $cv")
    // a uniform key has cv 0 and max_share 1/n
    val uni = graft.operators.Skew.keyStats((1L to 50L).toDF("k"), "k").head()
    assert(uni.getDouble(5) == 0.0 && uni.getDouble(3) == 0.02)
  }
}
