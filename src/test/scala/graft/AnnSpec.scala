package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._

/** ANN index build + probe quality (SURVEY §2 A15/C2): probe recall vs
  * exact top-k must be ≥ 0.9 at nProbe=3 of 10 cells on the test
  * embeddings.
  */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("IVF probe achieves >= 0.9 recall vs exact top-10") {
    val embs = Tables.embeddings(spark, sf)
    val queryDf = embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    val index = Ann.build(embs, "embedding", "vec_id", k = 10, seed = 42)
    val probe = Ann.probe(index.assigned, queryDf, "q_vec", "embedding", "vec_id", topK = 10,
        cells = cellsOf(index.centroids, queryDf, 3))
      .select("vec_id").as[Long].collect().toSet
    val exact = Ann.exact(embs, queryDf, "embedding", "q_vec", "vec_id", topK = 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (probe & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall; probe=$probe exact=$exact")
  }

  test("recall sweep: recall@10 is monotone in nProbe and reaches 1.0 at full probe depth") {
    val rows = Queries.annRecallSweep(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (1L to 5L), "one row per nProbe")
    val recalls = rows.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall must not decrease with nProbe: ${recalls.toSeq}")
    assert(recalls.last >= 0.9, s"deep probe must reach high recall: ${recalls.last}")
    // consistency with the single-point ann_recall query (nProbe=3)
    val point = Queries.annRecall(spark, sf).collect().head.getDouble(2)
    assert(rows.find(_._1 == 3L).get._2 == point, "sweep must agree with ann_recall at n=3")
  }

  test("build assigns every vector to one of k clusters") {
    val index = Ann.build(Tables.embeddings(spark, sf), "embedding", "vec_id", k = 10, seed = 42)
    assert(index.assigned.count() == 500)
    val clusters = index.assigned.select("cluster").distinct().as[Int].collect().toSet
    assert(clusters.subsetOf((0 until 10).toSet) && clusters.size > 1)
  }

  test("incremental append: probe finds new vectors without rebuild, old recall unchanged") {
    val embs = Tables.embeddings(spark, sf)
    val queryDf = embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    val index = Ann.build(embs, "embedding", "vec_id", k = 10, seed = 42)
    val dir = tempDir("annappend").toString + "/idx"
    Ann.writeIndex(index, dir)
    def probe(): Set[Long] =
      Ann.probe(Ann.liveLayout(spark, dir, "vec_id"), queryDf, "q_vec", "embedding", "vec_id",
          topK = 10, cells = cellsOf(index.centroids, queryDf, 3))
        .select("vec_id").as[Long].collect().toSet

    val before = probe()

    // Upsert a near-copy of the query vector under a fresh id: it must
    // land in the query's own cell and dominate the probe's top-k.
    val delta = queryDf
      .select(lit(999999L).as("vec_id"), lit(-1).as("label"), col("q_vec").as("embedding"))
    Ann.appendToIndex(dir, delta, "embedding", index.centroids)

    val after = probe()
    assert(after.contains(999999L), s"appended vector not visible to probe: $after")
    // old neighbors unchanged modulo the one slot the new exact-match takes
    assert((before -- after).size <= 1, s"old recall degraded: before=$before after=$after")

    // drift metric: the delta (drawn from the same distribution) should
    // cost no more than ~the corpus-wide assignment cost
    val corpusCost = Ann.assignmentCost(embs, "embedding", index.centroids)
    val deltaCost = Ann.assignmentCost(delta, "embedding", index.centroids)
    assert(deltaCost <= corpusCost * 2,
      s"unexpected drift signal: delta=$deltaCost corpus=$corpusCost")
  }

  test("maintainIndex appends in-distribution deltas, rebuilds on drift") {
    val embs = Tables.embeddings(spark, sf)
    val index = Ann.build(embs, "embedding", "vec_id", k = 10, seed = 42)
    val baseCost = Ann.assignmentCost(embs, "embedding", index.centroids)
    val dir = tempDir("annmaint").toString + "/idx"
    Ann.writeIndex(index, dir)

    // in-distribution delta: fresh ids over the SAME vectors — cost
    // ratio is exactly 1.0, any drift factor > 1 appends
    val inDist = embs.limit(20)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"), col("label"))
    val (cents1, rep1) = Ann.maintainIndex(spark, dir, inDist, "embedding", "vec_id",
      index.centroids, baseCost, driftFactor = 1.05)
    assert(!rep1.rebuilt && (cents1 eq index.centroids))
    assert(rep1.deltaCost <= baseCost * 1.05)
    assert(spark.read.parquet(dir).filter(col("vec_id") >= 500000L).count() == 20)

    // drifted delta: a tight cluster at the antipode of the strongest
    // centroid — the farthest a unit vector gets from this model
    val c0 = index.centroids.maxBy(c => c.map(x => x * x).sum)
    val n0 = math.sqrt(c0.map(x => x * x).sum)
    val anti = c0.map(x => (-x / n0).toFloat)
    import spark.implicits._
    val drifted = spark.range(50)
      .select((col("id") + 700000L).as("vec_id"),
        typedLit(anti.toSeq).as("embedding"))
    val (cents2, rep2) = Ann.maintainIndex(spark, dir, drifted, "embedding", "vec_id",
      index.centroids, baseCost, driftFactor = 1.05)
    assert(rep2.deltaCost > baseCost * 1.05,
      s"drift not detected: ${rep2.deltaCost} vs base $baseCost")
    assert(rep2.rebuilt, "drifted delta must trigger re-cluster")
    // rebuilt layout contains everything and the new centroids fit the
    // mixed distribution better than the old ones
    val rebuilt = spark.read.parquet(dir)
    assert(rebuilt.count() == embs.count() + 20 + 50)
    val mixedOld = Ann.assignmentCost(rebuilt, "embedding", index.centroids)
    val mixedNew = Ann.assignmentCost(rebuilt, "embedding", cents2)
    assert(mixedNew < mixedOld, s"rebuild did not improve fit: $mixedNew vs $mixedOld")
  }

  test("probeBatchPersisted equals probeBatch and prunes the partitioned layout") {
    val embs = Tables.embeddings(spark, sf)
    val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)
    val inMem = Queries.annBatchProbe(spark, sf).collect().map(_.toSeq).toSeq
    val persisted = Queries.annBatchPersisted(spark, sf)
    assert(persisted.collect().map(_.toSeq).toSeq == inMem,
      "disk-served batch probe must equal the in-session batch probe")
    // the scan must be the partitioned layout joined on its partition
    // column with a broadcast cell table — DPP's precondition
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
      s"expected partition pruning over the cluster layout:\n$plan")
  }

  test("prefiltered probe: every hit satisfies the predicate, pushed into the pruned scan") {
    val out = Queries.annFiltered(spark, sf)
    val rows = out.collect()
    assert(rows.length == 10, s"prefilter must still fill the top-k: ${rows.length}")
    assert(rows.forall(r => Set(2, 5).contains(r.getInt(2))),
      "a result row violates the label prefilter")
    // prefilter ≠ postfilter: filtering the UNfiltered probe's top 10
    // afterwards must lose hits (labels 2,5 are ~1/5 of the corpus)
    val post = Queries.annProbe(spark, sf)
      .join(Tables.embeddings(spark, sf).select(col("vec_id"), col("label")), "vec_id")
      .filter(col("label").isin(2, 5)).count()
    assert(post < 10, s"postfilter kept $post — corpus too uniform to pin prefilter semantics")
    // both prunings visible in the plan: cluster partitions + label row groups
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition pruning:\n${plan.take(1200)}")
    assert(plan.contains("PushedFilters") && plan.contains("In(label"),
      s"expected the label prefilter pushed to parquet:\n${plan.take(1200)}")
  }

  test("ann_incremental query: persisted base+delta probe equals the in-memory probe") {
    val rows = Queries.annIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 10)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-_).toSeq, "cos_sim not descending")
    // cross-check: same centroids applied in-memory over ALL vectors
    // (base ∪ delta) through the in-memory probe must reproduce the persisted path
    val embs = Tables.embeddings(spark, sf)
    val base = embs.filter(col("vec_id") % 10 =!= 7)
    val index = Ann.buildCached(sf + "#incr-base", base, "embedding", "vec_id", k = 10, seed = 42)
    val queryDf = embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    val cells = Ann.nearestCells(index.centroids, Ann.queryVector(queryDf, "q_vec"), 3)
    val inMem = Ann
      .probe(Ann.assign(embs, "embedding", index.centroids), queryDf, "q_vec", "embedding",
        "vec_id", topK = 10, cells = cells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == inMem.toSeq, s"persisted vs in-memory diverge:\n$rows\n$inMem")
    // the 10% delta is present in the probed layout (visibility, not luck)
    val persistedHasDelta = rows.exists(_._1 % 10 == 7)
    val inMemHasDelta = inMem.exists(_._1 % 10 == 7)
    assert(persistedHasDelta == inMemHasDelta)
  }

  test("ann_deleted: tombstoned rows never surface and live top-k back-fills to k") {
    val out = Queries.annDeleted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.length == 10, "anti-join before the heap must back-fill to k")
    assert(out.forall(_._1 % 10 != 3), s"tombstoned ids surfaced: ${out.toSeq}")
    // equals the from-scratch probe over the corpus minus the deleted set
    val embs = Tables.embeddings(spark, sf)
    val live = embs.filter(col("vec_id") % 10 =!= 3)
    val queryDf = embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)
    val cells = Ann.nearestCells(
      index.centroids, Ann.queryVector(queryDf, "q_vec"), nProbe = 3)
    val expected = graft.operators.Search
      .knnTopK(Ann.assign(live, "embedding", index.centroids)
        .filter(col("cluster").isInCollection(cells)),
        queryDf, "embedding", "q_vec", "vec_id", 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    assert(out.toSeq == expected.toSeq, s"live probe diverges:\n${out.toSeq}\n${expected.toSeq}")
  }

  test("compact: tombstoned layout rewrites live-only; plain probe equals the live probe") {
    val out = Queries.annCompacted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val viaTombstones = Queries.annDeleted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(out == viaTombstones,
      s"compacted probe diverges from tombstoned live probe:\n$out\n$viaTombstones")
    assert(out.length == 10 && out.forall(_._1 % 10 != 3))
    // the compacted layout carries no sidecar and no deleted rows at all
    val path = {
      // recompute the memoized layout key's path via a fresh probe plan
      val index = Ann.buildCached(sf, Tables.embeddings(spark, sf),
        "embedding", "vec_id", k = 10, seed = 42)
      graft.operators.LayoutCache.getOrWrite(s"annidx_compacted:$sf")(_ => fail("must be memoized"))
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_tombstones")))
    val rows = spark.read.parquet(path)
    assert(rows.filter(col("vec_id") % 10 === 3).count() == 0,
      "compaction must drop tombstoned rows physically")
  }

  test("persisted probe of a delete-free layout equals the in-memory Index probe") {
    val embs = Tables.embeddings(spark, sf)
    val queryDf = embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)
    val path = tempDir("graft_ann_nodelete").resolve("idx").toString
    Ann.writeIndex(index, path)
    // never deleted from: no sidecar, so the live face is the raw layout
    assert(!Ann.hasTombstones(path))
    val cells = cellsOf(index.centroids, queryDf, 3)
    val persisted = Ann.probe(Ann.liveLayout(spark, path, "vec_id"), queryDf, "q_vec",
        "embedding", "vec_id", topK = 10, cells = cells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inMem = Ann.probe(index.assigned, queryDf, "q_vec", "embedding", "vec_id", topK = 10,
        cells = cells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(persisted.length == 10)
    assert(persisted == inMem, s"delete-free persisted probe diverges:\n$persisted\n$inMem")
  }

  test("stats books balance: counts sum to the corpus, bounds hold, skew detected") {
    val embs = Tables.embeddings(spark, sf)
    val n = embs.count()
    val index = Ann.build(embs, "embedding", "vec_id", k = 10, seed = 42)
    val r = Ann.stats(index).collect().head
    val (nlist, nv, nEmpty, mn, mx, avg, bal) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6))
    assert(nlist == 10 && nv == n && nEmpty >= 0 && nEmpty < nlist)
    assert(mn >= 1 && mn <= mx && mx <= nv)
    assert(math.abs(avg - nv.toDouble / nlist) < 1e-5)
    assert(bal >= 1.0 - 1e-9 && bal == {
      BigDecimal(mx / (nv.toDouble / nlist)).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    })
    // A deliberately skewed corpus (all duplicates of one vector plus
    // one outlier) must show up in the balance factor.
    import spark.implicits._
    val v = Array.fill(4)(1.0f); val w = Array.fill(4)(-1.0f)
    val skewed = ((0L until 99L).map(i => (i, v)) :+ (99L, w)).toDF("vec_id", "embedding")
    val sk = Ann.stats(Ann.build(skewed, "embedding", "vec_id", k = 4, seed = 1)).collect().head
    // (k-means may split the duplicate mass across tied centroids, so
    // the observable floor is well under the nominal 3x)
    assert(sk.getDouble(6) >= 1.5, s"expected skew, balance=${sk.getDouble(6)}")
  }

  test("coarse-quantizer fit reads <= ~fitTarget rows at any corpus size (5M-row bound)") {
    import org.apache.spark.sql.functions._
    // 5M synthetic rows, never materialized wholesale: the fit-sample
    // contract is what keeps a 10^9-vector quantizer build viable —
    // the KMeans fit consumes ONLY the bounded Bernoulli sample, the
    // corpus never passes through it (PLANS.md carries the measured
    // fit-cost table from ScaleCheck's ivf section).
    val n = 5000000L
    val k = 100
    val df = spark.range(n).select(col("id").as("vec_id"))
    val target = graft.operators.Ann.fitTarget(k) // 25600
    val sampleRows = graft.operators.Ann.fitSample(df, n, k, seed = 42L).count()
    // Binomial(n, target/n): mean = target, sd = sqrt(target) ≈ 160.
    // 6 sd is a never-flakes bound that still certifies boundedness.
    val slack = 6 * math.sqrt(target.toDouble).toLong
    assert(sampleRows <= target + slack && sampleRows >= target - slack,
      s"fit sample must stay ~$target rows at n=$n, got $sampleRows")
    // tiny corpora skip sampling entirely (the fit IS the corpus)
    val small = spark.range(1000).toDF("vec_id")
    assert(graft.operators.Ann.fitSample(small, 1000L, k, 42L).count() == 1000L)
  }
}
