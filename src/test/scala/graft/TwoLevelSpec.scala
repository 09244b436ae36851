package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._

/** Two-level (hierarchical) coarse-quantizer fit — the 10⁹-vector path
  * (PLANS.md: the flat fit's Lloyd work is 256·N, measured to 35 min
  * single-box at 5M vectors; the hierarchy cuts it to ~512·N^{3/4}).
  * Pins: codebook totals/offsets, the hierarchical ASSIGNMENT against a
  * driver recompute (nearest super by the NearestCentroid arithmetic,
  * then nearest sub within that super, flat id = offset + sub), probes
  * working unchanged over the flat concatenated codebook, and recall vs
  * exact at matched nProbe.
  */
class TwoLevelSpec extends SparkSpec {
  import spark.implicits._

  private val k = 16

  test("codebook structure: k total cells, consistent offsets, every row assigned in range") {
    val embs = Tables.embeddings(spark, sf)
    val (index, two) = Ann.buildTwoLevel(embs, "embedding", "vec_id", k, seed = 42)
    assert(two.flat.length == k, s"flat codebook must have $k cells, got ${two.flat.length}")
    assert(two.subCents.map(_.length).sum == k)
    assert(two.offsets.toSeq == two.subCents.scanLeft(0)(_ + _.length).init.toSeq)
    assert(index.centroids.length == k)
    val clusters = index.assigned.select("cluster").as[Int].collect()
    assert(clusters.length == 500 && clusters.forall(c => c >= 0 && c < k))
    assert(clusters.distinct.length > 1)
  }

  test("hierarchical assignment equals the driver recompute (super then sub, first-min ties)") {
    val embs = Tables.embeddings(spark, sf).limit(200)
    val (index, two) = Ann.buildTwoLevel(
      Tables.embeddings(spark, sf), "embedding", "vec_id", k, seed = 42)
    def sq(u: Array[Double], c: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < u.length) { val t = u(i) - c(i); d += t * t; i += 1 }
      d
    }
    def nearestOf(u: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cs.length) { val d = sq(u, cs(c)); if (d < bd) { bd = d; best = c }; c += 1 }
      best
    }
    val got = index.assigned.select(col("vec_id"), col("cluster"))
      .as[(Long, Int)].collect().toMap
    embs.select(col("vec_id"), col("embedding")).collect().foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val u = v.map(_ / nrm)
      val s = nearestOf(u, two.superCents)
      val expect = two.offsets(s) + nearestOf(u, two.subCents(s))
      assert(got(id) == expect, s"vec $id: got ${got(id)}, recompute $expect (super $s)")
    }
  }

  test("probes work unchanged over the flat codebook; recall behaves") {
    val embs = Tables.embeddings(spark, sf)
    val (index, _) = Ann.buildTwoLevel(embs, "embedding", "vec_id", k, seed = 42)
    def qDf(id: Long) =
      embs.filter(col("vec_id") === id).select(col("embedding").as("q_vec"))
    def recallAt(id: Long, nProbe: Int): Double = {
      val exact = Ann.exact(embs, qDf(id), "embedding", "q_vec", "vec_id", topK = 10)
        .select("vec_id").as[Long].collect().toSet
      val probe = Ann.probe(index.assigned, qDf(id), "q_vec", "embedding", "vec_id", topK = 10,
          cells = cellsOf(index.centroids, qDf(id), nProbe))
        .select("vec_id").as[Long].collect().toSet
      (probe & exact).size.toDouble / exact.size
    }
    // Full depth probes every cell = brute force over all rows — MUST
    // be exact regardless of how vectors were assigned (the structural
    // invariant that the flat-codebook probe machinery is intact).
    assert(recallAt(0L, k) == 1.0, "full-depth probe must equal exact")
    // Matched-budget recall on this 500-point NEAR-ISOTROPIC corpus is
    // the hierarchy's worst regime (boundary vectors land in neighbor
    // supers' sub-cells — the documented IMI trade vs the flat fit,
    // which is why flat stays the default below ~10M vectors). A
    // single query's recall at half depth swings ±0.1 with the fitted
    // codebook (now DETERMINISTIC — mapGroups sample sorted before
    // Lloyd — so a one-query bar would pin one arbitrary draw);
    // average over 8 queries instead, which is what the operator
    // contract is about. Real-scale recall lives in the 1M/5M
    // structured studies (PLANS.md).
    // the deterministic fit measures 0.8125 here; the bar sits just
    // under it so any fit/probe change that costs recall fails loudly
    val ids = Seq(0L, 7L, 63L, 127L, 201L, 303L, 404L, 499L)
    val avg = ids.map(recallAt(_, 8)).sum / ids.size
    assert(avg >= 0.8, s"mean recall@nProbe=8 over ${ids.size} queries = $avg")
  }

  test("k = 1 and an empty fit input are rejected up front") {
    val embs = Tables.embeddings(spark, sf)
    intercept[IllegalArgumentException] {
      Ann.buildTwoLevel(embs, "embedding", "vec_id", k = 1, seed = 42)
    }
    intercept[IllegalArgumentException] {
      Ann.buildTwoLevel(embs.filter(col("vec_id") < 0), "embedding", "vec_id",
        k = 4, seed = 42)
    }
  }

  test("two-level append assigns deltas exactly as the base corpus (base+delta == rebuild)") {
    val embs = Tables.embeddings(spark, sf)
    val (index, two) = Ann.buildTwoLevel(embs, "embedding", "vec_id", k, seed = 42)
    val dir = tempDir("twolevelappend").toString + "/idx"
    Ann.writeIndex(index, dir)
    // re-append 40 vectors that already exist in the base layout under
    // shifted ids: with the hierarchical router each copy MUST land in
    // its original's cluster (the flat appendToIndex can disagree on
    // boundary vectors — the drift the two-level-aware verb closes)
    val delta = embs.filter(col("vec_id") < 40)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    Ann.appendToIndexTwoLevel(dir, delta, "embedding", two)
    val stored = spark.read.parquet(dir)
      .select(col("vec_id"), col("cluster").cast("int"))
      .as[(Long, Int)].collect().toMap
    (0L until 40L).foreach { id =>
      assert(stored(id + 100000L) == stored(id),
        s"appended copy of vec $id landed in ${stored(id + 100000L)}, base is in ${stored(id)}")
    }
  }

  test("residual-PQ lifecycle: live face after append+delete equals the compacted rewrite") {
    import graft.operators.Pq
    val embs = Tables.embeddings(spark, sf)
    val base = embs.filter(col("vec_id") % 10 =!= 7)
    val (index, two) = Ann.buildTwoLevel(base, "embedding", "vec_id", k, seed = 42)
    val model = Pq.trainResidual(base, "embedding", "vec_id", index.centroids, m = 8, codes = 16)
    val root = tempDir("twolevellife").toString
    val dir = root + "/idx"
    Pq.writeIvfPqResidualAssigned(dir, Ann.assignTwoLevel(base, "embedding", two),
      "embedding", "vec_id", index.centroids, model)
    Pq.appendIvfPqResidualAssigned(dir,
      Ann.assignTwoLevel(embs.filter(col("vec_id") % 10 === 7), "embedding", two),
      "embedding", "vec_id", index.centroids, model)
    // base + delta must equal a from-scratch write of the full corpus:
    // same rows, same hierarchical cells, same codes
    val rebuilt = root + "/rebuilt"
    Pq.writeIvfPqResidualAssigned(rebuilt, Ann.assignTwoLevel(embs, "embedding", two),
      "embedding", "vec_id", index.centroids, model)
    val a = spark.read.parquet(dir).select("vec_id", "cluster", "codes")
    val b = spark.read.parquet(rebuilt).select("vec_id", "cluster", "codes")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "append through the hierarchical router must equal the from-scratch write")
    Pq.deleteFromIndex(spark, dir, embs.filter(col("vec_id") % 10 === 3).select("vec_id"), "vec_id")
    val queries = embs.filter(col("vec_id").isin(1L, 7L, 13L, 250L))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    def probe(d: String): Seq[(Long, Long, Double, Long)] =
      Pq.probeIvf(spark, d, index.centroids, model, queries,
          "q_vec", "embedding", "vec_id", nProbe = 4, k = 10)
        .orderBy("query_id", "rk")
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos_sim"), r.getAs[Long]("rk")))
    val live = probe(dir)
    assert(live.nonEmpty && live.forall(_._2 % 10 != 3),
      "tombstoned ids must never reach the live probe's results")
    // an appended (delta) vector queried against the layout finds itself
    // first — append visibility through the serving path
    assert(live.filter(_._1 == 7L).minBy(_._4)._2 == 7L,
      "delta vector 7 must be its own top-1 (append visible to probes)")
    val compacted = root + "/compacted"
    Pq.compact(spark, dir, compacted, "vec_id")
    assert(!Pq.hasTombstones(compacted), "compaction must clear the sidecar")
    val expectedLive = embs.filter(col("vec_id") % 10 =!= 3).count()
    assert(spark.read.parquet(compacted).count() == expectedLive,
      "compacted layout = exactly the live rows")
    assert(probe(compacted) == live,
      "plain probe over the compacted layout must equal the merge-on-read live probe")
  }

  test("lifecycle edge cases: empty delta append is a no-op; re-delete is idempotent") {
    import graft.operators.Pq
    val embs = Tables.embeddings(spark, sf)
    val (index, two) = Ann.buildTwoLevel(embs, "embedding", "vec_id", k, seed = 42)
    val model = Pq.trainResidual(embs, "embedding", "vec_id", index.centroids, m = 8, codes = 16)
    val dir = tempDir("twolevellife_edge").toString + "/idx"
    Pq.writeIvfPqResidualAssigned(dir, Ann.assignTwoLevel(embs, "embedding", two),
      "embedding", "vec_id", index.centroids, model)
    val before = spark.read.parquet(dir).count()
    // an empty micro-batch (the streamed face's quiet trigger) must not
    // corrupt or grow the layout
    Pq.appendIvfPqResidualAssigned(dir,
      Ann.assignTwoLevel(embs.filter(col("vec_id") < 0), "embedding", two),
      "embedding", "vec_id", index.centroids, model)
    assert(spark.read.parquet(dir).count() == before, "empty append changed the layout")
    // deleting the same ids twice (overlapping batches) stays one
    // tombstone set semantically: the live face count is stable
    val ids = embs.filter(col("vec_id") % 10 === 1).select("vec_id")
    Pq.deleteFromIndex(spark, dir, ids, "vec_id")
    val liveOnce = Pq.liveFace(spark, dir, spark.read.parquet(dir), "vec_id").count()
    Pq.deleteFromIndex(spark, dir, ids, "vec_id")
    val liveTwice = Pq.liveFace(spark, dir, spark.read.parquet(dir), "vec_id").count()
    assert(liveOnce == liveTwice && liveOnce == before - ids.count(),
      s"re-delete must be a semantic no-op ($liveOnce vs $liveTwice)")
  }

  test("sub-cell allocation: proportional-ish, every super >= 1, sums to k") {
    val (_, two) = Ann.buildTwoLevel(
      Tables.embeddings(spark, sf), "embedding", "vec_id", k, seed = 42)
    val alloc = two.subCents.map(_.length)
    assert(alloc.sum == k && alloc.forall(_ >= 1), alloc.toSeq.toString)
  }
}
