package graft

import graft.operators.Pq
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = Tables.embeddings(spark, sf)
  private lazy val queryDf = embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))

  test("PQ encode emits m small codes per vector (32x compression)") {
    val model = Pq.train(embs, "embedding", "vec_id", m = 8, codes = 16)
    val encoded = Pq.encode(embs, "embedding", model)
    val codes = encoded.select("codes").as[Seq[Int]].collect()
    assert(codes.length == 500)
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // encoding is deterministic
    val again = Pq.encode(embs, "embedding", model).select("codes").as[Seq[Int]].collect()
    assert(codes.toSeq == again.toSeq)
  }

  test("encode stays inside whole-stage codegen (no object serialization boundary)") {
    val model = Pq.train(embs, "embedding", "vec_id", m = 8, codes = 16)
    val plan = Pq.encode(embs, "embedding", model).queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"),
      s"encode must be pure expressions:\n${plan.take(2000)}")
  }

  test("ADC probe with exact re-rank reaches high recall vs exact top-10") {
    val model = Pq.train(embs, "embedding", "vec_id", m = 8, codes = 16)
    val encoded = Pq.encode(embs.filter(col("vec_id") =!= 0), "embedding", model)
    val approx = Pq.adcProbe(encoded, model, queryDf, "q_vec", "embedding", "vec_id",
        k = 10, refine = 100)
      .select("vec_id").as[Long].collect().toSet
    val exact = graft.operators.Ann
      .exact(embs.filter(col("vec_id") =!= 0), queryDf, "embedding", "q_vec", "vec_id", 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall; approx=$approx exact=$exact")
  }

  test("persisted IVF-PQ probe: partition-pruned scan, recall holds vs exact") {
    val rows = Queries.ivfpqProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 10)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq)
    val exact = graft.operators.Ann
      .exact(embs.filter(col("vec_id") =!= 0), queryDf, "embedding", "q_vec", "vec_id", 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (rows.map(_._1).toSet & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"ivfpq recall $recall (3 of 10 cells probed + ADC + refine)")
    // pruning is structural: the probe plan reads only the probed cells
    val plan = Queries.ivfpqProbe(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition pruning in:\n${plan.take(1500)}")
  }

  test("batch IVF-PQ probe matches the single-query ADC path per query") {
    import graft.operators.Ann
    val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)
    val model = Pq.train(embs, "embedding", "vec_id", m = 8, codes = 16)
    val path = tempDir("graft_pqbatch_test").resolve("idx").toString
    Pq.writeIvfPq(path, embs, "embedding", "vec_id", index.centroids, model)
    val queries = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val batch = Pq.probeIvf(spark, path, index.centroids, model, queries,
      "q_vec", "embedding", "vec_id", nProbe = 3, k = 5, refineFactor = 10)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getAs[Long]("rk"))
        .map(r => (r.getLong(1), r.getAs[Double]("cos_sim"))).toSeq)
      .toMap
    assert(batch.keySet == Set(0L, 1L, 2L, 3L), s"got ${batch.keySet}")
    (0L until 4L).foreach { qid =>
      val qDf = embs.filter(col("vec_id") === qid).select(col("embedding").as("q_vec"))
      val single = Pq.probeIvf(spark, path, index.centroids, model, qDf,
        "q_vec", "embedding", "vec_id", nProbe = 3, k = 5, refineFactor = 10)
        .collect().map(r => (r.getLong(0), r.getAs[Double]("cos_sim"))).toSeq
      assert(batch(qid) == single, s"query $qid: batch ${batch(qid)} != single $single")
    }
  }

  test("residual IVF-PQ: probe equals a driver recompute; beats or matches global codebooks") {
    import graft.operators.Ann
    val index = Ann.buildCached(sf, embs, "embedding", "vec_id", k = 10, seed = 42)
    val corpus = embs.filter(col("vec_id") =!= 0)
    val model = Pq.trainResidual(corpus, "embedding", "vec_id", index.centroids, m = 8, codes = 16)
    val dir = tempDir("graft_pqres").toString + "/idx"
    Pq.writeIvfPqResidual(dir, corpus, "embedding", "vec_id", index.centroids, model)
    val got = Pq.probeIvf(spark, dir, index.centroids, model, queryDf,
        "q_vec", "embedding", "vec_id", nProbe = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("cos_sim"))).toSeq

    // driver recompute with the NearestCentroid/PqEncode arithmetic
    val qRaw = Ann.queryVector(queryDf, "q_vec")
    val cells = Ann.nearestCells(index.centroids, qRaw, 3).toSet
    // per-cell ADC tables: distanceTable of the query's residual
    // normalize(q) − centroid[cell]
    val tables = cells.map { c =>
      var s = 0.0; qRaw.foreach(x => s += x * x); val norm = math.sqrt(s)
      c -> Pq.distanceTable(model,
        Array.tabulate(qRaw.length)(j => qRaw(j) / norm - index.centroids(c)(j)))
    }.toMap
    def nn(v: Array[Double]): Int = {
      var s = 0.0; v.foreach(x => s += x * x); val n = math.sqrt(s)
      var best = 0; var bd = Double.MaxValue
      index.centroids.indices.foreach { c =>
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) / n - index.centroids(c)(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = c }
      }
      best
    }
    val rows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val cand = rows.flatMap { case (id, v) =>
      val c = nn(v)
      if (!cells(c)) None
      else {
        var s = 0.0; v.foreach(x => s += x * x); val nrm = math.sqrt(s)
        val res = Array.tabulate(v.length)(j => v(j) / nrm - index.centroids(c)(j))
        val sub = model.dim / model.m
        val adc = (0 until model.m).map { j =>
          val cbj = model.codebooks(j)
          var best = 0; var bd = Double.MaxValue
          cbj.indices.foreach { k =>
            var d = 0.0; var i = 0
            while (i < sub) { val t = res(j * sub + i) - cbj(k)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = k }
          }
          tables(c)(j)(best)
        }.sum
        Some((id, v, adc))
      }
    }.sortBy { case (id, _, adc) => (adc, id) }.take(100)
    def r5(x: Double) = BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(v: Array[Double]): Double = {
      val q = qRaw
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); na += v(i) * v(i); nb += q(i) * q(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = cand.map { case (id, v, _) => (id, r5(cos(v))) }
      .sortBy { case (id, c) => (-c, id) }.take(10).toSeq
    assert(got == expect, s"\n got: $got\n exp: $expect")

    // residual codes must carry at least the global codebooks\u0027 recall here
    val exact = Ann.exact(corpus, queryDf, "embedding", "q_vec", "vec_id", 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (got.map(_._1).toSet & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"residual ivfpq recall $recall")
  }

  test("auto-refine keeps recall monotone in nProbe on the anisotropic corpus") {
    import graft.operators.Ann
    // the contract the round-13 10M study demanded: at FIXED k·refine,
    // probing MORE cells dilutes the ADC shortlist and recall can go
    // DOWN (nP=16/rf=25 measured 0.800 below nP=8's 0.825); with
    // refineFactor ∝ nProbe (the ≤0 default) scanning more cells must
    // never cost recall. Pinned on a small anisotropic corpus (the
    // ScaleCheck structured generator's shape: mixture + shared low
    // rank + noise), where ADC ranking error is realistic — the
    // uniform test embeddings would mask the dilution.
    assert(Pq.autoRefineFactor(3) == 10 && Pq.autoRefineFactor(8) == 25,
      "auto refine must reproduce both measured operating points")
    val dim = 32; val kClusters = 12; val rank = 4; val n = 6000L
    val rnd0 = new java.util.Random(7L)
    def unit(v: Array[Double]): Array[Double] = {
      val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn)
    }
    val centers = Array.fill(kClusters)(unit(Array.fill(dim)(rnd0.nextGaussian())))
    val aMat = Array.fill(dim)(Array.fill(rank)(rnd0.nextGaussian() / math.sqrt(dim.toDouble)))
    val bc = spark.sparkContext.broadcast((centers, aMat))
    val corpus = spark.range(0, n, 1, 8).mapPartitions { it =>
      val (cents, am) = bc.value
      it.map { i =>
        val r = new java.util.Random(7L ^ (i * 0x9E3779B97F4A7C15L))
        val c = math.min(kClusters - 1, (r.nextDouble() * kClusters).toInt)
        val z = Array.fill(rank)(r.nextGaussian())
        val v = new Array[Float](dim)
        var j = 0
        while (j < dim) {
          var s = cents(c)(j)
          var t = 0
          while (t < rank) { s += am(j)(t) * z(t) * 0.15; t += 1 }
          v(j) = (s + 0.05 * r.nextGaussian()).toFloat
          j += 1
        }
        (i, v.toSeq)
      }
    }.toDF("vec_id", "embedding").cache()
    corpus.count()
    val index = Ann.build(corpus, "embedding", "vec_id", k = 24, seed = 42)
    val model = Pq.trainResidual(corpus, "embedding", "vec_id", index.centroids, m = 8, codes = 16)
    val dir = tempDir("graft_pqrefine").toString + "/idx"
    Pq.writeIvfPqResidual(dir, corpus, "embedding", "vec_id", index.centroids, model)
    val qids = Seq(11L, 1003L, 2077L, 4999L)
    def qDfOf(id: Long) =
      corpus.filter(col("vec_id") === id).select(col("embedding").as("q_vec"))
    val truth = qids.map { id =>
      id -> Ann.exact(corpus, qDfOf(id), "embedding", "q_vec", "vec_id", 10)
        .select("vec_id").as[Long].collect().toSet
    }.toMap
    val recalls = Seq(2, 4, 8, 16).map { np =>
      val r = qids.map { id =>
        val got = Pq.probeIvf(spark, dir, index.centroids, model, qDfOf(id),
            "q_vec", "embedding", "vec_id", nProbe = np, k = 10) // refine: auto
          .select("vec_id").as[Long].collect().toSet
        (truth(id) & got).size / 10.0
      }.sum / qids.size
      np -> r
    }
    recalls.sliding(2).foreach { case Seq((np1, r1), (np2, r2)) =>
      assert(r2 >= r1,
        s"recall must be monotone in nProbe under auto-refine: nP=$np1 → $r1, nP=$np2 → $r2 ($recalls)")
    }
    assert(recalls.last._2 >= 0.9, s"deep probe under auto-refine should approach exact: $recalls")
    corpus.unpersist()
  }

  test("sizing default m = dim/8, codes = 256 recovers >= 0.9 recall at dim=128") {
    import graft.operators.Ann
    // the round-14 production-width study made m = dim/8 a RULE
    // (PLANS.md: fixed m=8 collapses 0.860 -> 0.600 at dim 64 -> 128 —
    // a code-budget wall); this pins the rule as the API DEFAULT on the
    // same anisotropic generator at spec scale, so the next wide-dim
    // caller cannot silently land on the wall.
    assert(Pq.sizedM(64) == 8 && Pq.sizedM(128) == 16 && Pq.sizedM(768) == 96)
    assert(Pq.sizedM(96) == 12 && Pq.sizedM(100) == 20, // non-multiple-of-8 dims tile too
      s"${Pq.sizedM(96)} ${Pq.sizedM(100)}")
    val n = 20000L
    val corpus = graft.tools.ScaleCheck.structuredCorpus(spark, n, dim = 128).cache()
    corpus.count()
    val index = Ann.build(corpus, "embedding", "vec_id", k = 48, seed = 42)
    val model = Pq.trainResidual(corpus, "embedding", "vec_id", index.centroids) // ALL defaults
    assert(model.m == 16 && model.dim == 128,
      s"default sizing must derive m = dim/8, got m=${model.m} at dim=${model.dim}")
    assert(model.codebooks.head.length == 256, "codes must default to 256")
    val dir = tempDir("graft_pqsized").toString + "/idx"
    Pq.writeIvfPqResidual(dir, corpus, "embedding", "vec_id", index.centroids, model)
    val qids = Seq(13L, 5003L, 11077L, 19999L)
    def qDfOf(id: Long) =
      corpus.filter(col("vec_id") === id).select(col("embedding").as("q_vec"))
    val recall = qids.map { id =>
      val truth = Ann.exact(corpus, qDfOf(id), "embedding", "q_vec", "vec_id", 10)
        .select("vec_id").as[Long].collect().toSet
      val got = Pq.probeIvf(spark, dir, index.centroids, model, qDfOf(id),
          "q_vec", "embedding", "vec_id", nProbe = 8, k = 10) // refine: auto
        .select("vec_id").as[Long].collect().toSet
      (truth & got).size / 10.0
    }.sum / qids.size
    assert(recall >= 0.9,
      s"the m = dim/8 default must recover >= 0.9 recall at dim=128, got $recall")
    corpus.unpersist()
  }
}
