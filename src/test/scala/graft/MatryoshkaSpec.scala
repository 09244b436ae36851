package graft

import graft.operators.Matryoshka
import org.apache.spark.sql.functions._

/** Matryoshka prefix probe: the approximate stage must rank by cosine
  * over exactly the first dPrefix dims, the re-rank must be the exact
  * full-dim cosine over only the bounded candidate set.
  */
class MatryoshkaSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64

  private def cos(a: Array[Float], b: Array[Float], d: Int): Double = {
    val dot = (0 until d).map(i => a(i).toDouble * b(i).toDouble).sum
    val na = math.sqrt((0 until d).map(i => a(i).toDouble * a(i).toDouble).sum)
    val nb = math.sqrt((0 until d).map(i => b(i).toDouble * b(i).toDouble).sum)
    dot / (na * nb)
  }
  private def r5(x: Double): Double =
    BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("prefix ranking + bounded exact re-rank equal brute force") {
    val rnd = new scala.util.Random(777)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding").filter(col("vec_id") =!= 0)
    val qv = rows.head._2
    val q = Seq(Tuple1(qv)).toDF("q_vec")

    val got = Matryoshka.probe(corpus, q, "embedding", "q_vec", "vec_id",
        dPrefix = 16, k = 10, refine = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq

    val cand = rows.tail.map { case (id, v) => (id, r5(cos(v, qv, 16)), v) }
      .sortBy { case (id, a, _) => (-a, id) }.take(40)
    val expect = cand.map { case (id, a, v) => (id, a, r5(cos(v, qv, dim))) }
      .sortBy { case (id, _, c) => (-c, id) }.take(10)

    assert(got.map(_._1) == expect.map(_._1), s"ids:\n$got\n$expect")
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._2 - e._2) < 1e-9 && math.abs(g._3 - e._3) < 1e-9,
        s"score mismatch at ${g._1}: $g vs $e")
    }
  }

  test("probe at full dPrefix degenerates to exact knn") {
    val rnd = new scala.util.Random(778)
    val rows = (0 until 120).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding").filter(col("vec_id") =!= 0)
    val qv = rows.head._2
    val q = Seq(Tuple1(qv)).toDF("q_vec")
    val got = Matryoshka.probe(corpus, q, "embedding", "q_vec", "vec_id",
        dPrefix = dim, k = 5, refine = 40)
      .collect().map(_.getLong(0)).toSeq
    val expect = rows.tail.map { case (id, v) => (id, r5(cos(v, qv, dim))) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got == expect)
  }

  test("persisted IVF+MRL probe equals a driver recompute over the probed cells; inherited tombstones honored") {
    import graft.operators.Ann
    val rnd = new scala.util.Random(779)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding").filter(col("vec_id") =!= 0)
    val qv = rows.head._2
    val q = Seq(Tuple1(qv)).toDF("q_vec")
    val index = Ann.build(corpus, "embedding", "vec_id", k = 5, seed = 42)
    val dir = tempDir("graft_mrl_spec").toString + "/idx"
    Matryoshka.writeIvfMrl(dir, corpus, "embedding", "vec_id", index.centroids, dPrefix = 16)
    val nProbe = 2
    val probeCells = cellsOf(index.centroids, q, nProbe)
    val cells = probeCells.toSet

    // Driver recompute: NearestCentroid semantics (normalize, sequential
    // squared euclidean, first-minimum tie-break), cell filter, prefix
    // rank to refine, exact re-rank to k — the twin's arithmetic.
    def assignCell(v: Array[Float]): Int = {
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      val u = v.map(_ / n)
      var best = 0; var bestD = Double.MaxValue
      index.centroids.zipWithIndex.foreach { case (c, i) =>
        val d = c.zip(u).map { case (a, b) => (a - b) * (a - b) }.sum
        if (d < bestD) { bestD = d; best = i }
      }
      best
    }
    def expected(excluded: Set[Long]): Seq[(Long, Double, Double)] =
      rows.tail
        .filterNot { case (id, _) => excluded(id) }
        .filter { case (_, v) => cells(assignCell(v)) }
        .map { case (id, v) => (id, r5(cos(v, qv, 16)), v) }
        .sortBy { case (id, a, _) => (-a, id) }.take(20)
        .map { case (id, a, v) => (id, a, r5(cos(v, qv, dim))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(5)

    def got(): Seq[(Long, Double, Double)] =
      Matryoshka.probeIvf(spark, dir, Some(corpus), q, "q_vec", "vec_id", "embedding",
          cells = probeCells, dPrefix = 16, k = 5, refine = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq

    val before = got()
    assert(before == expected(Set.empty), s"probe:\n$before\n${expected(Set.empty)}")

    // Delete the top hit via the trait's tombstone verb: the probe must
    // serve only live rows, equal to the recompute over the live corpus.
    val topId = before.head._1
    Matryoshka.appendTombstones(Seq(topId).toDF("vec_id"), dir)
    val after = got()
    assert(!after.exists(_._1 == topId), after.toString)
    assert(after == expected(Set(topId)), s"live probe:\n$after\n${expected(Set(topId))}")

    // APPEND: a near-query delta lands without rebuild and must win the
    // probe (its prefix equals the query's, so it tops both stages)
    val newId = 90001L
    val delta = Seq((newId, qv)).toDF("vec_id", "embedding")
    Matryoshka.appendToIndex(dir, delta, "embedding", "vec_id", index.centroids, dPrefix = 16)
    val corpusPlus = corpus.unionByName(delta)
    def gotOver(c: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Double)] =
      Matryoshka.probeIvf(spark, dir, Some(c), q, "q_vec", "vec_id", "embedding",
          cells = probeCells, dPrefix = 16, k = 5, refine = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    val withDelta = gotOver(corpusPlus)
    assert(withDelta.head._1 == newId && withDelta.head._3 == 1.0,
      s"appended exact-match vector must top the probe: $withDelta")

    // COMPACT: the rewritten layout serves the identical live result
    // with the tombstone sidecar gone and no anti-join needed
    val compDir = tempDir("graft_mrl_comp").toString + "/idx"
    Ann.compact(spark, dir, compDir, "vec_id")
    assert(!Matryoshka.hasTombstones(compDir), "compaction must clear the sidecar")
    val compacted = Matryoshka.probeIvf(spark, compDir, Some(corpusPlus), q,
        "q_vec", "vec_id", "embedding", cells = probeCells, dPrefix = 16, k = 5, refine = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    assert(compacted == withDelta, s"compacted:\n$compacted\nlive:\n$withDelta")
    assert(!compacted.exists(_._1 == topId), "tombstoned row must stay gone after compaction")
  }

  test("candidate stage plans as TakeOrderedAndProject (no full sort)") {
    val rows = (0 until 50).map(i => (i.toLong, Array.fill(dim)(i.toFloat + 1)))
    val corpus = rows.toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array.fill(dim)(1.0f))).toDF("q_vec")
    val plan = Matryoshka.probe(corpus, q, "embedding", "q_vec", "vec_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("batch IVF+MRL probe equals the single-query persisted probe per query") {
    import graft.operators.Ann
    val rnd = new scala.util.Random(781)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val index = Ann.build(corpus, "embedding", "vec_id", k = 5, seed = 42)
    val dir = tempDir("graft_mrl_batch").toString + "/idx"
    Matryoshka.writeIvfMrl(dir, corpus, "embedding", "vec_id", index.centroids, dPrefix = 16)
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val batch = Matryoshka.probeIvf(spark, dir, Some(corpus),
        Ann.queryCells(queries, "q_vec", "query_id", index.centroids, nProbe = 2),
        "q_vec", "vec_id", "embedding", dPrefix = 16, k = 5, refine = 20)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
      .groupBy(_._1)
    (0L until 4L).foreach { qid =>
      val q = Seq(Tuple1(rows(qid.toInt)._2)).toDF("q_vec")
      val single = Matryoshka.probeIvf(spark, dir, Some(corpus), q, "q_vec", "vec_id",
          "embedding", cells = cellsOf(index.centroids, q, 2), dPrefix = 16, k = 5, refine = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
      val got = batch(qid).sortBy(t => (-t._4, t._2)).map(t => (t._2, t._3, t._4)).toSeq
      assert(got == single, s"query $qid:\n batch: $got\n single: $single")
    }
  }
}
