package perfbench

import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** The single-query hybrid probe of `serve`'s closed loop:
  * `Fts.probe` (BM25 leg) and `Pq.probeIvfPqResidual` (vector leg), each
  * materialized in its own layer call, fused by `Search.rrfFuse`. Keeps
  * a few (legs, fused) samples so the fuse can be checked afterwards.
  */
final class Hybrid(run: Run) {
  import Hybrid._
  private val spark: SparkSession = run.spark
  import spark.implicits._

  val samples = mutable.ArrayBuffer.empty[(Seq[(Long, Double)], Seq[(Long, Double)], Seq[Row])]
  val latencyMs = mutable.ArrayBuffer.empty[Double]

  def qvec(v: Array[Float]): DataFrame = Seq(Tuple1(v.toSeq)).toDF("qv")

  def ftsLeg(fts: Fts.Index, terms: Seq[String], k: Int): Seq[(Long, Double)] =
    Fts.probe(spark, fts, IdCol, terms, k).collect().toSeq.map(r => r.getLong(0) -> r.getDouble(1))

  def pqLeg(l: PqLayout, v: Array[Float], k: Int): Seq[(Long, Double)] =
    Pq.probeIvfPqResidual(spark, l.path, l.cents, l.model, qvec(v), "qv", VecCol, VecId,
      NProbe, k).collect().toSeq.map(r => r.getLong(0) -> r.getDouble(1))

  /** One timed probe; None if a call failed. */
  def probe(fts: Fts.Index, l: PqLayout, terms: Seq[String], v: Array[Float]): Option[Seq[Row]] = {
    val t0 = System.nanoTime()
    val r = for {
      a <- run.call("fts.probe")(ftsLeg(fts, terms, LegK))
      b <- run.call("pq.probe")(pqLeg(l, v, LegK))
      fused <- run.call("search.rrf") {
        Search.rrfFuse(a.toDF(IdCol, "bm25"), b.toDF(IdCol, "cos_sim"), IdCol, "bm25", "cos_sim", K)
          .collect().toSeq
      }
    } yield {
      if (samples.size < 5) samples += ((a, b, fused))
      fused
    }
    latencyMs += (System.nanoTime() - t0) / 1e6
    r
  }

  /** The fused outputs kept equal RRF of their two legs computed here. */
  def checkFuse(): Unit = samples.zipWithIndex.foreach { case ((a, b, fused), i) =>
    val want = rrf(a, b)
    val got = fused.map(r => r.getAs[Long](IdCol) -> r.getAs[Double]("rrf"))
    run.check(s"search.rrf_equals_legs[$i]", got == want, s"$got vs $want")
  }
}

/** A persisted two-level IVF-PQR layout and what probes it. */
final case class PqLayout(path: String, cents: Array[Array[Double]], two: Ann.TwoLevel, model: Pq.Model)

object Hybrid {
  val IdCol = "doc_num"
  /** The vector layouts' id column: `StreamPipeline`'s append sink
    * writes `vec_id`, so every layout here uses it (same values as
    * `doc_num`).
    */
  val VecId = "vec_id"
  val VecCol = "embedding"
  val NProbe = 6
  val K = 10
  val LegK = 50
  val PqM = 8
  val PqCodes = 64
  val Dim = 64

  /** Fit the two-level quantizer and residual codebooks on `vec`
    * (`vec_id`, `embedding`) and write the layout, one span per layer.
    */
  def buildPq(run: Run, vec: DataFrame, n: Long, cells: Int, path: String): PqLayout = {
    val (ix, two) = run.call("ann.fit") {
      Ann.buildTwoLevel(vec, VecCol, VecId, cells, seed = 42L, rowCount = Some(n))
    }.get
    val model = run.call("pq.train") {
      Pq.trainResidual(vec, VecCol, VecId, ix.centroids, m = PqM, codes = PqCodes)
    }.get
    run.call("pq.write") {
      Pq.writeIvfPqResidualAssigned(path, ix.assigned, VecCol, VecId, ix.centroids, model)
      run.trace.count("pq.write", "files_written", Bench.dataFiles(path))
    }
    PqLayout(path, ix.centroids, two, model)
  }

  /** Reciprocal-rank fusion of two scored legs with `Search.rrfFuse`'s
    * definition: rank by score then id, 1 / (60 + rank) summed, rounded
    * half-up to 6 decimals, top `K`.
    */
  def rrf(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] = {
    def ranks(xs: Seq[(Long, Double)]) =
      xs.sortBy { case (d, s) => (-s, d) }.zipWithIndex.map { case ((d, _), r) => d -> (r + 1L) }.toMap
    val ra = ranks(a)
    val rb = ranks(b)
    (ra.keySet ++ rb.keySet).toSeq.map { d =>
      val s = ra.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        rb.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      d -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sortBy { case (d, s) => (-s, d) }.take(K)
  }

  /** Two rankings agree: equal scores position by position (to the
    * 5-decimal rounding both scorers apply), and equal ids wherever the
    * score is not tied with another (ties may order either way at the k
    * boundary).
    */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
      math.abs(gs - ws) <= 2e-5 && (gi == wi || want.count(w => math.abs(w._2 - ws) <= 2e-5) > 1)
    }
}
