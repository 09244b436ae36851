package graft

import graft.operators.Freq
import org.apache.spark.sql.functions._

/** Heavy hitters: the Misra-Gries candidate pass + exact recount must
  * return EXACTLY the θ-heavy set with exact counts — no false
  * negatives (pigeonhole over partitions), no false positives (the
  * recount), counts exact.
  */
class FreqSpec extends SparkSpec {
  import spark.implicits._

  test("planted heavy hitters found with exact counts; light items absent") {
    // hot1 600, hot2 300, mid 80, plus 9020 distinct singletons → N = 10000
    val rows = Seq.fill(600)("hot1") ++ Seq.fill(300)("hot2") ++
      Seq.fill(80)("mid") ++ (0 until 9020).map(i => s"u$i")
    // repartition so hot items straddle partitions (the pigeonhole case)
    val df = rows.toDF("term").repartition(8)
    val out = Freq.heavyHitters(df, "term", theta = 0.005, m = 512)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // θN = 50 → hot1, hot2, mid qualify; singletons don't
    assert(out.toSeq == Seq(("hot1", 600L, 0.06), ("hot2", 300L, 0.03), ("mid", 80L, 0.008)),
      out.mkString(", "))
  }

  test("fuzz: equals the exact groupBy+filter on a random zipf-ish corpus") {
    val rnd = new scala.util.Random(4242)
    // zipf-ish: item k drawn with weight ~ 1/(k+1)
    val items = (0 until 20000).map { _ =>
      val k = math.min((1.0 / (rnd.nextDouble() + 1e-9) - 1).toInt, 5000)
      s"w$k"
    }
    val df = items.toDF("term").repartition(7)
    val theta = 0.004
    val got = Freq.heavyHitters(df, "term", theta, m = 512)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val n = items.size
    val thr = math.ceil(theta * n).toLong
    val expect = items.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter(_._2 >= thr).map { case (t, c) => (t, c) }
      .sortBy { case (t, c) => (-c, t) }
    assert(got == expect, s"got ${got.size} expect ${expect.size}")
  }

  test("completeness guard: theta*(m+1) < 1 is rejected") {
    intercept[IllegalArgumentException] {
      Freq.heavyHitters(Seq("a").toDF("term"), "term", theta = 0.001, m = 100)
    }
  }

  test("streamed face equals the batch operator on the test corpus") {
    val streamed = Queries.streamHeavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = Queries.heavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed == batch, s"streamed diverges:\n$streamed\n$batch")
    assert(batch.nonEmpty)
  }

  test("cross-micro-batch parity under 4 one-file triggers with a tiny sketch") {
    // 4 files × 100 tokens, a TINY m=16 sketch (the θ·(m+1) ≥ 1
    // floor), distinct loud/rare populations per file so the
    // candidate sets genuinely differ across batches; the streamed
    // drain must equal the exact batch answer over the union.
    val staging = tempDir("graft_hh_spec")
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 4).foreach { f =>
      val rows = (0 until 14).flatMap(i => Seq.fill(6)(s"loud${f}x$i")) ++
        Seq.fill(6)("needle") ++ (0 until 10).map(i => s"rare${f}x$i")
      all ++= rows
      rows.map(t => (f.toLong, t)).toDF("doc_id", "text")
        .coalesce(1).write.parquet(staging.resolve(s"part$f").toString)
    }
    val schema = spark.read.parquet(staging.resolve("part0").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staging.toString + "/part*")
    // m=16 < the 25 distinct keys per file → MG decrements genuinely
    // fire in every batch; θ·(m+1) = 1.02 keeps the guarantee. Only
    // needle (6 per file, 24 = 6% global) clears θN=24 — and no
    // single batch reaches that count, so only cross-batch candidate
    // accumulation + the drain recount can report it.
    val theta = 0.06
    val out = graft.streaming.StreamPipeline
      .heavyHittersSnapshot(spark, stream, theta = theta, m = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val thr = math.ceil(theta * all.size).toLong
    val expect = all.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter(_._2 >= thr).sortBy { case (t, c) => (-c, t) }
    assert(out == expect, s"streamed:\n$out\nexact:\n$expect")
    assert(out == Seq(("needle", 24L)), out.toString)
  }
}
