package graft

import graft.functions.TextOps
import graft.operators.{Dedup, Lsh, Pq}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.functions._

/** Randomized (seeded, deterministic) equivalence properties for the
  * native codegen expressions against straightforward reference
  * implementations — the guard that keeps `doGenCode` and
  * `nullSafeEval` honest as they evolve. Every select runs through
  * [[evalEqCodegen]], so each property also holds eval ≡ codegen.
  */
class ExpressionPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(1234)

  /** Rows of `select`, built and run twice: with whole-stage codegen on
    * and a CODEGEN_ONLY factory without fallback (a node that whole-stage
    * codegen skips, such as one holding a higher-order function, still
    * runs generated projections; a compile error fails the test), then
    * interpreted (no whole-stage, NO_CODEGEN factory, so every
    * expression runs `eval`). The two runs must return the same rows,
    * compared in printed form so that NaN equals NaN inside arrays.
    * ConvertToLocalRelation is excluded in both runs: over a local Seq
    * it would evaluate the projection at plan time, interpreted, and
    * the codegen run would generate nothing. The conf is restored after.
    */
  private def evalEqCodegen(select: => DataFrame): Array[Row] = {
    def run(codegen: Boolean): Array[Row] = {
      val settings = Seq(
        "spark.sql.optimizer.excludedRules" -> ConvertToLocalRelation.ruleName,
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.fallback" -> (!codegen).toString)
      val conf = spark.conf
      val old = settings.map { case (k, _) => k -> conf.getOption(k) }
      try {
        settings.foreach { case (k, v) => conf.set(k, v) }
        select.collect()
      } finally old.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
    val gen = run(codegen = true)
    val interp = run(codegen = false)
    val (g, e) = (gen.map(_.toString).sorted.toSeq, interp.map(_.toString).sorted.toSeq)
    if (g != e) fail(s"eval and codegen returned different rows: codegen ${g.diff(e).take(3)}, eval ${e.diff(g).take(3)}")
    gen
  }

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftBridge.column(e)

  private def exprOf(c: Column) = GraftBridge.expression(c)

  test("phrase_positions equals a naive sliding-window scan on random inputs") {
    val vocab = Vector("a", "b", "ab", "ba", "x")
    val rows = Seq.fill(300) {
      val toks = Vector.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      toks
    }
    val phrase = Seq("a", "b", "a")
    def naive(toks: Vector[String]): Seq[Int] =
      if (toks.size < phrase.size) Seq.empty
      else (0 to toks.size - phrase.size).collect {
        case i if toks.slice(i, i + phrase.size) == phrase => i + 1
      }
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
    val out = evalEqCodegen(df.select(col("id"), TextOps.phrasePositions(col("toks"), phrase).as("pos")))
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.zipWithIndex.foreach { case (t, i) =>
      assert(out(i.toLong) == naive(t), s"row $i toks=$t")
    }
  }

  test("HyperplaneSig equals the HOF bucket on adversarial vectors (zeros, negatives, ties)") {
    val vecs = Seq.fill(200)(Array.fill(16)((rnd.nextInt(7) - 3).toFloat)) ++
      Seq(Array.fill(16)(0.0f), Array.fill(16)(-1.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val cmp = evalEqCodegen(df.select(
      Lsh.bucket(col("v"), 16, 12).as("nat"),
      Lsh.bucketHof(col("v"), 16, 12).as("hof")))
    assert(cmp.forall(r => r.getString(0) == r.getString(1)))
  }

  test("PqEncode matches the driver-side nearest-centroid loop on random vectors") {
    val dim = 16
    val base = Seq.tabulate(64)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = base.toDF("vec_id", "embedding")
    val model = Pq.train(df, "embedding", "vec_id", m = 4, codes = 8, sampleSize = 64)
    val sub = dim / model.m
    def nearestRef(p: Array[Double], cents: Array[Array[Double]]): Int = {
      var best = 0; var bestD = Double.MaxValue
      for (c <- cents.indices) {
        var d = 0.0
        for (i <- p.indices) { val t = p(i) - cents(c)(i); d += t * t }
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
    val encoded = evalEqCodegen(Pq.encode(df, "embedding", model).select("vec_id", "codes"))
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    base.foreach { case (id, v) =>
      val expect = (0 until model.m).map { j =>
        nearestRef(Array.tabulate(sub)(i => v(j * sub + i).toDouble), model.codebooks(j))
      }
      assert(encoded(id) == expect, s"vec $id")
    }
  }

  test("BpeTextTokens equals per-pre-token driver encode on random noisy strings") {
    import graft.operators.Bpe
    val alphabet = "abcz0193 ,.!#\n\t�数-  e r in st"
    val texts = Seq.fill(200)(
      Seq.fill(rnd.nextInt(60))(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = evalEqCodegen(df.select(col("id"),
      native(graft.plans.BpeTextTokens(exprOf(lower(col("t"))), Bpe.mergesArray)).as("n")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pat = s"(?:${Bpe.PretokenRegex})".r
    texts.zipWithIndex.foreach { case (t, i) =>
      val exp = pat.findAllIn(t.toLowerCase).map(Bpe.encodeWord(_, Bpe.merges).length.toLong).sum
      assert(got(i.toLong) == exp, s"text '$t': ${got(i.toLong)} vs $exp")
    }
  }

  test("HashedBow equals a driver-side md5-bucket reference on random token arrays") {
    val dims = 64
    val arrays = Seq.fill(100)(
      Seq.fill(rnd.nextInt(30))(s"tok${rnd.nextInt(500)}"))
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "toks")
    val got = evalEqCodegen(df.select(col("id"),
      native(graft.plans.HashedBow(exprOf(col("toks")), dims)).as("v")))
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val md5 = java.security.MessageDigest.getInstance("MD5")
    arrays.zipWithIndex.foreach { case (toks, i) =>
      val counts = new Array[Double](dims)
      toks.foreach { t =>
        md5.reset()
        counts((md5.digest(t.getBytes("UTF-8"))(0) & 0xff) % dims) += 1.0
      }
      val norm = math.sqrt(counts.map(x => x * x).sum)
      val exp = if (norm > 0) counts.map(_ / norm).toSeq else counts.toSeq
      assert(got(i.toLong) == exp, s"array $i diverges")
    }
  }

  test("simHash64 string and simHashWords pack the same bits") {
    val texts = Seq.fill(50)(
      Seq.fill(1 + rnd.nextInt(40))(s"w${rnd.nextInt(300)}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val strs = evalEqCodegen(Dedup.simHash64(df, "text", "doc_id"))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val words = evalEqCodegen(Dedup.simHashWords(df, "text", "doc_id"))
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    strs.foreach { case (id, s) =>
      val packed = words(id)
      (0 until 64).foreach { j =>
        val bit = (packed(j / 16) >> (15 - j % 16)) & 1
        assert((s.charAt(j) == '1') == (bit == 1), s"doc $id bit $j")
      }
    }
  }

  test("PackSignBits equals a per-bit reference on adversarial vectors (zeros, negatives, short, 2 words)") {
    import graft.operators.Bq
    val dim = 100 // spans two words, second word partial
    val vecs = Seq.fill(200)(Array.fill(dim)((rnd.nextInt(7) - 3).toFloat)) ++
      Seq(Array.fill(dim)(0.0f), Array.fill(dim)(-1.0f), Array.fill(dim)(1.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out = evalEqCodegen(Bq.pack(df, "v", dim = dim).select(col("id"), col("bq_w0"), col("bq_w1")))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      def ref(word: Int): Long =
        (word * 64 until math.min(dim, word * 64 + 64))
          .foldLeft(0L)((acc, j) => if (v(j) > 0f) acc | (1L << (j % 64)) else acc)
      assert(out(i.toLong) == ((ref(0), ref(1))), s"row $i")
    }
  }

  test("MatVec equals a driver loop on random matrices/vectors, float and double children") {
    import graft.operators.Bq
    val m = Array.fill(12, 20)(rnd.nextGaussian())
    val vecsF = Seq.fill(100)(Array.fill(20)(rnd.nextGaussian().toFloat))
    def ref(v: Array[Double]): Seq[Double] =
      m.map { row =>
        var acc = 0.0; var j = 0
        while (j < 20) { acc += row(j) * v(j); j += 1 }
        acc
      }.toSeq
    def run(df: DataFrame): Map[Long, Seq[Double]] =
      evalEqCodegen(df.select(col("id"), Bq.rotateCol(col("v"), m).as("rv")))
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val gotF = run(vecsF.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"))
    vecsF.zipWithIndex.foreach { case (v, i) =>
      assert(gotF(i.toLong) == ref(v.map(_.toDouble)), s"float row $i")
    }
    val vecsD = vecsF.map(_.map(_.toDouble))
    val gotD = run(vecsD.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v"))
    vecsD.zipWithIndex.foreach { case (v, i) =>
      assert(gotD(i.toLong) == ref(v), s"double row $i")
    }
  }

  test("CentroidResidual equals normalize-then-subtract on random vectors and both cluster types") {
    val cents = Array.fill(5, 16)(rnd.nextGaussian())
    val vecs = Seq.fill(150)((Array.fill(16)(rnd.nextGaussian().toFloat), rnd.nextInt(5)))
    val df = vecs.zipWithIndex.map { case ((v, c), i) => (i.toLong, v, c) }
      .toDF("id", "v", "cluster")
    def refRes(v: Array[Float], c: Int): Seq[Double] = {
      var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble)
      val n = math.sqrt(s)
      v.indices.map(j => v(j).toDouble / n - cents(c)(j))
    }
    def run(clusterCol: Column): Map[Long, Seq[Double]] =
      evalEqCodegen(df.select(col("id"),
          native(graft.plans.CentroidResidual(exprOf(col("v")), exprOf(clusterCol), cents)).as("r")))
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val gotInt = run(col("cluster"))
    val gotLong = run(col("cluster").cast("long"))
    vecs.zipWithIndex.foreach { case ((v, c), i) =>
      val want = refRes(v, c)
      assert(gotInt(i.toLong) == want, s"int row $i")
      assert(gotLong(i.toLong) == want, s"long row $i")
    }
  }

  test("BloomMightContain: no false negatives on random keys; eval == codegen == scalar reference") {
    val keys = Seq.fill(400)(Seq.fill(1 + rnd.nextInt(6))(
      "w" + rnd.nextInt(50)).mkString(" "))
    val inserted = keys.take(200).distinct
    val mBits = 1L << 12
    val k = 5
    val mask = new Array[Long]((mBits / 64).toInt)
    inserted.foreach { key =>
      graft.plans.BloomMightContain.positions(key.getBytes("UTF-8"), k, mBits)
        .foreach(p => mask((p >>> 6).toInt) |= 1L << (p & 63))
    }
    val expr = graft.plans.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), mask, mBits, k)
    // scalar reference: recompute positions independently and test bits
    def ref(key: String): Boolean =
      graft.plans.BloomMightContain.positions(key.getBytes("UTF-8"), k, mBits)
        .forall(p => (mask((p >>> 6).toInt) & (1L << (p & 63))) != 0L)
    // eval face
    keys.foreach { key =>
      val got = expr.test(org.apache.spark.unsafe.types.UTF8String.fromString(key))
      assert(got == ref(key), s"eval mismatch for '$key'")
    }
    // no false negatives is structural
    inserted.foreach(key => assert(ref(key), s"false negative for inserted '$key'"))
    // codegen face through a real plan (filter over a column)
    val df = keys.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "key")
    val hits = evalEqCodegen(df.filter(native(
        graft.plans.BloomMightContain(exprOf(col("key")), mask, mBits, k))).select("key"))
      .map(_.getString(0)).toSet
    val expected = keys.filter(ref).toSet
    assert(hits == expected, "codegen face diverged from the scalar reference")
  }

  test("queryCellsLocal ranks identically to the in-plan queryCells window (random queries/centroids)") {
    import graft.operators.Ann
    val dim = 8
    val cents = Array.fill(7)(Array.fill(dim)(rnd.nextGaussian()))
    val queries = Seq.tabulate(24)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("query_id", "q_vec")
    val nProbe = 3
    def pairs(df: => DataFrame): Set[(Long, Int)] =
      evalEqCodegen(df.select("query_id", "cluster"))
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val inPlan = pairs(Ann.queryCells(queries, "q_vec", "query_id", cents, nProbe))
    val local = Ann.queryCellsLocal(queries, "q_vec", "query_id", cents, nProbe)
      .select("query_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(local == inPlan,
      s"driver ranking diverged from the window ranking: ${(local -- inPlan) ++ (inPlan -- local)}")
  }

  test("Shingles equals the HOF transform/concat_ws form it replaced (nulls, empties, short arrays)") {
    val vocab = Vector("a", "bb", "", "x y", null)
    val rows: Seq[Seq[String]] = Seq.fill(300)(
      Vector.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))) ++
      Seq(Seq.empty[String], Seq("only"), Seq("a", "b"))
    for (k <- Seq(1, 3, 5)) {
      val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
      val hof = flatten(transform(array(col("toks")), ts =>
        when(size(ts) >= k,
          transform(sequence(lit(1), size(ts) - (k - 1)),
            i => concat_ws(" ", (0 until k).map(j => element_at(ts, i + j)): _*)))
          .otherwise(array().cast("array<string>"))))
      val cmp = evalEqCodegen(df.select(col("id"),
          TextOps.rawShingles(col("toks"), k).as("nat"), hof.as("ref")))
      assert(cmp.forall(r => r.get(1) == r.get(2)), s"k=$k: native shingles diverged from the HOF reference")
    }
  }

  test("Tokenize equals the lower/split/filter chain it replaced (unicode, Kelvin sign, empties)") {
    val texts = Seq(
      "Hello, World! x2", "", "   ", "ALL CAPS 123", "a", "tab\there",
      "unicode: caf\u00e9 \u00dcber stra\u00dfe \u03a3\u03af\u03c3\u03c5\u03c6\u03bf\u03c2",
      "kelvin \u212aelvin sign", "mixed\u212a123x", "emoji \ud83d\ude00 split",
      "num0bers 42x7", "\u0130stanbul I dotted") ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(12))(
        Vector("Word", "x9", "\u00e9t\u00e9", ",,", "A\u212aB")(rnd.nextInt(5))).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val bad = evalEqCodegen(df.select(col("id"),
        TextOps.tokenize(col("text")).as("nat"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("ref")))
      .filter(r => r.get(1) != r.get(2))
    assert(bad.isEmpty, s"native tokenize diverged: ${bad.take(3).mkString("; ")}")
  }

  test("CosineSimilarity equals a driver loop for float, double, int and null-element arrays") {
    import graft.plans.CosineSimilarity
    def ref(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def cos(df: DataFrame): Map[Long, Option[Double]] =
      evalEqCodegen(df.select(col("id"), native(CosineSimilarity(exprOf(col("a")), exprOf(col("b")))).as("c")))
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val pairs = Seq.fill(150)((Seq.fill(12)(rnd.nextInt(7) - 3), Seq.fill(12)(rnd.nextInt(7) - 3))) :+
      ((Seq.fill(12)(0), Seq.fill(12)(1))) // zero norm: NaN, not null
    def check[T](rows: Seq[(Seq[T], Seq[T])], toD: T => Double)(
        implicit enc: org.apache.spark.sql.Encoder[(Long, Seq[T], Seq[T])]): Unit = {
      val got = cos(rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b"))
      rows.zipWithIndex.foreach { case ((a, b), i) =>
        val want = ref(a.map(toD), b.map(toD))
        assert(got(i.toLong).exists(g => g == want || (g.isNaN && want.isNaN)), s"row $i: ${got(i.toLong)} vs $want")
      }
    }
    check[Int](pairs, _.toDouble)
    check[Float](pairs.map { case (a, b) => (a.map(_ * 0.37f), b.map(_ * 1.3f)) }, _.toDouble)
    check[Double](pairs.map { case (a, b) => (a.map(_ * 0.37), b.map(_ * 1.3)) }, identity)
    // float against double, and null elements (containsNull = true): a
    // null anywhere in the common prefix makes the row null
    val mixed = pairs.zipWithIndex.map { case ((a, b), i) =>
      val an: Seq[java.lang.Float] = a.map(x => java.lang.Float.valueOf(x * 0.5f))
      (i.toLong, if (i % 3 == 0) an.updated(i % 12, null) else an, b.map(_ * 1.3))
    }
    val got = cos(mixed.toDF("id", "a", "b"))
    mixed.foreach { case (i, a, b) =>
      if (a.contains(null)) assert(got(i).isEmpty, s"row $i: a null element must null the row")
      else {
        val want = ref(a.map(_.toDouble), b)
        assert(got(i).exists(g => g == want || (g.isNaN && want.isNaN)), s"row $i: ${got(i)} vs $want")
      }
    }
  }

  test("NearestCentroid equals a strict-< first-minimum reference, normalized or not, with ties") {
    import graft.plans.NearestCentroid
    val dim = 6
    val base = Array.fill(5)(Array.fill(dim)((rnd.nextInt(5) - 2).toDouble))
    val cents = base ++ base.take(2) // duplicated centroids tie exactly: the first index wins
    val vecs = Seq.fill(200)(Array.fill(dim)((rnd.nextInt(5) - 2).toFloat)) ++ base.map(_.map(_.toFloat))
    def ref(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      for (c <- cents.indices) {
        var d = 0.0
        for (i <- 0 until dim) { val t = v(i) - cents(c)(i); d += t * t }
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
    for (normalize <- Seq(false, true); asDouble <- Seq(false, true)) {
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = if (asDouble) rows.map { case (i, v) => (i, v.map(_.toDouble)) }.toDF("id", "v")
               else rows.toDF("id", "v")
      val got = evalEqCodegen(df.select(col("id"),
          native(NearestCentroid(exprOf(col("v")), cents, normalize)).as("c")))
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      rows.foreach { case (i, v) =>
        val x = v.map(_.toDouble)
        val norm = math.sqrt(x.foldLeft(0.0)((s, e) => s + e * e))
        val want = ref(if (normalize) x.map(_ / norm) else x)
        assert(got(i) == want, s"normalize=$normalize double=$asDouble row $i")
      }
    }
  }

  test("NearestCentroidTwoLevel equals nearest super-cell, then nearest sub-cell within it") {
    import graft.plans.NearestCentroidTwoLevel
    val dim = 8
    val supers = Array.fill(3)(Array.fill(dim)(rnd.nextGaussian()))
    val subs = Array.tabulate(3)(s => Array.fill(2 + s)(Array.fill(dim)(rnd.nextGaussian())))
    val offsets = subs.map(_.length).scanLeft(0)(_ + _).init
    val vecs = Seq.fill(200)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    def nearest(u: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bestD = Double.MaxValue
      for (c <- cs.indices) {
        var d = 0.0
        for (i <- 0 until dim) { val t = u(i) - cs(c)(i); d += t * t }
        if (d < bestD) { bestD = d; best = c }
      }
      best
    }
    val got = evalEqCodegen(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        .select(col("id"), native(NearestCentroidTwoLevel(exprOf(col("v")), supers, subs, offsets)).as("c")))
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val x = v.map(_.toDouble)
      val norm = math.sqrt(x.foldLeft(0.0)((s, e) => s + e * e))
      val u = x.map(_ / norm)
      val sp = nearest(u, supers)
      assert(got(i.toLong) == offsets(sp) + nearest(u, subs(sp)), s"row $i")
    }
  }
}
