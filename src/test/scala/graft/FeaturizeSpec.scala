package graft

import graft.operators.Featurize
import org.apache.spark.sql.functions._

class FeaturizeSpec extends SparkSpec {
  import spark.implicits._

  test("inline and aggregated hashed-BoW produce the same embedding") {
    val df = Seq(
      (1L, "spark filter join filter spark spark"),
      (2L, "completely different words here"),
      (3L, "")
    ).toDF("doc_id", "text")
    val inline = df
      .select(col("doc_id"), Featurize.hashedBowInline(col("text"), 64).as("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val grouped = Featurize.hashedBow(df, "text", 64, keep = Seq("doc_id"))
      .select("doc_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(inline.keySet == grouped.keySet)
    for (k <- inline.keySet) {
      val (a, b) = (inline(k), grouped(k))
      assert(a.length == 64 && b.length == 64)
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12, s"doc $k differs") }
    }
    // empty doc -> zero vector, not null/NaN
    assert(inline(3L).forall(_ == 0.0))
  }

  test("model-embedder seam reproduces the hashed-BoW contract exactly") {
    val df = Tables.documents(spark, sf).limit(100).select("doc_id", "text")
    val viaModel = Featurize.embedWithModel(df, "text", keep = Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val viaAgg = Featurize.hashedBow(df, "text", 64, keep = Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(viaModel.keySet == viaAgg.keySet)
    for (k <- viaModel.keySet)
      viaModel(k).zip(viaAgg(k)).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-12, s"doc $k diverges between model seam and agg")
      }
    // schema contract identical → any downstream plan is unchanged
    val a = Featurize.embedWithModel(df, "text", keep = Seq("doc_id")).schema
    val b = Featurize.hashedBow(df, "text", 64, keep = Seq("doc_id"))
      .select("doc_id", "embedding").schema
    assert(a.fields.map(f => (f.name, f.dataType)).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("model factory runs once per partition (session-load pattern)") {
    val counter = spark.sparkContext.longAccumulator("model_loads")
    val df = Tables.documents(spark, sf).limit(64).select("doc_id", "text").repartition(4)
    Featurize.embedWithModel(df, "text", keep = Seq("doc_id"), dims = 64,
      model = () => { counter.add(1); Featurize.hashedBowStubModel(64) })
      .count()
    assert(counter.value <= 8, s"factory ran ${counter.value} times for 4 partitions")
  }

  test("meanPoolChunks: unit norm, single-chunk doc equals its chunk's unit vector") {
    val ch = Seq(
      (1L, 0L, "cat dog cat"),            // single-chunk doc
      (2L, 0L, "fish bird"), (2L, 1L, "fish fish fish")
    ).toDF("doc_id", "chunk_index", "chunk")
    val out = Featurize.meanPoolChunks(ch, "doc_id", "chunk_index", "chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every doc's pooled vector is (approximately) unit under the 5 dp rounding
    out.groupBy(_._1).values.foreach { g =>
      val n2 = g.map(v => v._3 * v._3).sum
      assert(math.abs(n2 - 1.0) < 1e-3, s"norm² = $n2")
    }
    // doc 1 has one chunk: pooled == that chunk's normalized hashed-BoW
    val solo = Featurize.hashedBow(
      Seq((1L, "cat dog cat")).toDF("doc_id", "text"), "text", 64, Seq("doc_id"))
      .select(posexplode(col("embedding"))).collect()
      .map(r => r.getInt(0).toLong -> r.getDouble(1)).filter(_._2 != 0.0).toMap
    val pooled1 = out.filter(_._1 == 1L).map(v => v._2 -> v._3).toMap
    assert(pooled1.keySet == solo.keySet)
    pooled1.foreach { case (dim, v) => assert(math.abs(v - solo(dim)) < 1e-4) }
    // doc 2: both chunks contribute; the 'fish' dim dominates
    val pooled2 = out.filter(_._1 == 2L).map(v => v._2 -> v._3).toMap
    assert(pooled2.size == 2, s"two distinct dims expected: $pooled2")
    assert(pooled2.values.max > 0.8, "shared fish dim must dominate the pooled vector")
  }

  test("appendDocEmbeddings: base+delta sidecar is row-identical to a one-shot rebuild") {
    val ch = Seq(
      (1L, 0L, "cat dog cat"), (1L, 1L, "dog dog bird"),
      (2L, 0L, "fish bird"), (2L, 1L, "fish fish fish"),
      (3L, 0L, "spark filter join"),
      (10L, 0L, "cat dog cat"),           // delta doc duplicating doc 1's first chunk
      (11L, 0L, "window shuffle exchange")
    ).toDF("doc_id", "chunk_index", "chunk")
    val base = ch.filter(col("doc_id") < 10)
    val delta = ch.filter(col("doc_id") >= 10)
    val dir = tempDir("docemb_inc_spec").toString
    Featurize.meanPoolChunks(base, "doc_id", "chunk_index", "chunk")
      .write.mode("overwrite").parquet(dir)
    Featurize.appendDocEmbeddings(dir, delta, "doc_id", "chunk_index", "chunk")
    val merged = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val oneShot = Featurize.meanPoolChunks(ch, "doc_id", "chunk_index", "chunk")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(merged == oneShot, "incremental sidecar must equal the one-shot build exactly")
    // the delta append added a bounded number of files, not O(partitions)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= spark.sparkContext.defaultParallelism,
      s"file-count hygiene: $files files")
  }

  test("docsimTopK: 3 similar docs per anchor, similarity bounded, self excluded") {
    val out = Queries.docsimTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._1).distinct.length == 8)
    assert(out.groupBy(_._1).forall(_._2.length == 3))
    assert(out.forall { case (a, d, _, _) => a != d }, "anchor must not retrieve itself")
    assert(out.forall { case (_, _, s, _) => s >= -1.0 - 1e-6 && s <= 1.0 + 1e-6 },
      s"similarity of unit vectors must stay in [-1,1]: ${out.map(_._3).max}")
    out.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._4).map(_._3)
      assert(byRank.sameElements(byRank.sorted.reverse))
    }
  }

  test("encoder onnx: checked-in artifact matches an independent recomputation at two lengths") {
    import graft.functions.{OnnxFixture => F, OnnxMini}
    val g = OnnxMini.load("/graft/embed_encoder.onnx")
    assert(g.nodes.head.opType == "Gather" && g.nodes.last.opType == "ReduceMean")
    // attributes survive the wire round-trip
    assert(g.nodes.head.attrs("axis").i.contains(0L))
    assert(g.nodes.last.attrs("axes").ints == Seq(0L))
    assert(g.nodes.find(_.opType == "LayerNormalization").get
      .attrs("epsilon").f.contains(1e-5f))
    assert(g.nodes.find(_.opType == "Transpose").get.attrs("perm").ints == Seq(1L, 0L))

    type M = Vector[Vector[Double]]
    def mm(a: M, b: M): M =
      a.map(r => b.transpose.map(c => r.lazyZip(c).map(_ * _).sum))
    def mat(f: (Int, Int) => Int): M =
      Vector.tabulate(F.HeadDims, F.HeadDims)((i, j) => f(i, j).toDouble)
    def block(x: M): M = { // the same single-head block, any row count
      val q = mm(x, mat(F.wq)); val k = mm(x, mat(F.wk)); val v = mm(x, mat(F.wv))
      val s = mm(q, k.transpose).map(_.map(_ * 0.25))
      val att = s.map { r =>
        val m = r.max; val e = r.map(z => math.exp(z - m)); val su = e.sum; e.map(_ / su)
      }
      val ctx = mm(att, v)
      val res = ctx.lazyZip(x).map((a, b) => a.lazyZip(b).map(_ + _))
      val eps = 1e-5f.toDouble // stored as a float attribute
      val ln: M = res.map { r =>
        val mean = r.sum / F.HeadDims
        val va = r.map(z => (z - mean) * (z - mean)).sum / F.HeadDims
        val inv = 1.0 / math.sqrt(va + eps)
        r.zipWithIndex.map { case (z, j) => (z - mean) * inv * F.gamma(j) + F.beta(j) }
      }
      val f1 = mm(ln, mat(F.wf1)).map(_.zipWithIndex.map { case (z, j) => z + F.bf1(j) })
      val f2 = f1.map(_.map(z => math.max(z, 0.0)))
      val f4 = mm(f2, mat(F.wf2)).map(_.zipWithIndex.map { case (z, j) => z + F.bf2(j) })
      f4.lazyZip(ln).map((a, b) => a.lazyZip(b).map(_ + _))
    }
    for (ids <- Seq(Array(3.0, 250.0, 3.0, 17.0, 99.0, 0.0, 123.0), Array(42.0))) {
      val got = OnnxMini.run2d(g, OnnxMini.Mat(ids.length, 1, ids))
      assert(got.rows == 1 && got.cols == F.HeadDims)
      val x: M = ids.toVector.map(id =>
        Vector.tabulate(F.HeadDims)(j => F.embTable(id.toInt, j).toDouble))
      val r2 = block(x)
      val expected = Vector.tabulate(F.HeadDims)(j => r2.map(_(j)).sum / ids.length)
      got.data.toSeq.lazyZip(expected).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) < 1e-9, s"L=${ids.length} dim $i: $a vs $b")
      }
    }
    // sequence length genuinely matters: a repeated token changes the pool
    val a = OnnxMini.run2d(g, OnnxMini.Mat(2, 1, Array(7.0, 7.0))).data
    val b = OnnxMini.run2d(g, OnnxMini.Mat(3, 1, Array(7.0, 7.0, 200.0))).data
    assert(a.toSeq != b.toSeq)
  }

  test("encoder model drives the embedding seam with BPE ids and varying lengths") {
    val df = Tables.documents(spark, sf).limit(20).select("doc_id", "text")
      .union(Seq((9999L, "")).toDF("doc_id", "text")) // empty text short-circuits
    val out = Featurize.embedWithModel(df, "text", keep = Seq("doc_id"),
      model = Featurize.encoderEmbedder())
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.size == 21)
    assert(out(9999L).forall(_ == 0.0), "empty sequence must embed to the zero vector")
    out.filterNot(_._1 == 9999L).values.foreach { v =>
      assert(v.length == graft.functions.OnnxFixture.HeadDims)
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"encoder output must be unit-norm: $n")
    }
    // deterministic: a second run reproduces bit-identical vectors
    val again = Featurize.embedWithModel(df, "text", keep = Seq("doc_id"),
      model = Featurize.encoderEmbedder())
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again == out)
  }

  test("attention-block onnx: checked-in artifact matches an independent recomputation") {
    import graft.functions.{OnnxFixture => F, OnnxMini}
    // the CHECKED-IN artifact (exercises the int64-shape round trip too)
    val g = OnnxMini.load("/graft/embed_attn.onnx")
    assert(g.nodes.map(_.opType).toSet == Set("Reshape", "MatMul", "Transpose",
      "Mul", "Softmax", "Add", "LayerNormalization", "Relu"))
    assert(g.initializers("shape_sd").dtype == 7, "shape tensor must round-trip as INT64")
    val input = Array.tabulate(F.InputDims)(i => ((i * 7) % 5).toDouble)
    val got = OnnxMini.run(g, input)
    assert(got.length == F.InputDims)

    // independent functional recomputation of the same block
    type M = Vector[Vector[Double]]
    def mm(a: M, b: M): M =
      a.map(r => b.transpose.map(c => r.lazyZip(c).map(_ * _).sum))
    def mat(f: (Int, Int) => Int): M =
      Vector.tabulate(F.HeadDims, F.HeadDims)((i, j) => f(i, j).toDouble)
    val x: M = input.grouped(F.HeadDims).map(_.toVector).toVector
    val q = mm(x, mat(F.wq)); val k = mm(x, mat(F.wk)); val v = mm(x, mat(F.wv))
    val s = mm(q, k.transpose).map(_.map(_ * 0.25))
    val att = s.map { r =>
      val m = r.max; val e = r.map(z => math.exp(z - m)); val su = e.sum; e.map(_ / su)
    }
    val ctx = mm(att, v)
    val res = ctx.lazyZip(x).map((a, b) => a.lazyZip(b).map(_ + _))
    val ln: M = res.map { r =>
      val mean = r.sum / F.HeadDims
      val va = r.map(z => (z - mean) * (z - mean)).sum / F.HeadDims
      val inv = 1.0 / math.sqrt(va + 1e-5)
      r.zipWithIndex.map { case (z, j) => (z - mean) * inv * F.gamma(j) + F.beta(j) }
    }
    val f1 = mm(ln, mat(F.wf1)).map(_.zipWithIndex.map { case (z, j) => z + F.bf1(j) })
    val f2 = f1.map(_.map(z => math.max(z, 0.0)))
    val f4 = mm(f2, mat(F.wf2)).map(_.zipWithIndex.map { case (z, j) => z + F.bf2(j) })
    val res2 = f4.lazyZip(ln).map((a, b) => a.lazyZip(b).map(_ + _))
    val expected = res2.flatten
    got.toSeq.lazyZip(expected).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) < 1e-9, s"dim $i: executor $a vs recomputation $b")
    }
    // attention actually attends: the context row differs from the raw row
    assert(ctx != x, "softmax mixing must move the representation")
  }

  test("attention model drives the partition-session embedding seam") {
    val df = Tables.documents(spark, sf).limit(20).select("doc_id", "text")
    val out = Featurize.embedWithModel(df, "text", keep = Seq("doc_id"),
      model = Featurize.onnxEmbedder(resource = "/graft/embed_attn.onnx"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.size == 20)
    out.values.foreach { v =>
      assert(v.length == 64)
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"embedder output must be unit-norm: $n")
    }
  }

  test("embedding is L2-normalized for non-empty docs") {
    val df = Seq(Tuple1("some words to embed right here")).toDF("text")
    val v = df.select(Featurize.hashedBowInline(col("text"), 64)).head.getSeq[Double](0)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
  }

  test("onnx artifact round-trips through the mini wire codec") {
    import graft.functions.{OnnxFixture, OnnxMini}
    val g = OnnxFixture.graph
    val reparsed = OnnxMini.parse(OnnxMini.write(g))
    assert(reparsed.nodes == g.nodes)
    assert(reparsed.inputName == g.inputName && reparsed.outputName == g.outputName)
    assert(reparsed.initializers.keySet == g.initializers.keySet)
    g.initializers.foreach { case (n, t) =>
      assert(reparsed.initializers(n).dims == t.dims, s"$n dims")
      assert(reparsed.initializers(n).data.sameElements(t.data), s"$n data")
    }
    // the CHECKED-IN resource is the same model the fixture describes
    val fromFile = OnnxMini.load("/graft/embed_mlp.onnx")
    assert(fromFile.nodes == g.nodes)
    g.initializers.foreach { case (n, t) =>
      assert(fromFile.initializers(n).data.sameElements(t.data), s"resource $n drifted")
    }
  }

  test("file-driven ONNX scoring equals the formula recomputation") {
    import graft.functions.{OnnxFixture => F, OnnxMini}
    val g = OnnxMini.load("/graft/embed_mlp.onnx")
    val bow = Array.tabulate(F.InputDims)(i => ((i * 7) % 5).toDouble)
    val got = OnnxMini.run(g, bow)
    val h = Array.tabulate(F.HiddenDims) { j =>
      val s = (0 until F.InputDims).map(i => bow(i) * F.w1(i, j)).sum + F.b1(j)
      math.max(0.0, s)
    }
    val want = Array.tabulate(F.InputDims) { k =>
      (0 until F.HiddenDims).map(j => h(j) * F.w2(j, k)).sum + F.b2(k)
    }
    assert(got.sameElements(want), s"got=${got.take(6).toSeq} want=${want.take(6).toSeq}")
  }

  test("onnxEmbedder drives the partition-session seam; doc/query prefixes differ") {
    val df = Tables.documents(spark, sf).limit(40).select("doc_id", "text").repartition(4)
    val out = Featurize.embedWithModel(df, "text", keep = Seq("doc_id"), dims = 64,
      model = Featurize.onnxEmbedder())
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.size == 40)
    out.values.foreach { v =>
      assert(v.length == 64)
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(n == 0.0 || math.abs(n - 1.0) < 1e-9, s"not normalized: $n")
    }
    // asymmetry: the same text embeds differently as doc vs query
    val text = "what is the capital of assyria"
    val asDoc = Featurize.onnxEmbedder(isQuery = false)()(text)
    val asQuery = Featurize.onnxEmbedder(isQuery = true)()(text)
    assert(!asDoc.sameElements(asQuery), "doc/query prefixes must change the embedding")
  }

  test("embed_encoder query: FULL registered output matches an independent recomputation") {
    // The registered query has no DuckDB twin (softmax/layernorm are
    // transcendental), so this is its quantitative gate: every
    // (doc_id, dim) of Queries.embedEncoder over the whole corpus is
    // recomputed INDEPENDENTLY — BPE → id hash → the block math in
    // plain Scala (no OnnxMini) → mean-pool → L2 → round(5) — and must
    // agree within half a 5dp rounding step.
    import graft.functions.{OnnxFixture => F}
    import graft.operators.Bpe
    type M = Vector[Vector[Double]]
    def mm(a: M, b: M): M =
      a.map(r => b.transpose.map(c => r.lazyZip(c).map(_ * _).sum))
    def mat(f: (Int, Int) => Int): M =
      Vector.tabulate(F.HeadDims, F.HeadDims)((i, j) => f(i, j).toDouble)
    def block(x: M): M = {
      val q = mm(x, mat(F.wq)); val k = mm(x, mat(F.wk)); val v = mm(x, mat(F.wv))
      val s = mm(q, k.transpose).map(_.map(_ * 0.25))
      val att = s.map { r =>
        val m = r.max; val e = r.map(z => math.exp(z - m)); val su = e.sum; e.map(_ / su)
      }
      val ctx = mm(att, v)
      val res = ctx.lazyZip(x).map((a, b) => a.lazyZip(b).map(_ + _))
      val eps = 1e-5f.toDouble
      val ln: M = res.map { r =>
        val mean = r.sum / F.HeadDims
        val va = r.map(z => (z - mean) * (z - mean)).sum / F.HeadDims
        val inv = 1.0 / math.sqrt(va + eps)
        r.zipWithIndex.map { case (z, j) => (z - mean) * inv * F.gamma(j) + F.beta(j) }
      }
      val f1 = mm(ln, mat(F.wf1)).map(_.zipWithIndex.map { case (z, j) => z + F.bf1(j) })
      val f2 = f1.map(_.map(z => math.max(z, 0.0)))
      val f4 = mm(f2, mat(F.wf2)).map(_.zipWithIndex.map { case (z, j) => z + F.bf2(j) })
      f4.lazyZip(ln).map((a, b) => a.lazyZip(b).map(_ + _))
    }
    val pretoken = java.util.regex.Pattern.compile(Bpe.PretokenRegex)
    def reEmbed(text: String): Vector[Double] = {
      val ids = Vector.newBuilder[Int]
      var n = 0
      val m = pretoken.matcher(text.toLowerCase)
      while (m.find() && n < 64) {
        val wids = Bpe.encodeWord(m.group(), Bpe.merges)
          .map(s => java.lang.Math.floorMod(s.hashCode, F.VocabSize))
        var i = 0
        while (i < wids.length && n < 64) { ids += wids(i); n += 1; i += 1 }
      }
      val idv = ids.result()
      if (idv.isEmpty) Vector.fill(F.HeadDims)(0.0)
      else {
        val x: M = idv.map(id => Vector.tabulate(F.HeadDims)(j => F.embTable(id, j).toDouble))
        val r = block(x)
        val pooled = Vector.tabulate(F.HeadDims)(j => r.map(_(j)).sum / idv.length)
        val norm = math.sqrt(pooled.map(z => z * z).sum)
        if (norm > 0) pooled.map(_ / norm) else pooled
      }
    }
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Queries.embedEncoder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == texts.size * F.HeadDims, "one row per (doc, dim)")
    val expected = texts.map { case (id, t) => id -> reEmbed(t) }
    var checked = 0
    expected.foreach { case (id, v) =>
      v.zipWithIndex.foreach { case (e, k) =>
        val g = got((id, k.toLong))
        // 5e-6 = half the query's round(5) step; 1e-9 recompute slack
        assert(math.abs(g - e) <= 5.000001e-6, s"doc $id dim $k: $g vs $e")
        checked += 1
      }
    }
    assert(checked == got.size)
  }
}
