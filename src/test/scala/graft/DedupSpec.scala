package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactGroups finds identical texts and keeps the min id") {
    val df = Seq(
      (1L, "same text here"),
      (2L, "same text here"),
      (3L, "different text"),
      (9L, "same text here")
    ).toDF("doc_id", "text")
    val out = Dedup.exactGroups(df, "text", "doc_id").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("keeper_doc_id") == 1L)
    assert(out.head.getAs[Long]("dup_count") == 3L)
  }

  test("exactDedup keeps exactly one row per distinct content") {
    val df = Seq(
      (1L, "aaa bbb"), (2L, "aaa bbb"), (3L, "ccc ddd")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id").select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
  }

  test("semDeDup keeps the lowest-centroid-sim member of each planted duplicate pair") {
    // Two well-separated clusters; in cluster 0 plant a near-dup of doc 1.
    val rnd = new scala.util.Random(7)
    def vec(center: Double): Seq[Double] =
      (0 until 8).map(i => center + rnd.nextGaussian() * 0.01)
    val rows = Seq(
      (1L, (0 until 8).map(i => 1.0 + i * 0.001)),
      (2L, vec(1.0)),
      (3L, vec(1.0)),
      (10L, vec(-1.0)),
      (11L, vec(-1.0))
    ) :+ (101L, (0 until 8).map(i => 1.0 + i * 0.001 + (if (i == 0) 0.0005 else 0.0)))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(1.0), Array.fill(8)(-1.0))
    val out = Dedup.semDeDup(df, "embedding", "vec_id", cents, threshold = 0.999999)
      .select("vec_id", "centroid_sim", "kept")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap

    // exactly one of the planted pair (1, 101) is removed; all others kept
    assert(Seq(1L, 101L).count(id => !out(id)._2) == 1,
      s"expected one removal in the planted pair, got $out")
    Seq(2L, 3L, 10L, 11L).foreach(id => assert(out(id)._2, s"doc $id should be kept"))
    // the kept member is the one with LOWER centroid similarity (ties by id)
    val (keptId, rmId) = if (out(1L)._2) (1L, 101L) else (101L, 1L)
    assert(out(keptId)._1 <= out(rmId)._1,
      s"keep rule violated: kept=$keptId sim=${out(keptId)._1}, removed=$rmId sim=${out(rmId)._1}")
  }

  test("minHashLshPairs recovers a planted near-duplicate and skips unrelated docs") {
    val base = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val nearDup = (1 to 55).map(i => s"alpha$i").mkString(" ") // drop last 5 tokens
    val other = (1 to 60).map(i => s"beta$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(df, "text", "doc_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"expected only the planted pair, got ${pairs.toSeq}")
    // true jaccard: shingles(60 tokens)=58, shingles(55)=53, all shared → 53/58
    assert(math.abs(pairs.head._3 - BigDecimal(53.0 / 58.0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("minHashSignatures is order-insensitive over the shingle set") {
    // "a b c a b" and "b c a b c" shingle to the same set {abc, bca, cab}
    // in a different order: every min-hash (and so every band) agrees
    val df = Seq((1L, "a b c a b"), (2L, "b c a b c")).toDF("doc_id", "text")
    val sig = Dedup.minHashSignatures(df, "text", "doc_id").orderBy("doc_id")
      .select((0 until 8).map(i => col(s"h$i")): _*).collect().map(_.toSeq)
    assert(sig(0) == sig(1), s"${sig(0)} vs ${sig(1)}")
  }

  test("ngramJaccardPairs computes exact set Jaccard") {
    val df = Seq(
      (1L, "a b c d e"),   // shingles: abc bcd cde
      (2L, "a b c d x")    // shingles: abc bcd cdx → inter 2, union 4
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "text", "doc_id").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard") == 0.5)
  }

  test("incremental signature store: delta batches + re-ingest equal the one-shot sweep") {
    import graft.operators.ChunkStore
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "a completely different document about spark partitions"),
      (4L, "another unrelated text body concerning parquet files")
    ).toDF("doc_id", "text")
    val oneShot = Dedup.minHashLshPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val root = tempDir("graft_sig_spec").toString + "/sig"
    val store = new ChunkStore(root, "doc_id")
    // first batch signs a STALE doc 2; the re-ingest batch replaces it
    Dedup.appendSignatures(store, Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "stale version of doc two entirely different")).toDF("doc_id", "text"), "text")
    Dedup.appendSignatures(store, Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "a completely different document about spark partitions"),
      (4L, "another unrelated text body concerning parquet files")).toDF("doc_id", "text"), "text")
    val incremental = Dedup.pairsFromSignatures(store.read(spark), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incremental == oneShot,
      s"incremental $incremental must equal one-shot $oneShot")
    assert(incremental.contains((1L, 2L)), "the planted near-dup pair must surface")
  }

  test("decontaminateSpans with scriptFold catches Cyrillic-transliterated contamination") {
    import graft.functions.TextOps
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((0L, benchText)).toDF("doc_id", "text")
    val cyr = spark.range(1)
      .select(TextOps.latinToCyrillic(lit(benchText)).as("c")).head().getString(0)
    assert(cyr != benchText && !cyr.exists(ch => ch >= 'a' && ch <= 'z'),
      s"fixture must actually transliterate: $cyr")
    val corpus = Seq(
      (10L, s"clean prefix words here $cyr and a clean suffix tail"),
      (11L, "entirely unrelated document with its own ten tokens padding pad")
    ).toDF("doc_id", "text")
    // without normalization the Cyrillic span is invisible to the tokenizer
    val plain = Dedup.decontaminateSpans(corpus, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(plain(10L) == 0L, s"raw tokenizer must not see the planted span: $plain")
    // with scriptFold both sides meet in one script and the span drops
    val folded = Dedup.decontaminateSpans(corpus, bench, "text", "doc_id",
      normalize = TextOps.scriptFold)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(folded(10L) == 10L, s"the 10 planted benchmark tokens must drop: $folded")
    assert(folded(11L) == 0L, "unrelated doc untouched")
  }

  test("ngramJaccardPairs fails fast on unblocked input, pointing at minHashLshPairs") {
    val big = spark.range(0, 50).selectExpr("id AS doc_id", "concat('doc ', id) AS text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(big, "text", "doc_id", maxRows = 40L)
    }
    assert(e.getMessage.contains("minHashLshPairs"), e.getMessage)
    // the same 50 rows pass when the ceiling is raised DELIBERATELY
    assert(Dedup.ngramJaccardPairs(big, "text", "doc_id", maxRows = 50L).count() == 50L * 49 / 2)
  }

  test("embeddingNearDupPairs finds only the planted high-cosine pair within blocks") {
    val v = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val vNear = v.clone(); vNear(0) = vNear(0) + 0.01f
    val vOther = Array.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq(
      (1L, 0, v), (2L, 0, vNear), (3L, 0, vOther),
      (4L, 1, v) // same vector but different block → must not pair
    ).toDF("vec_id", "label", "embedding")
    val out = Dedup.embeddingNearDupPairs(df, "embedding", "vec_id", "label", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("duplicateClusters resolves chains and keeps singletons apart (both regimes)") {
    // chain 1-2-3-4 (diameter 3 → needs multiple propagation rounds),
    // separate pair 10-11, and 20-21
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    val local = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expect)
    // force the distributed min-label loop (threshold 0)
    val dist = Dedup.duplicateClusters(pairs, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect)
  }

  test("canonicalPerCluster keeps the highest-quality member, singletons pass through") {
    // cluster {1,2,3}: doc 2 is longest (highest length-quality);
    // cluster {10,11}: equal texts -> tie broken by min id; 99 singleton
    val longText = (1 to 80).map(i => s"the of a w$i").mkString(" ") // stop-rich + long
    val corpus = Seq(
      (1L, "the of a short"), (2L, longText), (3L, "the of a bit longer text here"),
      (10L, "the same words exactly"), (11L, "the same words exactly"),
      (99L, "a lonely singleton document")
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val out = Dedup.canonicalPerCluster(corpus, clusters, "text", "doc_id")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out(2L) == ((1L, 2L, true)), s"longest doc wins its cluster: ${out(2L)}")
    assert(out(1L) == ((1L, 2L, false)) && out(3L) == ((1L, 2L, false)))
    assert(out(10L) == ((10L, 10L, true)), "tie broken to the lowest id")
    assert(out(11L) == ((10L, 10L, false)))
    assert(out(99L) == ((99L, 99L, true)), "singleton is its own canonical")
    // exactly one keeper per cluster
    val keepers = out.values.groupBy(_._1).map { case (c, vs) => c -> vs.count(_._3) }
    assert(keepers.values.forall(_ == 1), keepers.toString)
  }

  test("simHash64 is deterministic and equal texts get equal signatures") {
    val df = Seq((1L, "spark filter join"), (2L, "spark filter join"), (3L, "totally different words"))
      .toDF("doc_id", "text")
    val out = Dedup.simHash64(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L).length == 64 && out(1L).forall(c => c == '0' || c == '1'))
    assert(out(1L) != out(3L))
  }

  test("simHashPairs: exact dup at hamming 0, unrelated docs skipped, edit-pair consistent with signatures") {
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val other = (1 to 200).map(i => s"zw$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base), // exact duplicate → hamming 0, must always pair
      (3L, other),
      (4L, base + " extra") // one-token edit → small (but random) hamming
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0L), s"exact dup must pair at hamming 0: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)), s"unrelated docs paired: $pairs")
    // the edit pair appears exactly when its true hamming distance <= 3
    val sigs = Dedup.simHash64(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trueHam = sigs(1L).zip(sigs(4L)).count { case (a, b) => a != b }
    assert(pairs.contains((1L, 4L)) == (trueHam <= 3),
      s"edit pair presence inconsistent: trueHam=$trueHam pairs=$pairs")
  }

  test("simHashPairs: six calls over six corpora leave at most 4 signature tables cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (c <- 1 to 6) {
      val df = (1 to 20).map(i => (i.toLong, s"corpus$c shared words doc${i % 10}"))
        .toDF("doc_id", "text")
      Dedup.simHashPairs(df, "text", "doc_id").collect()
    }
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size <= 4, s"${pinned.size} of 6 signature tables still cached")
  }
}
