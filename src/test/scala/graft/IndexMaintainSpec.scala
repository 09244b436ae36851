package graft

import graft.operators.{Ann, IndexMaintenance, LayoutLog}
import org.apache.spark.sql.functions._

/** The auto-maintenance policy for index layouts (round-15 verdict #3):
  * threshold-triggered compaction — delta-append count from the commit
  * log, tombstone count from the sidecar — with the staged in-place
  * swap, so a continuously-maintained layout keeps a stable path while
  * the O(nlist) per-append file floor is amortized.
  */
class IndexMaintainSpec extends SparkSpec {
  import spark.implicits._

  private object M extends IndexMaintenance

  private def vec(i: Int): Seq[Float] =
    Seq(i.toFloat + 1f, (i % 7).toFloat, ((i * 3) % 5).toFloat, 1f)

  private def corpus(ids: Range) =
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private def freshLayout(): (String, Ann.Index) = {
    val dir = tempDir("graft_maint_").toString + "/idx"
    val idx = Ann.build(corpus(0 until 60), "embedding", "vec_id", k = 4, seed = 1L)
    Ann.writeIndex(idx, dir)
    (dir, idx)
  }

  private def annCompact(src: String, out: String): Unit =
    Ann.compact(spark, src, out, "vec_id")

  private def liveIds(dir: String): Set[Long] =
    M.liveFace(spark, dir, spark.read.parquet(dir), "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet

  test("below both thresholds the policy is a no-op (ingest pays nothing)") {
    val (dir, idx) = freshLayout()
    Ann.appendToIndex(dir, corpus(100 until 110), "embedding", idx.centroids)
    // "pays nothing" made mechanical: the no-op decision is driver-side
    // metadata only — ZERO Spark jobs (the tombstone count below the
    // sidecar-exists memo never runs, and delta count reads the log)
    val (r, jobs) = graft.tools.Inspect.jobsOf(spark)(
      M.maintainLayout(spark, dir, annCompact, maxDeltaAppends = 8))
    assert(r == M.LayoutMaintenanceReport(1, 0L, compacted = false))
    assert(jobs.size == 0, s"the no-op policy path fired ${jobs.size} Spark jobs")
    assert(LayoutLog.appendsSinceBuild(spark, dir) == 1, "no-op must not touch the log")
  }

  test("delta-append pressure folds the layout in place and resets the delta count") {
    val (dir, idx) = freshLayout()
    for (b <- 0 until 3)
      Ann.appendToIndex(dir, corpus((100 + 10 * b) until (110 + 10 * b)),
        "embedding", idx.centroids)
    val before = liveIds(dir)
    val r = M.maintainLayout(spark, dir, annCompact, maxDeltaAppends = 2)
    assert(r.compacted && r.deltaAppends == 3)
    assert(LayoutLog.appendsSinceBuild(spark, dir) == 0, "delta count reset after the fold")
    // the swap CARRIES the source history (monotone versions — a racer's
    // pre-swap token must collide with a real commit) and appends the
    // fold as the next version
    assert(LayoutLog.history(spark, dir).map(_.verb) ==
      Seq("build", "append", "append", "append", "compact"))
    assert(liveIds(dir) == before, "the fold must preserve every live row at the same path")
    // the floor actually amortized: one file set per cluster again
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cluster="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(files.nonEmpty && files.forall(_ <= 2),
      s"delta files must fold back to ~1 per cluster, got $files")
  }

  test("drift rebuild re-clusters the LIVE face — tombstoned ids stay deleted") {
    // round-15 review finding: maintainIndex's rebuild read the RAW
    // layout and its swap dropped the sidecar, so a drift-triggered
    // rebuild RESURRECTED every deleted id
    val (dir, idx) = freshLayout()
    Ann.deleteFromIndex(spark, dir, Seq(7L, 21L).toDF("vec_id"), "vec_id")
    // force the rebuild branch: driftFactor 0 makes any delta "drifted"
    val delta = corpus(200 until 220)
    val (_, rep) = Ann.maintainIndex(spark, dir, delta, "embedding", "vec_id",
      idx.centroids, baseCost = 1e-12, driftFactor = 0.0, k = 4, seed = 1L)
    assert(rep.rebuilt)
    val ids = spark.read.parquet(dir).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!ids(7L) && !ids(21L), "rebuild must not resurrect tombstoned ids")
    assert(ids(205L) && ids(0L), "delta and surviving base rows present")
    assert(!M.hasTombstones(dir), "rebuild folds the tombstones away")
    // history carried through the rebuild swap; the rebuild is the last verb
    assert(LayoutLog.history(spark, dir).map(_.verb).last == "build")
  }

  test("tombstone pressure compacts and clears the sidecar; probe parity holds") {
    val (dir, _) = freshLayout()
    Ann.deleteFromIndex(spark, dir, Seq(3L, 7L, 11L).toDF("vec_id"), "vec_id")
    val livePre = liveIds(dir)
    val r = M.maintainLayout(spark, dir, annCompact,
      maxDeltaAppends = 8, maxTombstones = 2L)
    assert(r.compacted && r.tombstones == 3L)
    assert(!M.hasTombstones(dir), "compaction must clear the sidecar")
    assert(liveIds(dir) == livePre && !liveIds(dir)(3L))
    // idempotent: pressure relieved, second call is a no-op
    val r2 = M.maintainLayout(spark, dir, annCompact,
      maxDeltaAppends = 8, maxTombstones = 2L)
    assert(r2 == M.LayoutMaintenanceReport(0, 0L, compacted = false))
  }

  test("layoutCatalog surfaces version / verb / staleness per layout") {
    // synthetic layout through build → append → delete: the catalog row
    // must read the commit log (v3, last verb delete), count the append
    // as staleness, and count the sidecar tombstones
    val (dir, idx) = freshLayout()
    Ann.appendToIndex(dir, corpus(100 until 110), "embedding", idx.centroids)
    Ann.deleteFromIndex(spark, dir, Seq(5L, 9L).toDF("vec_id"), "vec_id")
    val row = graft.operators.Info.layoutCatalog(spark, Seq("t" -> dir)).collect().head
    assert(row.getString(0) == "t" && row.getLong(1) == 3L)
    assert(row.getString(2) == "delete")
    assert(row.getLong(3) == 1L && row.getLong(4) == 2L)
    // the registered query over the testdata scripts: facts match the
    // oracle twin's literals and the data-dependent tombstone count
    val cat = Queries.layoutCatalog(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val nDel = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter("vec_id % 10 = 3").count()
    assert(cat.toSeq == Seq(
      ("ann_deleted", 2L, "delete", 0L, nDel),
      ("ann_full", 1L, "build", 0L, 0L),
      ("ann_incremental", 2L, "append", 1L, 0L)))
  }
}
