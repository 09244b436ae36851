package graft

import graft.operators.IndexMaintenance
import org.apache.spark.sql.functions._

/** The round-12 live-face fast path: small tombstone sets become a
  * memoized, pushed-down NOT-IN-set filter instead of a per-probe
  * broadcast anti-join. These tests pin (1) the two paths' row-level
  * equivalence including the null-id corner (an anti-join never matches
  * a null key, so null-id rows must SURVIVE the exclusion), (2) the
  * >inline-limit fallback to the anti-join, and (3) invalidation — an
  * append through the lifecycle verb must be visible to the next probe
  * (no stale memo).
  */
class TombstoneStateSpec extends SparkSpec {
  import spark.implicits._

  private object M extends IndexMaintenance

  private def freshDir(): String =
    tempDir("graft_tomb_spec_").toString + "/idx"

  private def layout(dir: String, n: Int): Unit =
    (0 until n).map(i => (i.toLong, i % 4)).toDF("id", "cluster")
      .write.partitionBy("cluster").mode("overwrite").parquet(dir)

  test("inline-set live face equals the anti-join semantics, null ids survive") {
    val dir = freshDir()
    layout(dir, 100)
    M.appendTombstones(Seq(3L, 7L, 42L).toDF("id"), dir)
    val base = spark.read.parquet(dir)
      .unionByName(Seq((null.asInstanceOf[java.lang.Long], 0))
        .toDF("id", "cluster"))
    val live = M.liveFace(spark, dir, base, "id")
    val ids = live.select("id").collect().map(r => Option(r.get(0)))
    assert(ids.count(_.isEmpty) == 1, "null-id row must survive the exclusion (anti-join semantics)")
    val defined = ids.flatten.map(_.asInstanceOf[Long]).toSet
    assert(defined.size == 97 && !defined(3L) && !defined(7L) && !defined(42L))
  }

  test("appendTombstones invalidates the memo — the next probe sees the new deletes") {
    val dir = freshDir()
    layout(dir, 50)
    M.appendTombstones(Seq(1L).toDF("id"), dir)
    assert(M.liveFace(spark, dir, spark.read.parquet(dir), "id").count() == 49)
    M.appendTombstones(Seq(2L, 3L).toDF("id"), dir)
    assert(M.liveFace(spark, dir, spark.read.parquet(dir), "id").count() == 47,
      "stale inline set served after a lifecycle append")
  }

  test("a tombstone set past the inline limit falls back to the broadcast anti-join") {
    val dir = freshDir()
    layout(dir, 10)
    val big = spark.range(0, M.TombstoneInlineLimit + 100).select(col("id"))
    M.appendTombstones(big, dir)
    val live = M.liveFace(spark, dir, spark.read.parquet(dir), "id")
    // plan must carry a join (the anti-join path), not an In/InSet filter
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"),
      s"expected the anti-join fallback past the inline limit, got:\n$plan")
    assert(live.count() == 0) // every id 0..9 tombstoned
  }

  test("refresh makes an EXTERNAL writer's tombstones visible (multi-writer hook)") {
    val dir = freshDir()
    layout(dir, 30)
    // warm the memos on the delete-free layout: the sidecar existence
    // check memoizes FALSE here — the exact staleness window the
    // SAFETY CONTRACT on hasTombstones documents
    assert(M.liveFace(spark, dir, spark.read.parquet(dir), "id").count() == 30)
    // another driver lands a tombstone sidecar directly (no in-JVM
    // lifecycle verb, so no automatic invalidation)
    Seq(4L, 9L).toDF("id").coalesce(1).write.mode("append").parquet(M.tombstonePath(dir))
    assert(M.liveFace(spark, dir, spark.read.parquet(dir), "id").count() == 30,
      "warm probes serve the memoized face until refresh — the documented contract")
    M.refresh(dir)
    assert(M.liveFace(spark, dir, spark.read.parquet(dir), "id").count() == 28,
      "refresh must surface the external writer's deletes on the next probe")
  }

  test("a NULL id in the tombstone set cannot poison the NOT-IN filter") {
    // round-12 review finding: a null inside the inlined In-list makes
    // the NOT-IN three-valued and silently drops EVERY live row; the
    // anti-join path a null build key deletes nothing. The inline set
    // must drop nulls.
    val dir = freshDir()
    layout(dir, 20)
    M.appendTombstones(
      Seq(Some(5L), None).map(o => Tuple1(o.map(Long.box).orNull))
        .toDF("id").select(col("id").cast("long").as("id")), dir)
    val live = M.liveFace(spark, dir, spark.read.parquet(dir), "id")
    assert(live.count() == 19, "null tombstone must delete nothing and poison nothing")
  }
}
