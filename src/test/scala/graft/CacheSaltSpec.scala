package graft

import graft.operators.Dedup
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** Pins the per-invocation keying of operator-internal caches
  * (VERDICT r16 item 5): Spark's CacheManager substitutes ANY
  * sameResult subtree with a live cached entry, so two invocations of
  * an operator that persists the same plan would silently share one
  * cache while the entry lives in the retention pool — a bench warm
  * pass could then be served the previous rep's materialization.
  * [[Dedup.saltedCached]] appends a literal nonce before the persist,
  * making every invocation's cached plan unique BY CONSTRUCTION.
  */
class CacheSaltSpec extends SparkSpec {

  private def inMemRelations(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }

  test("second invocation gets its own InMemoryRelation, never the first's") {
    val base = spark.range(0, 1000)
      .select(col("id"), (col("id") % 7).as("v"))
    val c1 = Dedup.saltedCached(base)
    assert(c1.count() == 1000L) // materialize invocation 1's cache
    val c2 = Dedup.saltedCached(base) // same upstream plan, new invocation
    val r1 = inMemRelations(c1)
    val r2 = inMemRelations(c2)
    assert(r1.size == 1 && r2.size == 1,
      s"expected exactly one InMemoryRelation per invocation, got ${r1.size}/${r2.size}")
    // The cached plans must differ (distinct nonce literals): if the
    // CacheManager had substituted invocation 1's entry into
    // invocation 2's plan, the canonicalized cached plans would be
    // identical.
    assert(!r1.head.cachedPlan.sameResult(r2.head.cachedPlan),
      "invocation 2 was served invocation 1's cache entry")
    assert(c2.count() == 1000L)
    // schema is untouched by the salt
    assert(c1.columns.toSeq == Seq("id", "v") && c2.columns.toSeq == Seq("id", "v"))
    Seq(c1, c2).foreach(_.unpersist())
  }

  test("an UNsalted re-persist of the same plan IS substituted (the hazard being fenced)") {
    val base = spark.range(0, 500).select((col("id") * 3).as("k"))
    val p1 = base.persist()
    assert(p1.count() == 500L)
    // A second DataFrame with the sameResult plan picks up p1's cache
    // even without calling persist on it — this is the CacheManager
    // behavior that makes unsalted operator-internal persists
    // cross-invocation, and why saltedCached exists.
    val again = spark.range(0, 500).select((col("id") * 3).as("k"))
    val rels = inMemRelations(again)
    assert(rels.nonEmpty, "expected CacheManager substitution on sameResult plan")
    p1.unpersist()
  }

  test("a caller column named like the salt keeps its schema and values") {
    val base = spark.range(0, 100)
      .select(col("id"), (col("id") * 2).as("_inv"), lit("x").as("__inv"))
    val c = Dedup.saltedCached(base)
    assert(c.columns.toSeq == Seq("id", "_inv", "__inv"))
    assert(c.schema == base.schema)
    assert(c.orderBy("id").collect().toSeq == base.orderBy("id").collect().toSeq,
      "the caller's _inv column must come back unchanged")
    assert(inMemRelations(c).size == 1, "the salted frame must still be cached")
    c.unpersist()
  }
}
