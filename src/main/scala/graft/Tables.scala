package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every loader is a plain parquet scan — projection and predicate
  * pushdown are left to Catalyst so callers' `.select`/`.filter` reach
  * the scan (`PushedFilters` / `ReadSchema` in explain output).
  *
  * Loaders are memoized per (session, dir): `spark.read.parquet` on an
  * unknown schema fires a footer/schema-inference ACTION, so an
  * un-memoized loader pays one driver job per CALL — the round-12
  * probe-latency audit found exactly that job leading every warm
  * persisted probe (ProbeJobCountSpec pins it away). The tables are
  * immutable driver-generated inputs, so the memo can never go stale;
  * mutable layouts go through [[graft.operators.LayoutCache]], which
  * has invalidation.
  */
object Tables {
  // bounded + weak-session-keyed (see graft.operators.Caches)
  private val cache =
    graft.operators.Caches.lru[(String, String), DataFrame](64)

  private def cached(spark: SparkSession, dir: String, name: String)(
      load: => DataFrame): DataFrame =
    cache.computeIfAbsent((graft.operators.Caches.sessionId(spark), s"$dir/$name"), _ => load)

  def documents(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "documents")(spark.read.parquet(s"$dir/documents.parquet"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "embeddings")(spark.read.parquet(s"$dir/embeddings.parquet"))
  /** `events.parquet` as stored, `ts` in its physical type — the
    * schema the streamed events source ([[graft.streaming.StreamPipeline.eventStream]])
    * needs. TIMESTAMP(NANOS) reads as a raw long via the legacy conf,
    * set on every call so the read is self-contained.
    */
  def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cached(spark, dir, "events_raw")(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** [[rawEvents]] with `ts` normalized to a LONG (ns since epoch).
    * The raw frame is fetched before the memo lookup: filling one entry
    * of the ConcurrentHashMap-backed cache from inside another entry's
    * fill is a recursive update the map forbids.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = rawEvents(spark, dir)
    cached(spark, dir, "events")(tsAsNanos(raw))
  }

  /** `ts` as a LONG (ns since epoch) whatever its physical type, on a
    * batch or a streamed events frame: a raw long (TIMESTAMP(NANOS)
    * under the legacy conf) passes; TIMESTAMP(MICROS) (what the driver
    * generates now) arrives as TIMESTAMP_NTZ and is converted with a
    * tz-independent `timestampdiff` from the epoch. All downstream time
    * math therefore runs on exact long arithmetic (`DIV`), never double
    * conversions (ns magnitudes exceed double's 2^53 exactness); DuckDB
    * twins use `epoch_ns`/`epoch_ms` on the native timestamp, which
    * agree with the naive (no-tz) reading on both physical types.
    */
  def tsAsNanos(events: DataFrame): DataFrame = events.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => events
    case org.apache.spark.sql.types.TimestampNTZType =>
      events.withColumn("ts",
        org.apache.spark.sql.functions.expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000"))
    case _ => // TIMESTAMP_LTZ (session tz is pinned to UTC in every entry point)
      events.withColumn("ts",
        org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "lineitem")(spark.read.parquet(s"$dir/lineitem.parquet"))
  def orders(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "orders")(spark.read.parquet(s"$dir/orders.parquet"))
  def customer(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "customer")(spark.read.parquet(s"$dir/customer.parquet"))
  def part(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "part")(spark.read.parquet(s"$dir/part.parquet"))
  def supplier(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "supplier")(spark.read.parquet(s"$dir/supplier.parquet"))
  def nation(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "nation")(spark.read.parquet(s"$dir/nation.parquet"))
  def region(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "region")(spark.read.parquet(s"$dir/region.parquet"))
}
