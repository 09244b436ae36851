package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Structured Streaming operators over the events stream (SURVEY §2 F5).
  *
  * The reference is a request/response server; its streaming analog is
  * continuous ingest + continuous analytics. Both operators here follow
  * the standard Spark shapes: watermarked tumbling-window aggregation,
  * and explicit session state via mapGroupsWithState — the two patterns
  * that survive unbounded input (state is bounded by watermark /
  * timeout, never by collecting the stream).
  */
object EventStreams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionUpdate(user_id: Long, sessionStart: Long, events: Int, totalValue: Double, closed: Boolean)

  case class SessionState(start: Long, last: Long, n: Int, total: Double)

  /** Tumbling-window counts per event_type with a watermark: late rows
    * beyond 10 minutes are dropped and window state is evicted — the
    * aggregation's memory is O(active windows), not O(stream).
    */
  def windowedCounts(events: DataFrame, window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(functions_window(col("ts"), window), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total_value"))

  // `window` the function vs our parameter name — rebind for clarity.
  private def functions_window(c: org.apache.spark.sql.Column, w: String) =
    org.apache.spark.sql.functions.window(c, w)

  /** Gap-based sessionization with explicit state: session boundaries
    * are event-time gaps > `gapMs`. State per key is a fixed-size
    * summary — bounded regardless of stream length.
    *
    * Pass `GroupStateTimeout.ProcessingTimeTimeout` to additionally
    * emit `closed=true` records after `gapMs` of processing-time
    * silence (note: timeout batches keep the query perpetually
    * schedulable, so `processAllAvailable` won't quiesce — use the
    * default NoTimeout in tests/backfills).
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout
  ): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(userId, s.start, s.n, s.total, closed = true)
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var s = state.getOption.getOrElse {
              val h = sorted.head
              SessionState(h.ts.getTime, h.ts.getTime, 0, 0.0)
            }
            for (e <- sorted) {
              val t = e.ts.getTime
              s =
                if (t - s.last > gapMs) SessionState(t, t, 1, e.value) // new session
                else s.copy(last = t, n = s.n + 1, total = s.total + e.value)
            }
            state.update(s)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(gapMs)
            SessionUpdate(userId, s.start, s.n, s.total, closed = false)
          }
      }
  }

  /** Streaming exact dedup: drop events already seen within the
    * watermark horizon (the streaming face of the reference's
    * idempotent-ingest hash skip, ingestor.py:182). State is bounded by
    * the watermark — Spark evicts ids older than the horizon.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String], horizon: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicates(idCols :+ "ts")

  /** Stream-stream interval join: attribute each purchase to the same
    * user's clicks in the preceding hour. Both sides carry watermarks
    * so the join state is evicted once the interval can no longer
    * match — bounded memory on unbounded streams.
    */
  def purchaseAttribution(events: DataFrame, lookback: String = "1 hour"): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    purchases.join(
      clicks,
      expr(
        s"""p_user = c_user AND
           |click_ts <= purchase_ts AND
           |click_ts >= purchase_ts - INTERVAL $lookback""".stripMargin)
    )
  }

  /** Stream-static enrichment: join the event stream to a static
    * dimension table (customer) — Spark broadcasts the dim per
    * micro-batch, so the stream never shuffles and the state is zero
    * (a stateless map-side join). The streaming face of the batch
    * `events_enrich` query; at scale the dim is either broadcast-sized
    * or pre-bucketed to avoid a per-batch shuffle.
    */
  def enrichWithDim(
      events: DataFrame,
      dim: DataFrame,
      streamKey: String = "user_id",
      dimKey: String = "c_custkey"
  ): DataFrame =
    events.join(broadcast(dim), col(streamKey) === col(dimKey), "left_outer")

  /** Continuous document ingest: a stream of (doc_id, text) rows is
    * chunked and embedded entirely with per-row projections/generators
    * (fixed-size chunker + inline hashed-BoW) — no stateful operator,
    * so it runs in plain append mode with unbounded throughput. The
    * streaming face of the reference's ingest pipeline
    * (ingestor.py:133: convert → chunk → embed → store).
    */
  def ingestStream(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 8): DataFrame =
    graft.operators.Chunker
      .fixedSize(docs, "text", chunkSize, overlap, keep = Seq("doc_id"))
      .withColumn("embedding", graft.operators.Featurize.hashedBowInline(col("chunk"), 64))

  /** Continuous token accounting: running REAL-BPE token totals per
    * source over a document stream — the live face of `token_counts` /
    * `token_shards` (training-data budgets are spent in tokens, not
    * docs). [[graft.plans.BpeTextTokens]] is a pure projection, so the
    * only state is the per-source running aggregate: one row per
    * source, bounded regardless of stream volume, with map-side
    * partial aggregation ahead of the state-store shuffle.
    */
  def tokenAccounting(docs: DataFrame, budget: Long = 1000000L): DataFrame =
    docs
      .withColumn("toks",
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.BpeTextTokens(
            org.apache.spark.sql.GraftBridge.expression(lower(col("text"))),
            graft.operators.Bpe.mergesArray)))
      .groupBy("source")
      .agg(count("*").as("docs"), sum("toks").as("bpe_tokens"))
      .withColumn("over_budget", col("bpe_tokens") > budget)
}
