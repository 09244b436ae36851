package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The shared maintenance contract of every persisted index family —
  * IVF vector layouts ([[Ann]], and the [[Pq]]/[[Sq]]/[[Bq]]/
  * [[Matryoshka]] compressed sidecars) and the BM25 postings layout
  * ([[Fts]]). One lifecycle, four verbs, implemented ONCE — the
  * path-based delete and compact of every clustered vector layout are
  * [[Ann.deleteFromIndex]] / [[Ann.compact]] over the primitives below
  * (Fts's `Index`-typed verbs carry its stats, so they stay its own):
  *
  *  - '''write/append''' of a cluster-partitioned layout goes through
  *    [[writeClustered]]: a cluster-hash exchange BEFORE the
  *    partitioned write, so a write adds O(k) files, not
  *    O(writing-tasks × k) — without it a 32-task batch lands up to
  *    task×k files, and small-file accumulation (plus the commit/list
  *    cost per file) is what kills a continuously-maintained layout at
  *    scale. Raising spark.sql.shuffle.partitions on bigger corpora
  *    keeps each cluster in its own directory, just across more files.
  *  - '''delete''' lands as an append-only TOMBSTONE sidecar
  *    ([[appendTombstones]] under `_tombstones` — the underscore prefix
  *    keeps it invisible to the data scan), never a partition rewrite:
  *    merge-on-read applied to the index, the only delete shape that
  *    works on a continuously-probed 100 TB layout. [[freshIds]] is the
  *    idempotency filter for families that maintain driver-side stats
  *    (re-deleting an id must be a no-op, not silent stat drift).
  *  - '''read''' goes through the LIVE face ([[liveFace]]): the
  *    tombstone set (small next to the corpus — deletes are rare)
  *    excludes its ids inside the pruned scan, BEFORE any top-k heap,
  *    so results are all live; delete-free layouts have no sidecar and
  *    skip the exclusion instead of failing the listing. Below
  *    [[TombstoneInlineLimit]] ids the exclusion is a codegen'd id-set
  *    filter from a once-collected (memoized) tombstone set — zero
  *    per-probe jobs; above it, a broadcast anti-join.
  *  - '''compact''' rewrites the live face into a FRESH directory
  *    ([[requireSeparateDir]] — mode(overwrite) over a directory
  *    concurrently read as input corrupts the index), from the index
  *    itself, never a corpus re-read.
  *
  * Every write verb invalidates [[LayoutCache]]'s listing/tombstone
  * memos for the paths it touches, so warm probes can reuse one
  * FileStatus listing per layout (the round-11 driver-latency fix)
  * without ever serving a stale file set after an in-JVM mutation.
  *
  * Every write verb also COMMITS to the layout's [[LayoutLog]] — the
  * CAS-renamed version log that makes concurrent WRITERS safe (the
  * ChunkStore commit protocol applied to layout dirs): commuting
  * appends both land, a write racing an overwrite fails loudly instead
  * of reporting success over destroyed files, and compactions are
  * fenced ([[fencedCompact]]) so a verb landing on the source layout
  * mid-compaction can never be silently dropped from the output.
  *
  * Reference behavior being re-expressed: store.py:197 rebuilds its
  * whole index on every upsert/delete — at Spark scale the equivalent
  * is delta segments + tombstones + periodic compaction, and every new
  * index family gets that lifecycle by mixing in this trait.
  */
trait IndexMaintenance {

  /** Sidecar directory name; underscore-prefixed so Spark's file index
    * ignores it when scanning the layout's data partitions.
    */
  final val TombstonesSub = "_tombstones"

  /** Tombstone sets at or below this size are collected ONCE (memoized
    * per layout generation) and excluded by a codegen'd id-set filter —
    * no per-probe broadcast-build job. Deletes are rare next to the
    * corpus, so this covers the serving norm; a layout that outgrows it
    * falls back to the broadcast anti-join, which is the right shape
    * for a genuinely large delete set anyway.
    */
  final val TombstoneInlineLimit: Int = TombstoneState.InlineLimit

  final def tombstonePath(dir: String): String =
    dir.stripSuffix("/") + "/" + TombstonesSub

  /** Sidecar existence through the Hadoop FileSystem API — the layout
    * dir decides which filesystem answers (file:/HDFS/S3), so the
    * live-face anti-join and the idempotent-delete guard hold on
    * cluster storage, not only on java.io-visible local paths (where a
    * silent `false` would serve tombstoned rows as live). Memoized per
    * (session, dir) — one exists() round trip per layout generation,
    * not per probe — and invalidated by [[appendTombstones]].
    *
    * SAFETY CONTRACT (multi-writer deployments): like every
    * [[LayoutCache]] listing, this memo is invalidated only by the
    * IN-JVM lifecycle verbs. A tombstone sidecar written by ANOTHER
    * driver to the same layout is invisible to warm probes here until
    * [[refresh]] is called on the layout dir — and because this path
    * gates DELETES, the
    * staleness failure mode is serving tombstoned rows as live, not
    * just a stale listing. Same contract as Spark's catalog cache +
    * REFRESH TABLE: single-writer layouts need nothing; external
    * writers must pair their write with an explicit invalidate.
    */
  final def hasTombstones(dir: String): Boolean =
    TombstoneState.exists(dir)

  final def tombstones(spark: SparkSession, dir: String): DataFrame =
    LayoutCache.readCached(spark, tombstonePath(dir))

  /** The layout's LIVE face: `df` (a scan or pruned scan of `dir`)
    * minus the tombstoned ids when a sidecar exists. Small sidecars
    * (≤ [[TombstoneInlineLimit]]) become a pure-codegen NOT-IN-set
    * filter from the memoized collected set (keeping anti-join
    * semantics for null ids: an anti-join never matches a null key, so
    * null-id rows stay); larger ones broadcast-anti-join.
    */
  final def liveFace(spark: SparkSession, dir: String, df: DataFrame, idCol: String): DataFrame =
    if (!hasTombstones(dir)) df
    else TombstoneState.inlineSet(spark, dir) match {
      case Some(ids) if ids.isEmpty => df
      case Some(ids) =>
        df.filter(col(idCol).isNull || !col(idCol).isInCollection(ids))
      case None =>
        df.join(broadcast(tombstones(spark, dir)), Seq(idCol), "left_anti")
    }

  /** The persisted layout at `dir` as its probes scan it: the memoized
    * listing ([[LayoutCache.readCached]]) through [[liveFace]] — the
    * input unchanged on a delete-free layout, so every probe is live at
    * no cost until something is deleted.
    */
  final def liveLayout(spark: SparkSession, dir: String, idCol: String): DataFrame =
    liveFace(spark, dir, LayoutCache.readCached(spark, dir), idCol)

  /** Ids from `ids` NOT yet tombstoned — the idempotent-delete filter
    * (repeat calls and overlapping batches must not double-decrement a
    * family's driver-side stats).
    */
  final def freshIds(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): DataFrame = {
    val requested = ids.select(idCol).distinct()
    if (hasTombstones(dir))
      requested.join(broadcast(tombstones(spark, dir)), Seq(idCol), "left_anti")
    else requested
  }

  /** Append a (deduplicated) id batch to the tombstone sidecar — one
    * small file per delete batch, O(deletes) bytes. Committed to the
    * layout's [[LayoutLog]] as verb `delete` (write-then-commit; a CAS
    * loss to another append-class writer retries — tombstone batches
    * commute — while a loss to an overwrite-class verb surfaces
    * loudly: the sidecar this wrote may no longer exist).
    */
  final def appendTombstones(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val observed = LayoutLog.version(spark, dir)
    ids.coalesce(1).write.mode("append").parquet(tombstonePath(dir))
    TombstoneState.invalidate(dir)
    LayoutLog.commitVerb(spark, dir, "delete", observed): Unit
  }

  /** Cluster-partitioned layout write with the mandatory pre-write
    * cluster-hash exchange (see trait doc). `mode` is `overwrite` for
    * build/compact, `append` for delta maintenance. Every write commits
    * to the layout's [[LayoutLog]]: appends are optimistic (CAS retry
    * against other commuting appends, loud failure against an
    * overwrite); an overwrite starts the log fresh at v1 — overwrite IS
    * layout creation/replacement, and Spark's overwrite mode clears the
    * directory including any prior log, so a concurrent writer into the
    * same dir is a coordination error the caller owns (the in-repo
    * callers never overwrite a shared live dir: compaction requires a
    * separate out dir, and the drift rebuild stages + swaps).
    */
  final def writeClustered(df: DataFrame, path: String, mode: String): Unit = {
    val spark = df.sparkSession
    // both modes observe the pre-write version: an append's token fences
    // it against concurrent writers; an overwrite DELIBERATELY replaces
    // the file set (log included), so its token just keeps version
    // numbers monotone across a rebuild into the same dir
    val observed = LayoutLog.version(spark, path)
    df.repartition(col("cluster"))
      .write.partitionBy("cluster").mode(mode).parquet(path)
    LayoutCache.invalidate(path)
    TombstoneState.invalidate(path) // overwrite may clear a sidecar
    LayoutLog.commitVerb(spark, path,
      if (mode == "append") "append" else "build", observed): Unit
  }

  /** COMPACTION FENCE: run `body` (a compaction's live-face read +
    * fresh-dir write) and fail LOUDLY if any verb committed to the
    * SOURCE layout in between — without this, rows appended to the
    * source after the snapshot read are silently absent from the
    * compacted output, the classic lost-update (the CAS log alone
    * can't catch it: the compaction writes a DIFFERENT directory, so
    * no commit collides). On conflict the output dir is left as
    * debris, never swapped in; the caller re-runs the compaction
    * against the now-current source. Returns `body`'s result so
    * stat-carrying compactions ([[Fts.compact]]) pass their Index
    * through.
    */
  final def fencedCompact[T](spark: SparkSession, family: String, srcDir: String)(body: => T): T = {
    val observed = LayoutLog.version(spark, srcDir)
    val out = body
    val now = LayoutLog.version(spark, srcDir)
    if (now != observed)
      throw new java.util.ConcurrentModificationException(
        s"$family compaction of $srcDir: source layout advanced v$observed -> v$now " +
          "during the compaction (a concurrent append/delete would be silently " +
          "dropped from the compacted output) — discard the output dir and rerun")
    out
  }

  /** MULTI-WRITER hook — the executable face of the safety contract on
    * [[hasTombstones]]: all layout memos (file listing, tombstone
    * existence, inlined tombstone id set) are invalidated only by this
    * JVM's lifecycle verbs, so a sidecar or delta written by ANOTHER
    * driver to the same layout is invisible to warm probes here until
    * the external writer's commit is paired with a `refresh(dir)` —
    * exactly Spark's catalog-cache + REFRESH TABLE contract. Dropping
    * the memos costs one FS exists() + one listing on the NEXT probe of
    * that layout, nothing on any other layout. Single-writer
    * deployments never need to call this.
    */
  final def refresh(dir: String): Unit = {
    TombstoneState.invalidate(dir)
    LayoutCache.invalidate(dir)
  }

  final case class LayoutMaintenanceReport(
      deltaAppends: Int, tombstones: Long, compacted: Boolean)

  /** THRESHOLD-TRIGGERED compaction policy for a persisted layout —
    * [[ChunkStore.maintain]]'s analog for the index families, closing
    * the round-14 gap that `compact()` existed only as a manual verb.
    * Two measured pressures trigger a fold:
    *
    *  - `maxDeltaAppends`: each delta append adds an O(nlist) file
    *    floor (measured in the lifecycle study, PLANS.md) — the
    *    listing/commit cost a continuously-maintained layout
    *    accumulates. The count comes straight from the commit log
    *    ([[LayoutLog.appendsSinceBuild]]), no file listing needed.
    *  - `maxTombstones`: deletes accumulate probe-side exclusion work;
    *    the default threshold is [[TombstoneInlineLimit]] — compact
    *    BEFORE probes fall off the memoized inline-set path onto the
    *    per-probe broadcast anti-join.
    *
    * Below both thresholds ingest pays NOTHING (two driver-side
    * metadata reads). Above either, the layout is compacted through
    * `compactInto(srcDir, outDir)` (for a clustered vector layout
    * [[Ann.compact]] — already fenced) into a staging
    * dir, then SWAPPED into place the way [[Ann.maintainIndex]]'s
    * drift rebuild swaps: the layout path is stable for readers, the
    * swap is re-fenced against any verb that landed after the
    * compaction finished, and the swap's overwrite-class commit resets
    * the delta count so the floor is amortized over every append/delete
    * cycle since the last fold. After a fold the commit log itself is
    * VACUUMED ([[LayoutLog.vacuum]]): pre-fold history squashes behind
    * the fold's commit, so the log of a continuously-maintained layout
    * stays bounded by the fold cadence (one retained suffix per cycle),
    * never by lifetime verb count.
    */
  final def maintainLayout(
      spark: SparkSession,
      dir: String,
      compactInto: (String, String) => Unit,
      maxDeltaAppends: Int = 8,
      maxTombstones: Long = TombstoneState.InlineLimit.toLong
  ): LayoutMaintenanceReport = {
    val deltas = LayoutLog.appendsSinceBuild(spark, dir)
    val tombs: Long =
      if (!hasTombstones(dir)) 0L
      else TombstoneState.inlineSet(spark, dir) match {
        case Some(ids) => ids.size.toLong
        case None      => LayoutCache.readCached(spark, tombstonePath(dir)).count()
      }
    if (deltas <= maxDeltaAppends && tombs <= maxTombstones)
      LayoutMaintenanceReport(deltas, tombs, compacted = false)
    else {
      val observed = LayoutLog.version(spark, dir)
      val staging = dir.stripSuffix("/") + "-compacting"
      compactInto(dir, staging)
      fencedSwap(spark, "maintainLayout", dir, staging, observed, "compact")
      LayoutLog.vacuum(spark, dir): Unit
      LayoutMaintenanceReport(deltas, tombs, compacted = true)
    }
  }

  /** STAGED IN-PLACE SWAP shared by [[maintainLayout]] and
    * [[Ann.maintainIndex]]'s drift rebuild — the one copy of the
    * fence + retire + rename + log-carry sequence (two hand-inlined
    * copies drifted once already; any fix must land in both).
    *
    * Round-16 shape — RENAME-AWAY, never delete-first. The old
    * sequence (delete live dir, rename staging in, restore log, commit
    * swap verb) had two windows the round-15 review flagged: a crash
    * between delete and rename lost the ONLY complete copy of the
    * layout's live path (data survived solely in staging, needing
    * manual recovery), and a reader racing the window could observe an
    * installed dir whose carried log had not landed yet. Now:
    *
    *  1. FENCE: a verb committed to `dir` after `observed` (the version
    *     the staged rewrite snapshotted) means the rewrite is stale —
    *     throw, live dir untouched, staging removed.
    *  2. The source log is CARRIED INTO THE STAGING DIR *before any
    *     rename*, with the swap verb appended at `observed + 1` (we own
    *     staging — no CAS needed), replacing staging's own fresh v1
    *     record. One rename therefore installs data + full history +
    *     swap commit ATOMICALLY: no reader or racer can ever observe
    *     the new generation without its log.
    *  3. RETIRE the live dir by renaming it aside — the old generation
    *     survives, complete, until the new one is installed. A crash at
    *     any step leaves at least one complete generation on disk
    *     (before retire: live dir intact; between renames: retired +
    *     staging both complete — recovery = rename either back).
    *  4. POST-RETIRE FENCE: a verb that committed between step 1's read
    *     and the retire landed in the old log (now at the retired
    *     path). Detected by re-reading the retired log's version — and
    *     because the old generation still exists, the swap ROLLS BACK
    *     (rename it home, drop staging, throw CME for a rerun). The
    *     delete-first design could only detect this racer, never
    *     recover its files; rename-away closes that residual window.
    *  5. Install staging at the live path (result checked: a failure —
    *     e.g. a racing commitVerb's mkdirs re-created `dir` inside the
    *     window — throws with BOTH intact generations named for
    *     recovery), then drop the retired dir best-effort.
    *
    * Readers hold no pointer indirection — they scan `dir` — so the
    * isolation contract is SNAPSHOT-OR-FAIL (spec-pinned by
    * SwapIsolationSpec): a probe racing the swap sees the old
    * generation, the new generation, or a loud path-does-not-exist
    * error in the instant between the two renames; never an empty or
    * mixed layout. Wait-free readers across a swap need a manifest
    * pointer (the ChunkStore design) — that indirection changes every
    * family's read path and stays out of scope while probes memoize
    * listings per generation anyway.
    */
  final def fencedSwap(
      spark: SparkSession,
      family: String,
      dir: String,
      staging: String,
      observed: Long,
      verb: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val hStaging = new org.apache.hadoop.fs.Path(staging)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    // FENCE on the carried history itself (one read serves both): a verb
    // committed after `observed` — even one landing between a separate
    // version() check and this read — shows up as a carried entry at
    // observed+1 and would collide with the swap commit appended below
    val carried = LayoutLog.rawEntries(spark, dir)
    if (carried.lastOption.map(_._1).getOrElse(0L) != observed) {
      fs.delete(hStaging, true)
      throw new java.util.ConcurrentModificationException(
        s"$family($dir): layout advanced past v$observed before the swap — " +
          "the staged rewrite is stale; rerun")
    }
    LayoutLog.restore(spark, staging,
      carried :+ ((observed + 1) -> s"$verb observed=$observed\n"))
    val retired = new org.apache.hadoop.fs.Path(
      dir.stripSuffix("/") + "-retired-" + java.util.UUID.randomUUID())
    if (!fs.rename(hPath, retired))
      throw new java.io.IOException(
        s"$family($dir): could not retire the live dir for the swap; " +
          s"the live layout is untouched and the staged rewrite is intact at $staging")
    val retiredVersion = LayoutLog.version(spark, retired.toString)
    if (retiredVersion != observed) {
      // a racer committed inside the carry->retire window: its files and
      // commit live in the RETIRED generation — roll it back home intact
      if (!fs.rename(retired, hPath))
        throw new java.io.IOException(
          s"$family($dir): layout advanced v$observed -> v$retiredVersion during " +
            s"the swap AND the rollback rename failed — the live generation is " +
            s"intact at $retired, the staged rewrite at $staging; recover by " +
            "renaming the retired dir back to the layout path")
      fs.delete(hStaging, true)
      throw new java.util.ConcurrentModificationException(
        s"$family($dir): layout advanced v$observed -> v$retiredVersion during the " +
          "swap — rolled back (the racer's write is preserved); rerun against " +
          "the advanced layout")
    }
    if (!fs.rename(hStaging, hPath)) {
      // do NOT delete the retired dir: it is the only installed-path
      // generation; surface both intact copies for recovery
      throw new java.io.IOException(
        s"$family($dir): install rename failed — a concurrent writer re-created " +
          s"the dir inside the swap window? The previous generation is intact at " +
          s"$retired and the staged rewrite at $staging; recover by removing the " +
          "conflicting dir and renaming one of them back")
    }
    fs.delete(retired, true) // the new generation is live; best-effort reap
    LayoutCache.invalidate(dir)
    TombstoneState.invalidate(dir)
  }

  final def requireSeparateDir(family: String, srcDir: String, outDir: String): Unit =
    require(outDir != srcDir,
      s"$family compaction: output dir must differ from the source layout ($srcDir) — " +
        "mode(overwrite) over a directory concurrently read as input corrupts the index")
}

/** Per-layout tombstone metadata memos (sidecar existence; the
  * collected id set when small) — the driver-side state that must be
  * checked on EVERY probe but only changes when a lifecycle verb runs.
  * Serving cost model: without these memos a persisted probe pays one
  * FS exists() plus one broadcast-build job per call; with them, both
  * are one-time per layout generation.
  */
private[operators] object TombstoneState {
  /** One definition of the inline budget — the trait's
    * TombstoneInlineLimit aliases it (a duplicated literal once let the
    * documented threshold and the collector silently diverge).
    */
  final val InlineLimit = 65536

  private val existsCache = Caches.lru[String, java.lang.Boolean](512)
  // Some(ids) = sidecar read and small enough to inline; None sentinel
  // is encoded by caching an oversized marker so we don't re-collect.
  private val idsCache = Caches.lru[(String, String), Option[Seq[Any]]](256)

  private def hadoopExists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "/_tombstones")
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf).exists(p)
  }

  def exists(dir: String): Boolean =
    existsCache.computeIfAbsent(dir, d => java.lang.Boolean.valueOf(hadoopExists(d)))
      .booleanValue()

  /** The tombstone id set when ≤ TombstoneInlineLimit (memoized —
    * collected once per layout generation); None when it outgrew the
    * inline budget and probes must anti-join instead.
    */
  def inlineSet(spark: SparkSession, dir: String): Option[Seq[Any]] =
    idsCache.computeIfAbsent((Caches.sessionId(spark), dir), _ => {
      val rows = LayoutCache.readCached(spark, dir.stripSuffix("/") + "/_tombstones")
        .limit(InlineLimit + 1).collect()
      // drop NULL ids: an anti-join never matches a null build key, so a
      // null tombstone deletes nothing — but left inside the In-list it
      // turns the NOT-IN filter three-valued and silently drops EVERY
      // live row (round-12 review finding; TombstoneStateSpec pins it)
      if (rows.length > InlineLimit) None
      else Some(rows.toSeq.map(_.get(0)).filter(_ != null))
    })

  def invalidate(dir: String): Unit = {
    existsCache.keySet().remove(dir)
    val it = idsCache.keySet().iterator()
    while (it.hasNext) {
      if (it.next()._2 == dir) it.remove()
    }
    LayoutCache.invalidate(dir.stripSuffix("/") + "/_tombstones")
  }
}
