package graft.operators

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental parquet chunk store with MANIFEST-BASED commits:
  * merge-on-read segments + tombstones + leveled partial compaction —
  * the maintenance loop of the reference store (store.py:180
  * `upsert_chunks`, :237 `delete_document`) re-expressed for immutable
  * columnar storage with the Delta/Iceberg commit pattern (an atomic
  * pointer swap over an append-only log).
  *
  * Layout:
  * {{{
  *   <root>/_log/v00000001.manifest   one line per live segment: "<seq> <dir>"
  *   <root>/seg-<uuid>/               immutable parquet segment dirs
  * }}}
  *
  * COMMIT PROTOCOL: data lands first in a fresh `seg-<uuid>` dir that
  * no manifest references (invisible); the new manifest is then written
  * to a temp name inside `_log/` and RENAMED to its final
  * `v<version>.manifest` name. Rename is the atomic pointer swap —
  * atomic on HDFS and local filesystems, and it FAILS (rather than
  * overwrites) when a concurrent writer landed the same version first,
  * which is exactly Delta's optimistic-concurrency conflict signal (the
  * loser re-reads and retries against the next version). Readers
  * resolve the HIGHEST complete manifest at `read()` time, so every
  * crash state is invisible: an orphan segment dir is never listed; a
  * half-written temp manifest never matches the `v*.manifest` pattern;
  * a completed rename is a complete commit.
  *
  * A row is live if it carries the highest segment sequence number for
  * its key and is not a tombstone — one window over the key, no
  * driver-side state.
  *
  * COMPACTION is leveled and PARTIAL: [[maintain]] folds only the
  * OLDEST run of segments — enough to bring the chain back under the
  * read-amplification bound — into one segment that keeps the run's
  * highest sequence number. Folding a prefix is always safe: within the
  * run latest-wins resolves exactly as before, keys in newer untouched
  * segments still win by sequence order, and tombstones in the run can
  * be dropped outright (nothing is older than the prefix, so there is
  * nothing left to shadow). Superseded segments and manifests are NOT
  * deleted at commit time — in-flight readers that resolved an older
  * manifest keep a consistent view — but by a separate [[vacuum]] with
  * a manifest-retention count (Delta's VACUUM pattern).
  *
  * All store maintenance goes through the Hadoop FileSystem API
  * resolved from the root path's scheme, so the same code runs against
  * local disk, HDFS or S3A — the 100 TB deployment target. (On S3A,
  * where rename is non-atomic, Delta itself requires a coordination
  * layer (e.g. a DynamoDB LogStore) for multi-writer commits; the
  * single-writer protocol here is unaffected.)
  */
class ChunkStore(val root: String, val keyCol: String) {

  private def spark0(df: DataFrame) = df.sparkSession

  private val rootPath = new Path(root)
  private val logPath = new Path(root, "_log")

  private def fs(spark: SparkSession): FileSystem =
    rootPath.getFileSystem(spark.sessionState.newHadoopConf())

  /** One live segment: `seq` is the latest-wins order, `dir` the
    * segment directory name under root.
    */
  final case class Segment(seq: Long, dir: String)

  /** Complete manifest versions on disk, ascending. */
  private def listVersions(f: FileSystem): Seq[Long] =
    if (!f.exists(logPath)) Seq.empty
    else f.listStatus(logPath).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      .sorted

  /** The segments manifest `version` lists, in sequence order. */
  private def readManifest(f: FileSystem, version: Long): Seq[Segment] = {
    val in = f.open(manifestPath(version))
    val body =
      try scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).mkString
      finally in.close()
    body.linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(seq, dir) = l.split(" ", 2)
      Segment(seq.toLong, dir)
    }.toSeq.sortBy(_.seq)
  }

  /** (version, segments) of the highest complete manifest, if any. */
  private def currentManifest(spark: SparkSession): Option[(Long, Seq[Segment])] = {
    val f = fs(spark)
    listVersions(f).lastOption.map(v => v -> readManifest(f, v))
  }

  private def manifestPath(version: Long): Path =
    new Path(logPath, f"v$version%08d.manifest")

  /** Atomic pointer swap: install the segment list at the final
    * version name through [[LayoutLog.casCreate]], the same
    * scheme-dependent fail-if-exists primitive as the layout commit
    * log (kernel `link(2)` on `file:`, `FileContext.rename(…,
    * Rename.NONE)` elsewhere); a loss means a concurrent writer won
    * this version — surface it; the caller retries against the
    * re-read state.
    */
  private def commit(spark: SparkSession, version: Long, segments: Seq[Segment]): Unit = {
    val body = segments.sortBy(_.seq).map(s => s"${s.seq} ${s.dir}").mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)
    if (!LayoutLog.casCreate(spark, manifestPath(version), body))
      throw new java.util.ConcurrentModificationException(
        s"manifest v$version already committed by a concurrent writer at $root")
  }

  /** Land `rows` as a fresh invisible segment dir, then commit the new
    * manifest referencing it with the next sequence number. `parts > 0`
    * bounds the segment's file count (a narrow coalesce, no shuffle):
    * a micro-batch CDC writer otherwise mints one file per upstream
    * partition (32 near-empty files per segment at local[32]), and
    * every merge-on-read pays the accumulated file fan-in until
    * compaction (guide §6 output sizing — the Fts delta `parts`
    * precedent). Batch-sized appends keep the default (0 = as-is).
    */
  private def appendSegment(rows: DataFrame, tombstone: Boolean, parts: Int): Unit = {
    val spark = spark0(rows)
    val dir = s"seg-${java.util.UUID.randomUUID()}"
    (if (parts > 0) rows.coalesce(parts) else rows)
      .withColumn("_tombstone", lit(tombstone))
      .write.mode("errorifexists").parquet(s"$root/$dir")
    val (version, segs) = currentManifest(spark).getOrElse((0L, Seq.empty[Segment]))
    val seq = segs.lastOption.map(_.seq + 1).getOrElse(0L)
    commit(spark, version + 1, segs :+ Segment(seq, dir))
  }

  /** Append an upsert batch (latest segment wins per key on read). */
  def upsert(rows: DataFrame, parts: Int = 0): Unit =
    appendSegment(rows, tombstone = false, parts)

  /** Append tombstones for a set of keys. Deleting from an empty store
    * commits a tombstone-only first segment (a later upsert of the same
    * key still wins by sequence order).
    */
  def delete(keys: DataFrame, parts: Int = 0): Unit = {
    val spark = spark0(keys)
    val withPayload =
      if (currentManifest(spark).forall(_._2.isEmpty)) keys.select(col(keyCol))
      else {
        val template = read(spark).limit(0)
        keys.select(col(keyCol)).join(template, Seq(keyCol), "left_outer") // null-fill payload columns
      }
    appendSegment(withPayload, tombstone = true, parts)
  }

  private def readSegments(spark: SparkSession, segs: Seq[Segment]): DataFrame = {
    val all = segs.map { s =>
      LayoutCache.readFooted(spark, s"$root/${s.dir}").withColumn("_delta", lit(s.seq))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("_delta").desc)
    all
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_tombstone"))
      .drop("_rn", "_delta", "_tombstone")
  }

  /** Merge-on-read view over the current manifest's segments: latest
    * version per key, tombstones dropped. Internal bookkeeping columns
    * never leak to callers.
    */
  def read(spark: SparkSession): DataFrame = {
    val segs = currentManifest(spark).map(_._2).getOrElse(Seq.empty)
    require(segs.nonEmpty, s"empty store at $root")
    readSegments(spark, segs)
  }

  /** TIME TRAVEL: the store exactly as manifest `version` committed it
    * (Delta's `versionAsOf`). Every manifest is immutable and segments
    * are never rewritten in place, so any retained version replays
    * perfectly; versions dropped by [[vacuum]] raise with the retained
    * range. [[versions]] lists what is still readable.
    */
  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val f = fs(spark)
    val avail = listVersions(f)
    require(avail.contains(version),
      s"version $version not retained at $root (have: ${avail.mkString(", ")}) — " +
        "vacuumed manifests cannot be replayed; raise keepManifests to retain more history")
    val segs = readManifest(f, version)
    require(segs.nonEmpty, s"manifest v$version at $root is empty")
    readSegments(spark, segs)
  }

  /** CDC read: row-level changes between two retained manifest versions
    * (the batch face of Delta's `table_changes` / Change Data Feed).
    * Computed as a full-outer join of the two merge-on-read views on
    * the key: `insert` (absent before), `delete` (absent after),
    * `update` (present in both, any payload column differs —
    * null-safe struct comparison). Unchanged rows are dropped, so the
    * output is the delta a downstream consumer (index maintainer,
    * replica, aggregate) applies instead of re-reading the table.
    *
    * Schema evolution between the versions is tolerated the same way
    * [[readSegments]] tolerates it: columns missing on one side are
    * null-filled at that side's type before comparison. One equi-join
    * shuffle on the key — both sides are the same store, so at cluster
    * scale the exchange co-partitions.
    */
  def changes(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changes wants fromVersion < toVersion, got $fromVersion >= $toVersion")
    val before = readVersion(spark, fromVersion)
    val after = readVersion(spark, toVersion)
    val payload = (before.columns ++ after.columns).distinct.filterNot(_ == keyCol).sorted
    val typeOf = (after.schema ++ before.schema).map(f => f.name -> f.dataType).toMap
    def packed(df: DataFrame, tag: String) = {
      val filled = payload.foldLeft(df) { (d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(typeOf(c)))
      }
      filled.select(col(keyCol),
        struct(payload.map(c => col(c).cast(typeOf(c)).as(c)): _*).as(tag))
    }
    packed(before, "before").join(packed(after, "after"), Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("before").isNull, lit("insert"))
          .when(col("after").isNull, lit("delete"))
          .when(!(col("before") <=> col("after")), lit("update")))
      .filter(col("change").isNotNull)
      .select(col(keyCol), col("change"), col("before"), col("after"))
  }

  /** Manifest versions still on disk (readable via [[readVersion]]). */
  def versions(spark: SparkSession): Seq[Long] = listVersions(fs(spark))

  /** Fold the oldest `runLength` segments into ONE segment holding the
    * run's highest sequence number, and commit a manifest with the fold
    * plus the untouched newer segments. Prefix folds drop tombstones
    * (nothing older exists to shadow). Superseded dirs stay on disk for
    * in-flight readers until [[vacuum]].
    */
  def compactOldest(spark: SparkSession, runLength: Int): Unit = {
    val (version, segs) = currentManifest(spark).getOrElse((0L, Seq.empty[Segment]))
    require(segs.nonEmpty, s"empty store at $root")
    val run = segs.take(math.max(1, runLength))
    val folded = readSegments(spark, run).withColumn("_tombstone", lit(false))
    val dir = s"seg-${java.util.UUID.randomUUID()}"
    folded.write.mode("errorifexists").parquet(s"$root/$dir")
    commit(spark, version + 1, Segment(run.last.seq, dir) +: segs.drop(run.length))
  }

  /** Full fold: every segment into one (bounded read amplification). */
  def compact(spark: SparkSession): Unit =
    compactOldest(spark, currentManifest(spark).map(_._2.length).getOrElse(0))

  /** Drop manifests beyond the newest `keepManifests` and every segment
    * dir no retained manifest references. Separated from commit so
    * readers that resolved an older manifest keep a consistent view;
    * run it on the maintenance cadence once in-flight readers have
    * drained (Delta's VACUUM retention, expressed in versions rather
    * than hours).
    */
  def vacuum(spark: SparkSession, keepManifests: Int = 2): Unit = {
    val f = fs(spark)
    if (!f.exists(logPath)) return
    val versions = listVersions(f)
    val keep = versions.takeRight(math.max(1, keepManifests)).toSet
    val referenced = keep.flatMap(v => readManifest(f, v).map(_.dir))
    versions.filterNot(keep).foreach(v => f.delete(manifestPath(v), false))
    f.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("seg-"))
      .filterNot(s => referenced.contains(s.getPath.getName))
      .foreach(s => f.delete(s.getPath, true))
    // leftover temp manifests from crashed commits are unreferenced debris too
    f.listStatus(logPath).toSeq
      .filter(_.getPath.getName.startsWith("_tmp-"))
      .foreach(s => f.delete(s.getPath, false)): Unit
  }

  def fileCount(spark: SparkSession): Int = {
    val f = fs(spark)
    currentManifest(spark).map(_._2).getOrElse(Seq.empty).map { s =>
      f.listStatus(new Path(s"$root/${s.dir}")).count(_.getPath.getName.endsWith(".parquet"))
    }.sum
  }

  /** Segments in the CURRENT manifest = merge inputs per read. */
  def deltaCount(spark: SparkSession): Int =
    currentManifest(spark).map(_._2.length).getOrElse(0)

  final case class MaintenanceReport(deltasBefore: Int, deltasAfter: Int, compacted: Boolean)

  /** Threshold-triggered LEVELED compaction policy: once the segment
    * count — i.e. read amplification — exceeds `maxDeltas`, fold just
    * enough of the OLDEST run to bring the chain back to `maxDeltas`
    * segments, then vacuum superseded state. Ingest pays nothing per
    * batch; the fold is partial, so recent small segments are not
    * rewritten over and over (the write-amplification trap of repeated
    * full folds); the occasional prefix fold keeps every read bounded
    * at ≤ maxDeltas merge inputs.
    */
  def maintain(spark: SparkSession, maxDeltas: Int = 8): MaintenanceReport = {
    val before = deltaCount(spark)
    if (before > maxDeltas) {
      compactOldest(spark, before - maxDeltas + 1)
      vacuum(spark)
      MaintenanceReport(before, deltaCount(spark), compacted = true)
    } else MaintenanceReport(before, before, compacted = false)
  }
}
