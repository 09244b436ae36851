package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Session memo for PERSISTED index layouts — the storage-side face of
  * [[Ann.buildCached]] / [[Fts.buildCached]]: an index layout is an
  * offline artifact, written once and probed many times (reference:
  * store.py:274 builds its IVF_PQ index once per table, not per
  * `search` call). Keyed by a caller-chosen string naming
  * (corpus, layout kind, params); the value is the layout's root path.
  *
  * The write runs inside `computeIfAbsent`, so concurrent probes of the
  * same key wait for one writer instead of racing two layouts. Temp
  * dirs are reaped on JVM exit.
  */
object LayoutCache {
  private val cache = Caches.lru[String, String](128)

  /** Return the memoized layout path for `key`, writing it first (into
    * a fresh temp dir) on first use.
    */
  def getOrWrite(key: String)(write: String => Unit): String =
    cache.computeIfAbsent(
      key,
      _ => {
        val p = graft.streaming.StreamPipeline
          .deleteRecursivelyOnExit(java.nio.file.Files.createTempDirectory("graft_layout_"))
          .resolve("idx").toString
        write(p)
        p
      }
    )

  // --------------------------------------------------------------------
  // Listing cache — the serving-latency fix the round-11 bench metrics
  // demanded: every persisted-probe wall clock was 70-85% DRIVER time,
  // and a large share of it was `spark.read.parquet(path)` re-resolving
  // the SAME layout on every probe (schema from footers + a recursive
  // FileStatus listing of O(nlist) partition directories — on S3 that
  // is O(nlist) LIST round trips PER PROBE, a cost that never amortizes
  // with data size). A DataFrame keeps its resolved InMemoryFileIndex,
  // so memoizing the DataFrame per (session, path) makes every warm
  // probe reuse one listing. Staleness is handled where writes happen:
  // the IndexMaintenance verbs (clustered write/append, tombstone
  // append, compact) call [[invalidate]] on the paths they touch —
  // same contract as Spark's own catalog cache + REFRESH TABLE, with
  // the refresh automated for every in-JVM lifecycle mutation. External
  // writers (another driver appending to the same S3 layout) need an
  // explicit [[invalidate]], exactly like REFRESH TABLE.
  // --------------------------------------------------------------------

  private val readCache = Caches.lru[(String, String), DataFrame](256)

  /** Memoized `spark.read.parquet(path)` — one footer+listing
    * resolution per (session, layout), reused by every probe until a
    * lifecycle verb invalidates it. Keyed by the weak session UUID
    * ([[Caches.sessionId]]) because an identity hash can collide across
    * live sessions — one session would be served another's resolved
    * DataFrame. Note the key's weakness does NOT bound retention: the
    * cached DataFrame VALUE strongly references its SparkSession, so a
    * stopped session's entries stay reachable until the LRU capacity
    * evicts them — the capacity bound (256), not the key, is the
    * retention limit (round-12 advice).
    */
  def readCached(spark: SparkSession, path: String): DataFrame =
    readCache.computeIfAbsent((Caches.sessionId(spark), path), _ => readFooted(spark, path))

  /** `spark.read.parquet(path)` with the schema taken from
    * [[footerSchema]] — no inference job — for a dir whose files never
    * change once written (a layout, a ChunkStore segment).
    */
  private[operators] def readFooted(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The data schema of the layout dir at `path`, read on the driver
    * from the footer of its first visible data file: the schema Spark's
    * own non-merging inference returns, without the one-task job that
    * inference launches. That job was half of a cold layout read, and
    * a cold read has to fit between two in-place swaps for
    * [[probeRetry]] to land. Hidden names follow Spark's listing filter.
    * None — the caller then infers as before, errors included — for a
    * missing path, a plain file, a dir with no data file, or a session
    * that merges parquet schemas.
    */
  private[operators] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(p: Path): Boolean = {
      val n = p.getName
      !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".") && !n.endsWith("._COPYING_")
    }
    def firstFile(dir: Path): Option[Path] = {
      val (dirs, files) = fs.listStatus(dir).toSeq.filter(s => visible(s.getPath))
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.map(_.getPath)
        .orElse(dirs.iterator.map(d => firstFile(d.getPath)).collectFirst { case Some(f) => f })
    }
    val isDir =
      try fs.getFileStatus(root).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    if (!isDir || spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else firstFile(root).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val meta = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f, meta), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** True iff `e` is one of the TRANSIENT visibility shapes a reader
    * can observe while an in-place [[IndexMaintenance.fencedSwap]]'s
    * retire→install window (or a listing-cache invalidation race) is in
    * flight. The swap is two directory renames; a read that resolves or
    * executes inside that window sees the path absent, a listed
    * partition dir vanish mid-scan, an empty root (resolved before
    * retire, listed after), or execution-time file loss against a
    * pre-swap listing — all LOUD and all RETRIABLE, never a torn or
    * mixed-generation row set (SwapIsolationSpec pins the dichotomy).
    * Anything outside this class is a real failure and must propagate.
    */
  def isSwapTransient(e: Throwable): Boolean = {
    var cur: Throwable = e
    while (cur != null) {
      // scan toString, not just getMessage: Spark task failures embed
      // the executor-side exception's description in the driver-side
      // message even when the Java cause chain is cut at serialization
      val msg = String.valueOf(cur)
      val hit = cur.isInstanceOf[java.io.FileNotFoundException] ||
        cur.isInstanceOf[java.nio.file.NoSuchFileException] ||
        msg.contains("does not exist") || msg.contains("PATH_NOT_FOUND") ||
        msg.contains("No such file") || msg.contains("FILE_NOT_EXIST") ||
        msg.contains("FileNotFoundException") ||
        msg.contains("UNABLE_TO_INFER_SCHEMA") ||
        msg.contains("Invalid directory")
      if (hit) return true
      cur = if (cur.getCause eq cur) null else cur.getCause
    }
    false
  }

  /** SERVING-SIDE reader isolation over in-place swaps: run `body` (a
    * whole probe — build the DataFrame AND collect it; reads are
    * idempotent) and, on a [[isSwapTransient]] failure, invalidate this
    * layout's cached listing and retry with a short backoff. The
    * retire→install window is two renames (microseconds), so one retry
    * nearly always lands; the bound keeps a genuinely deleted layout
    * loud. This is the wait-free-reader answer for rename-capable
    * filesystems — on object stores without atomic dir rename, the
    * pointer-indirection design ([[ChunkStore]]'s manifest) is the
    * right primitive, and layouts needing zero-retry readers there
    * should version through a manifest instead.
    *
    * The attempt budget is sized for a SUSTAINED fold storm, not one
    * fold: a probe whose resolve→execute span covers a swap boundary
    * fails that attempt, so under back-to-back swaps each attempt is a
    * coin flip and the surfaced-failure odds only vanish
    * exponentially in the budget (24 attempts ≈ 10⁻⁷ even at 50%
    * per-attempt collision — SwapIsolationSpec hammers exactly this).
    * A genuinely deleted layout stays loud within
    * attempts × backoff ≈ 0.4 s.
    */
  def probeRetry[T](path: String,
      attempts: Int = 24, backoffMs: Long = 15)(body: => T): T = {
    var left = attempts
    while (left > 1) {
      try return body
      catch {
        case e: Throwable if isSwapTransient(e) =>
          invalidate(path)
          left -= 1
          Thread.sleep(backoffMs)
      }
    }
    body
  }

  /** Drop cached listings for `path` and anything under it (a layout
    * dir invalidates its partition dirs and sidecars too) — called by
    * every IndexMaintenance write verb; call directly after mutating a
    * layout from outside the lifecycle.
    */
  def invalidate(path: String): Unit = {
    val prefix = path.stripSuffix("/") + "/"
    val it = readCache.keySet().iterator()
    while (it.hasNext) {
      val p = it.next()._2
      if (p == path || p.startsWith(prefix)) it.remove()
    }
  }
}
