package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY on a small thread pool: Spark's scheduler
  * accepts jobs from many threads, and at sf0.01 most queries are
  * seconds-long with fixed latencies (stream triggers, index builds)
  * that overlap almost perfectly. 121 sequential queries outgrew the
  * driver's verify budget around round 5 (CORRECTNESS_r05/r06 published
  * empty); the pool keeps total wall time bounded as the registry grows.
  * Known-slow families (streaming, index builds) are scheduled first so
  * the long poles overlap the wide tail.
  */
object Verify {
  // Prefixes of the slow families, scheduled first (descending cost).
  private val slowFirst = Seq(
    "stream_", "dedup_minhash", "semdedup", "simhash", "ann_", "ivf",
    "bm25_incremental", "token_shards_bpe", "chunkstore", "maxsim",
    "pca_", "pq_", "zorder", "cluster_topics")
  private def rank(name: String): Int = {
    val i = slowFirst.indexWhere(name.startsWith)
    if (i >= 0) i else slowFirst.size
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle_sql.json body: every twin, or with a query-name filter
    * only the selected keys' twins (a selected key whose query failed
    * keeps its twin, so the gate reports its output missing).
    */
  private[graft] def oracleJson(only: Option[Set[String]]): String = {
    val all = SparkEntry.oracleSql
    only.fold(all)(keys => all.filter { case (k, _) => keys.contains(k) })
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always passes exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // default to the box's full width (the old default of 4 silently
    // throttled driver runs that don't set SPARK_GRAFT_CPUS)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt max 1
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
      .sortBy(n => (rank(n), n))
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = names.map { name =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val q0 = System.nanoTime()
          try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          val d = done.incrementAndGet()
          System.err.println(f"[verify] $d%3d/${names.size} $name ${(System.nanoTime() - q0) / 1e9}%.1fs (total ${(System.nanoTime() - t0) / 1e9}%.0fs)")
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))

    // Determinism self-hash for the rows-only class (queries with no
    // SQL-expressible twin — softmax/layernorm/recursive-merge): the
    // DuckDB gate can only count their rows, so Verify itself pins
    // run-to-run stability — hash #1 over the parquet the driver will
    // check, hash #2 over a rerun in a second session with a different
    // shuffle width and scan-split size. A match proves the COMPUTE
    // path is a pure function of the input, not of partitioning.
    // Scope caveat: the rerun shares this JVM's process-global
    // LayoutCache.getOrWrite memos, so persisted layouts/fitted
    // artifacts from the first run are REUSED, not rebuilt — write-path
    // determinism is pinned separately (TwoLevelSpec's sorted-sample
    // fit, ChunkStore/Layout specs), not by this hash.
    val rowsOnly = (names.toSet -- SparkEntry.oracleSql.keySet).toSeq.sorted
    if (rowsOnly.nonEmpty) {
      val sess2 = spark.newSession()
      sess2.conf.set("spark.sql.shuffle.partitions", "7")
      sess2.conf.set("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      def fmt(x: Any): String = x match {
        case null => "\u0000"
        case s: Seq[_] => s.map(fmt).mkString("[", ",", "]")
        case r: org.apache.spark.sql.Row => r.toSeq.map(fmt).mkString("(", ",", ")")
        case m: Map[_, _] =>
          m.toSeq.map { case (k, v) => fmt(k) + "=" + fmt(v) }.sorted.mkString("{", ",", "}")
        case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
        case v => v.toString
      }
      def stableHash(df: org.apache.spark.sql.DataFrame): String = {
        val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col _)
        val body = df.select(cols.toSeq: _*).collect()
          .map(_.toSeq.map(fmt).mkString("\u0001")).sorted.mkString("\n")
        java.security.MessageDigest.getInstance("MD5")
          .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      val entries = rowsOnly.map { name =>
        try {
          val h1 = stableHash(spark.read.parquet(s"$outDir/$name"))
          val h2 = stableHash(SparkEntry.queries(name)(sess2, sfDir))
          System.err.println(s"[verify] stability $name ${if (h1 == h2) "MATCH" else s"MISMATCH $h1 != $h2"}")
          s"${q(name)}: {${q("artifact_hash")}: ${q(h1)}, ${q("rerun_hash")}: ${q(h2)}, ${q("stable")}: ${h1 == h2}}"
        } catch {
          case e: Throwable =>
            System.err.println(s"[verify] stability $name failed: ${e.getMessage}")
            s"${q(name)}: {${q("error")}: ${q(String.valueOf(e.getMessage))}}"
        }
      }
      Files.writeString(Paths.get(s"$outDir/stability.json"),
        entries.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
