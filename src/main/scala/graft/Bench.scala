package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** Fixed, data-independent calibration workloads that measure the BOX,
    * not the code: the round-9/10 driver runs landed 1.4-2.5x raw on
    * commits the builder box measured at 0.9-1.1x the same day, flagging
    * dozens of healthy queries. Each workload isolates one cost axis the
    * suite actually spends time on:
    *
    *  - `sched`: 12 trivial 32-partition jobs — per-job scheduling
    *    overhead, the axis that dominates the tiny (<0.5 s) queries and
    *    the stream family's trigger latency.
    *  - `cpu1`: one long single-partition codegen loop — single-thread
    *    CPU speed, the axis behind janino/JIT compile time (the cold
    *    column's dominant cost).
    *  - `cpu32`: the same loop split over 32 partitions — parallel
    *    throughput under full fan-out, the axis contention hits first.
    *  - `shuffle`: a small groupBy — exchange machinery (serialize,
    *    spill files, fetch).
    *  - `model`: an allocation-heavy mapPartitions float loop (exp +
    *    fresh arrays per row) — the ONNX-seam forward-pass profile,
    *    which is GC/alloc-bound in a way the pure-arithmetic cpu32
    *    probe is not (round-10's embed_encoder_mh read 15x warm on the
    *    driver box while cpu32 sat at 0.92x — this probe is the axis
    *    that can tell allocation-throughput degradation from code).
    *
    * Round-10 lesson: a SINGLE median-of-probes factor mis-corrects the
    * exact regime a contended box is in — the round-10 driver run's
    * shuffle probe read 2.97x warm while the median said 1.18x, so
    * every shuffle/IO-heavy query got flagged while CPU queries read
    * fine. Round 11 therefore calibrates PER AXIS: each query is
    * classified by its dominant cost axis (checked-in map derived from
    * builder-box stage metrics, runtime fallback for new queries) and
    * divides by ITS axis's probe ratio. Factors are clamped to
    * [0.5, 8]; raw (uncalibrated) ratios and regressions are ALWAYS
    * reported alongside so calibration can never hide a genuine
    * regression.
    */
  private val calibWorkloads: Seq[(String, SparkSession => Unit)] = Seq(
    "sched" -> { s => (1 to 12).foreach(_ => s.range(0, 32, 1, 32).count()) },
    "cpu1" -> { s =>
      s.range(0, 400000000L, 1, 1)
        .select(sum(col("id") % 7 + col("id") / 3)).head()
    },
    "cpu32" -> { s =>
      s.range(0, 6400000000L, 1, 32)
        .select(sum(col("id") % 7 + col("id") / 3)).head()
    },
    "shuffle" -> { s =>
      s.range(0, 20000000L, 1, 32)
        .select((col("id") % 1000000L).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .select(sum(col("c"))).head()
    },
    "model" -> { s =>
      import s.implicits._
      // per-row "forward pass": fresh arrays + exp, the hot profile of
      // the OnnxMini encoder path (allocation churn is the point — do
      // NOT hoist the arrays out of the row loop)
      s.range(0, 3200, 1, 32).mapPartitions { it =>
        it.map { i =>
          var t = 0
          var out = 0.0
          while (t < 800) {
            val e = new Array[Double](128)
            var j = 0
            while (j < 128) { e(j) = math.exp(-(((i + t + j) % 17).toDouble) / 7.0); j += 1 }
            var sum = 0.0; j = 0
            while (j < 128) { sum += e(j); j += 1 }
            val h = new Array[Double](128)
            j = 0
            while (j < 128) { h(j) = e(j) / sum; j += 1 }
            out += h((t + i.toInt) % 128)
            t += 1
          }
          out
        }
      }.reduce(_ + _)
      ()
    })

  private val axisNames: Seq[String] = calibWorkloads.map(_._1)

  /** Queries whose cost is the per-partition model forward (the
    * OnnxMini/mapPartitions seam) — classified `model` by construction
    * rather than by metric thresholds.
    */
  private val ModelFamily: Set[String] = Set(
    "embed_onnx", "embed_encoder", "embed_encoder_mh", "rerank_cross",
    "multimodal_embed")

  /** Bench-only workload overrides. The CORRECTNESS row always runs the
    * full registered query (Verify uses SparkEntry.queries unchanged);
    * the bench line for embed_encoder_mh runs the same pipeline over a
    * deterministic bounded doc slice — the full-corpus multi-head
    * forward was 4% of the round-10 warm total on its own, a model
    * benchmark drowning the engine benchmark. The checked-in baseline
    * rows were captured with the same override, so ratios stay
    * apples-to-apples; the override list is published in the artifact.
    */
  private val benchOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_encoder_mh" -> ((s, dir) => Queries.embedEncoderMhBounded(s, dir)))

  private def benchQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      n -> benchOverrides.getOrElse(n, fn)
    }

  /** Per-query task-level metrics accumulated between [[MetricsListener.settleAndTake]]
    * calls — the stage-metric observability the round-10 verdict asked
    * for (shuffle bytes, spill, GC, cpu, task/job counts per query, in
    * the artifact, so a driver-box flag can be adjudicated as code vs
    * box from the numbers alone).
    */
  final class QueryMetrics {
    var tasks = 0L; var jobs = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spilled = 0L; var peakMem = 0L
    /** JVM-wide JIT compilation time spent DURING this query (CompilationMXBean
      * delta, measured in the bench loop) — the cold-flag discriminator the
      * round-11 adjudication lacked: a cold flag whose wall is mostly jit_ms
      * is compiler churn; real task cpu with jit_ms ≈ 0 on a cold pass is
      * the interpreted-first-execution class (see PLANS.md round 12).
      */
    var jitMs = 0L
    /** Wall seconds as timed by the bench loop (for signature math). */
    var wallMs = 0L
    def json: String =
      f"""{"tasks":$tasks,"jobs":$jobs,"cpu_ms":${cpuNs / 1000000L},"run_ms":$runMs,"gc_ms":$gcMs,""" +
        f""""shr_kb":${shuffleRead / 1024},"shw_kb":${shuffleWrite / 1024},"spill_kb":${spilled / 1024},"peak_mb":${peakMem / 1048576L},""" +
        f""""jit_ms":$jitMs,"wall_ms":$wallMs}"""
    def row: String =
      s"$tasks $jobs ${cpuNs / 1000000L} $runMs $gcMs ${shuffleRead / 1024} ${shuffleWrite / 1024} ${spilled / 1024} $jitMs $wallMs"
  }

  /** Mechanical cold-flag classification from the artifact's own numbers
    * (the round-11 verdict's ask: the driver artifact should adjudicate
    * its flags itself instead of in prose):
    *  - `gc`    — GC dominated the tasks (allocation/heap pressure);
    *  - `jit`   — the JIT compiler churned most of the wall (one-time
    *              compilation of the generated stage, amortized warm);
    *  - `stall` — wall mostly OUTSIDE tasks (driver/FS/scheduler — the
    *              box-contention lead, not a code verdict);
    *  - `firstexec` — real task CPU that vanished on the warm pass AT
    *              IDENTICAL work (same tasks/jobs, same shuffle bytes):
    *              the plan did the same thing both times, so the CPU
    *              inflation is execution efficiency, i.e. the HotSpot
    *              interpreter running fresh generated stages before
    *              tiered compilation catches up (PLANS.md round 12 —
    *              interpreted execution IS CPU, which is why the old
    *              classifier mislabeled this class `work`). One-time;
    *              amortizes at scale like `jit`.
    *  - `work`  — real task CPU that vanished on the warm pass at
    *              DIFFERENT work (task/job/byte counts changed): a
    *              genuinely different cold plan — one-time index
    *              builds, an AQE re-plan, a cold-only scan. The one
    *              class that is code-side until proven otherwise.
    *  - `box`   — none of the above dominates; inflated run at
    *              unchanged work (the documented lead-not-verdict class).
    */
  private[graft] def signature(cold: QueryMetrics, warm: QueryMetrics): String = {
    val cpuC = cold.cpuNs / 1e6; val cpuW = warm.cpuNs / 1e6
    // "same work": counts equal and shuffle volumes within 10% (byte
    // totals jitter with compression/ordering even on identical plans)
    def near(a: Long, b: Long): Boolean =
      math.abs(a - b) <= math.max(4L, (0.1 * math.max(a, b)).toLong)
    val sameWork = cold.tasks == warm.tasks && cold.jobs == warm.jobs &&
      near(cold.shuffleRead, warm.shuffleRead) &&
      near(cold.shuffleWrite, warm.shuffleWrite)
    if (cold.gcMs > 0.3 * math.max(cold.runMs, 1L)) "gc"
    else if (cold.jitMs > 0.5 * math.max(cold.wallMs, 1L)) "jit"
    else if (cold.runMs < 0.4 * math.max(cold.wallMs, 1L)) "stall"
    else if (cpuC > 4 * math.max(cpuW, 1.0) && cpuC > 0.7 * math.max(cold.runMs, 1L))
      (if (sameWork) "firstexec" else "work")
    else "box"
  }

  private[graft] def jitNowMs: Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  private[graft] final class MetricsListener extends SparkListener {
    private val lock = new Object
    private var cur = new QueryMetrics
    private var jobsStarted = 0L
    private var jobsEnded = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobsStarted += 1; cur.jobs += 1 }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized { jobsEnded += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        cur.tasks += 1
        cur.cpuNs += m.executorCpuTime
        cur.runMs += m.executorRunTime
        cur.gcMs += m.jvmGCTime
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.spilled += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.peakMem = math.max(cur.peakMem, m.peakExecutionMemory)
      }
    }
    /** Wait for the async listener bus to drain this query's jobs
      * (FIFO: a job's TaskEnd events precede its JobEnd), then swap the
      * accumulator. Runs AFTER the query's timer stops — settle latency
      * never lands in a measurement.
      */
    def settleAndTake(): QueryMetrics = {
      val t0 = System.currentTimeMillis()
      while (lock.synchronized(jobsStarted != jobsEnded) &&
        System.currentTimeMillis() - t0 < 2000) Thread.sleep(5)
      Thread.sleep(15)
      lock.synchronized { val r = cur; cur = new QueryMetrics; r }
    }
  }

  private def calibPass(spark: SparkSession): Map[String, Double] =
    calibWorkloads.map { case (name, work) =>
      val t0 = System.nanoTime()
      work(spark)
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap

  private def clamp(x: Double): Double = math.min(8.0, math.max(0.5, x))

  private def medianRatio(
      obs: Map[String, Double],
      base: Map[String, Double]): Double = {
    val rs = axisNames.flatMap { n =>
      for (o <- obs.get(n); b <- base.get(n) if b > 0) yield o / b
    }.sorted
    if (rs.isEmpty) 1.0
    else {
      val m =
        if (rs.size % 2 == 1) rs(rs.size / 2)
        else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2.0
      clamp(m)
    }
  }

  /** Per-axis box factors: each axis's OWN probe ratio (clamped), so a
    * box degraded on one axis (round-10: shuffle at 2.97x, cpu at 0.9x)
    * corrects exactly the queries that live on that axis. Falls back to
    * the median when an axis has no baseline row.
    *
    * The `sched` axis gets an asymmetric LOWER clamp of 0.8 (round-13
    * closing-run lesson): the probe measures pure per-job scheduling
    * overhead, which on an idle box can read 0.5-0.67x of a
    * loaded-capture baseline, while the sub-second queries classified
    * `sched` are scheduling PLUS fixed latencies (stream triggers,
    * driver round trips, file opens) that do not speed up with it —
    * dividing their bars by 0.5 manufactured 15 flags at ~2.0-2.2x
    * calibrated on a run whose RAW columns were clean (BASELINE.md
    * round-13 closing note). Factors above 1 (the slow-box direction,
    * the gate's real purpose) are untouched; the raw lists are always
    * published beside the calibrated ones either way.
    */
  private def axisFactors(
      obs: Map[String, Double],
      base: Map[String, Double]): Map[String, Double] = {
    val med = medianRatio(obs, base)
    axisNames.map { n =>
      val f = (for (o <- obs.get(n); b <- base.get(n) if b > 0)
        yield clamp(o / b)).getOrElse(med)
      n -> (if (n == "sched") math.max(0.8, f) else f)
    }.toMap
  }

  /** Runtime axis classification from a query's own measured metrics —
    * the FALLBACK for queries not yet in the checked-in map (the map,
    * derived on the builder box where metrics are uncontended, wins;
    * see `/graft/bench_axes.txt`).
    */
  private[graft] def classify(name: String, wallSec: Double, m: QueryMetrics): String =
    if (ModelFamily(name)) "model"
    else if (m.spilled > 0 || m.shuffleRead + m.shuffleWrite > 16L * 1024 * 1024) "shuffle"
    else if (wallSec < 0.4 || m.jobs >= 8) "sched"
    else if (m.cpuNs / 1e9 / math.max(wallSec, 1e-9) >= 6.0) "cpu32"
    else "cpu1"

  private def loadCheckedInAxes(): Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/bench_axes.txt")
    if (in == null) Map.empty
    else scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split("\\s+") match {
          case Array(n, a) if axisNames.contains(a) => Some(n -> a)
          case _                                    => None
        }
      }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    // Untimed warmup: touch every table once so parquet footer reads,
    // filesystem listing and codegen warmup don't land on whichever
    // query happens to run first.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        if (t == "events") graft.Tables.events(spark, sfDir).count()
        else spark.read.parquet(s"$sfDir/$t.parquet").count()
      } catch { case _: Throwable => () }
    }
    // Untimed DRY RUN of the whole suite at the smallest sibling SF
    // (sf0.001 — 500 docs/vectors): every query's OWN generated stages
    // get janino-compiled AND executed past the HotSpot interpreter
    // before the clock starts. This retires the whole first-execution
    // class from the published cold column (round-12 residue:
    // curation_report 9.1× / decontaminate_spans 11.4× raw cold at
    // identical tasks/bytes — interpreter exposure of THEIR stages,
    // which the previous bounded library warmup — contamination +
    // knnTopK slices — did not reach). Generated classes are cached by
    // source text with literals passed as references, so the sf0.001
    // compile is reused verbatim at sf0.1. What the timed cold pass
    // still measures, by design: one-time index builds, layout writes,
    // fitted-model training and sf0.1-sized scans — operator cost, not
    // JVM state. The firstexec regression gate lives in
    // `ScaleCheck firstexec` (first-vs-second-pass per family), where
    // it measures the class directly instead of polluting the
    // cross-round cold comparison. The checked-in baseline was
    // recaptured with this same warmup method (round 13).
    // The env override gets the SAME validity gate as the sibling-sf
    // fallback: a typo'd path would otherwise fail every per-query
    // warmup "(ignored)" and silently publish an UNWARMED cold column
    // against a warmed-capture baseline. Loud failure beats a skewed
    // artifact here — the operator meant to warm and didn't.
    val warmupDir = sys.env.get("SPARK_GRAFT_WARMUP_DIR").map { d =>
      val p = java.nio.file.Paths.get(sfDir).toAbsolutePath
      require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)),
        s"SPARK_GRAFT_WARMUP_DIR=$d is not a directory")
      require(java.nio.file.Paths.get(d).toAbsolutePath.toString != p.toString,
        s"SPARK_GRAFT_WARMUP_DIR=$d equals the timed SF dir — warmup would pre-run the timed workload itself")
      d
    }.orElse {
      val p = java.nio.file.Paths.get(sfDir).toAbsolutePath
      Option(p.getParent).map(_.resolve("sf0.001").toString)
        .filter(d => d != p.toString && java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
    }
    warmupDir match {
      case Some(d) =>
        val w0 = System.nanoTime()
        benchQueries.foreach { case (name, fn) =>
          try fn(spark, d).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $name failed (ignored): ${e.getMessage}")
          }
        }
        System.err.println(f"[bench] untimed dry-run warmup at $d: ${(System.nanoTime() - w0) / 1e9}%.1f s")
      case None =>
        // no smaller sibling SF: fall back to the round-12 bounded
        // library warmup (shared text + vector kernels only)
        try {
          val docs = graft.Tables.documents(spark, sfDir).limit(64)
          graft.operators.TextAnalysis.contamination(
            docs, graft.Tables.documents(spark, sfDir).limit(8), "text", "doc_id").count()
          val e = graft.Tables.embeddings(spark, sfDir).limit(256)
          graft.operators.Search.knnTopK(
            e, e.limit(1).select(col("embedding").as("q_vec")),
            "embedding", "q_vec", "vec_id", 5).count()
        } catch { case _: Throwable => () }
    }
    // Two passes over the suite. Pass 1 is cold (includes one-time codegen
    // and index builds — the IVF KMeans fit is memoized per session, so
    // pass 2's ann_probe measures the probe, the amortized production cost
    // of a persisted index). `queries` reports the per-query MIN — robust
    // to transient box noise — and `cold_queries` reports pass 1 verbatim
    // so cold-path regressions can never hide behind the min. The
    // checked-in baseline (BASELINE.md / baseline_sf01.txt) was captured
    // by THIS two-pass method: vs_baseline compares min to min and
    // vs_baseline_cold compares cold to cold, both apples-to-apples.
    def onePass(): (Seq[(String, Either[String, Double])], Map[String, QueryMetrics]) = {
      val metrics = scala.collection.mutable.Map.empty[String, QueryMetrics]
      val times = benchQueries.map { case (name, fn) =>
        val jit0 = jitNowMs
        val t0 = System.nanoTime()
        // wall/JIT deltas are captured the moment the action returns —
        // BEFORE settleAndTake() — so listener-settle wait never lands
        // in wall_ms (it inflated sub-second wall vs run and could push
        // signature() toward a spurious 'stall'; round-12 advice).
        var wallMs = 0L; var jitMs = 0L
        val r =
          try {
            fn(spark, sfDir).count()
            wallMs = (System.nanoTime() - t0) / 1000000L
            jitMs = jitNowMs - jit0
            Right(wallMs / 1e3)
          } catch {
            case e: Throwable =>
              wallMs = (System.nanoTime() - t0) / 1000000L
              jitMs = jitNowMs - jit0
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              Left(e.getClass.getSimpleName)
          }
        val m = listener.settleAndTake() // after the timer stops
        m.jitMs = jitMs
        m.wallMs = wallMs
        metrics(name) = m
        name -> r
      }
      (times, metrics.toMap)
    }
    listener.settleAndTake() // drop warmup events
    val calibA = calibPass(spark) // rides pass 1's box conditions
    listener.settleAndTake() // drop calibration events — else the first
    // query of the pass absorbs the probes' task metrics
    val (cold, metricsCold) = onePass()
    val calibB = calibPass(spark) // warm: same min-of-passes policy
    listener.settleAndTake()
    val (warmSeq, metricsWarm) = onePass()
    val warm = warmSeq.toMap
    val calibMin = axisNames.map { n => n -> math.min(calibA(n), calibB(n)) }.toMap
    // A query is a success only if BOTH passes succeeded (a single-pass
    // failure is flaky, not fast); failed_cold/failed_warm expose which
    // pass broke.
    val results: Seq[(String, Either[String, Double])] = cold.map {
      case (name, Right(c)) =>
        name -> (warm.get(name) match {
          case Some(Right(w)) => Right(math.min(c, w))
          case Some(Left(e))  => Left(e)
          case None           => Left("missing_warm_pass")
        })
      case (name, left) => name -> left
    }
    val ok = results.collect { case (k, Right(_)) => k }.toSet
    val coldOk = cold.collect { case (k, Right(v)) if ok(k) => k -> v }
    val coldTotal = coldOk.map(_._2).sum
    // 3dp: ms resolution is below the box's run-to-run noise, and the
    // shorter line keeps more per-query entries inside the driver's
    // bounded stdout-tail capture.
    def jmap(xs: Seq[(String, Either[String, Double])]): String = xs.map {
      case (k, Right(v))  => "\"" + k + "\":" + f"$v%.3f"
      case (k, Left(err)) => "\"" + k + "\":\"error:" + err + "\""
    }.mkString("{", ",", "}")
    val qs = jmap(results)
    val coldQs = jmap(cold)
    val total = results.collect { case (_, Right(v)) => v }.sum
    val nFailed = results.count(_._2.isLeft)
    val nFailedCold = cold.count(_._2.isLeft)
    val nFailedWarm = warm.count(_._2.isLeft)
    // Per-query axis: the checked-in builder-box map first, the runtime
    // classifier (warm-pass metrics) for anything not in it.
    val checkedIn = loadCheckedInAxes()
    val axes: Map[String, String] = results.collect { case (name, Right(v)) =>
      name -> checkedIn.getOrElse(name,
        classify(name, v, metricsWarm.getOrElse(name, new QueryMetrics)))
    }.toMap
    // Regression diff against the checked-in sf0.1 baseline (BASELINE.md
    // twin; resource lines are "<query> <min_sec> <cold_sec>", captured by
    // this same two-pass method; `__calib_*` rows are the calibration
    // workloads' baselines, excluded from the query comparison). Ratios
    // make the "within 2x of baseline" gate computable per round, on both
    // the warm-min and cold paths, CALIBRATED per axis by the box factors
    // so the gate measures the code and not the machine; raw
    // (uncalibrated) ratios and regressions are reported alongside so
    // nothing is hidden.
    val baselineAll: Map[String, (Double, Double)] = {
      val in = getClass.getResourceAsStream("/graft/baseline_sf01.txt")
      if (in == null) Map.empty
      else scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          l.split("\\s+") match {
            case Array(n, m, c) => Some(n -> (m.toDouble, c.toDouble))
            case _              => None
          }
        }.toMap
    }
    val baseline = baselineAll.view.filterKeys(!_.startsWith("__calib_")).toMap
    // Checked-in BUILDER-BOX metrics rows (tasks jobs cpu run gc shr shw
    // spill jit wall, per query × {warm, cold}) — makes BASELINE.md's
    // adjudication rule ("compare the flagged query's metrics row against
    // the builder row") executable from the artifact alone (round-11
    // What's-wrong #3). Captured by SPARK_GRAFT_EMIT_BASELINE below.
    val baselineMetrics: Map[(String, String), String] = {
      val in = getClass.getResourceAsStream("/graft/baseline_metrics_sf01.txt")
      if (in == null) Map.empty
      else scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8).getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .flatMap { l =>
          l.split("\\s+", 3) match {
            case Array(n, phase, rest) => Some((n, phase) -> rest)
            case _                     => None
          }
        }.toMap
    }
    def metricsRowJson(row: String): String = {
      val names = Seq("tasks", "jobs", "cpu_ms", "run_ms", "gc_ms", "shr_kb",
        "shw_kb", "spill_kb", "jit_ms", "wall_ms")
      names.zip(row.split("\\s+")).map { case (n, v) => "\"" + n + "\":" + v }
        .mkString("{", ",", "}")
    }
    val calibBaseWarm = axisNames.flatMap { n =>
      baselineAll.get(s"__calib_$n").map(v => n -> v._1)
    }.toMap
    val calibBaseCold = axisNames.flatMap { n =>
      baselineAll.get(s"__calib_$n").map(v => n -> v._2)
    }.toMap
    val fWarmMed = medianRatio(calibMin, calibBaseWarm)
    val fColdMed = medianRatio(calibA, calibBaseCold)
    val fWarmAxis = axisFactors(calibMin, calibBaseWarm)
    val fColdAxis = axisFactors(calibA, calibBaseCold)
    def fOf(axisMap: Map[String, Double], med: Double)(q: String): Double =
      axes.get(q).flatMap(axisMap.get).getOrElse(med)
    val calibJson = axisNames.map { n =>
      f""""$n":{"cold":${calibA(n)}%.3f,"min":${calibMin(n)}%.3f""" +
        calibBaseWarm.get(n).map(b =>
          f""","base_min":$b%.3f,"base_cold":${calibBaseCold(n)}%.3f""").getOrElse("") + "}"
    }.mkString("{", ",", "}")
    def axisJson(m: Map[String, Double]): String =
      axisNames.map(n => f""""$n":${m(n)}%.3f""").mkString("{", ",", "}")
    // Record the JVM's heap/GC flags so a cold-column divergence can be
    // attributed (or not) to a different memory/GC configuration.
    val jvmFlags = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
          a.contains("UseG1GC") || a.contains("UseParallelGC") || a.contains("UseZGC"))
        .mkString(" ")
    }
    val extra =
      if (baseline.isEmpty || !sfDir.contains("sf0.1")) ""
      else {
        // flag queries >2x the per-axis CALIBRATED baseline AND >0.3s
        // (calibrated) absolute (codegen jitter floor); the RAW lists
        // (factor 1) are always emitted alongside — a clamped or
        // contended calibration pass can never silently suppress a
        // genuine regression (round-10 advice).
        def flagged(cur: Seq[(String, Double)], base: String => Double,
                    f: String => Double): Seq[(String, Double)] =
          cur.collect {
            case (k, v) if v > 2 * base(k) * f(k) && v - base(k) * f(k) > 0.3 * f(k) =>
              k -> v / (base(k) * f(k))
          }
        def regsJson(fl: Seq[(String, Double)]): String =
          fl.map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
        def regs(cur: Seq[(String, Double)], base: String => Double,
                 f: String => Double): String = regsJson(flagged(cur, base, f))
        val one = (_: String) => 1.0
        val shared = results.collect { case (k, Right(v)) if baseline.contains(k) => k -> v }
        val sharedCold = coldOk.filter { case (k, _) => baseline.contains(k) }
        val baseTotal = shared.map { case (k, _) => baseline(k)._1 }.sum
        val baseColdTotal = sharedCold.map { case (k, _) => baseline(k)._2 }.sum
        val baseTotalCal = shared.map { case (k, _) =>
          baseline(k)._1 * fOf(fWarmAxis, fWarmMed)(k) }.sum
        val baseColdTotalCal = sharedCold.map { case (k, _) =>
          baseline(k)._2 * fOf(fColdAxis, fColdMed)(k) }.sum
        val ratioRaw = if (baseTotal > 0) shared.map(_._2).sum / baseTotal else 1.0
        val ratioCal = if (baseTotalCal > 0) shared.map(_._2).sum / baseTotalCal else 1.0
        val ratioColdRaw = if (baseColdTotal > 0) sharedCold.map(_._2).sum / baseColdTotal else 1.0
        val ratioColdCal = if (baseColdTotalCal > 0) sharedCold.map(_._2).sum / baseColdTotalCal else 1.0
        val warmFlags = flagged(shared, baseline(_)._1, fOf(fWarmAxis, fWarmMed))
        val coldFlags = flagged(sharedCold, baseline(_)._2, fOf(fColdAxis, fColdMed))
        val coldFlagsRaw = flagged(sharedCold, baseline(_)._2, one)
        // mechanical self-adjudication of every cold flag (round-11 ask)
        val coldSigs = (coldFlags ++ coldFlagsRaw).map(_._1).distinct.sorted.map { q =>
          "\"" + q + "\":\"" + signature(
            metricsCold.getOrElse(q, new QueryMetrics),
            metricsWarm.getOrElse(q, new QueryMetrics)) + "\""
        }.mkString("{", ",", "}")
        // side-by-side current-vs-builder metrics for every flag, from the
        // checked-in builder rows — the adjudication rule, executable
        val flagDetail = {
          val all = (warmFlags.map(_._1 -> "warm") ++
            (coldFlags ++ coldFlagsRaw).map(_._1 -> "cold")).distinct
          all.sorted.map { case (q, phase) =>
            val cur = (if (phase == "cold") metricsCold else metricsWarm)
              .getOrElse(q, new QueryMetrics)
            val base = baselineMetrics.get((q, phase))
              .map(metricsRowJson).getOrElse("null")
            "\"" + q + ":" + phase + "\":{\"cur\":" + metricsRowJson(cur.row) +
              ",\"base\":" + base + "}"
          }.mkString("{", ",", "}")
        }
        f""","baseline_total":$baseTotal%.2f,"vs_baseline":$ratioCal%.3f,"vs_baseline_raw":$ratioRaw%.3f""" +
          f""","regressions":${regsJson(warmFlags)}""" +
          f""","regressions_raw":${regs(shared, baseline(_)._1, one)}""" +
          f""","baseline_cold_total":$baseColdTotal%.2f,"vs_baseline_cold":$ratioColdCal%.3f""" +
          f""","vs_baseline_cold_raw":$ratioColdRaw%.3f,"regressions_cold":${regsJson(coldFlags)}""" +
          f""","regressions_cold_raw":${regsJson(coldFlagsRaw)}""" +
          s""","cold_signatures":$coldSigs,"flag_detail":$flagDetail""" +
          f""","box_factor":$fWarmMed%.3f,"box_factor_cold":$fColdMed%.3f""" +
          f""","axis_factors":${axisJson(fWarmAxis)},"axis_factors_cold":${axisJson(fColdAxis)}""" +
          f""","calibration":$calibJson,"jvm_flags":"$jvmFlags"""" +
          s""","bench_overrides":${benchOverrides.keys.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      }
    val axesJson = axes.toSeq.sortBy(_._1)
      .map { case (k, a) => "\"" + k + "\":\"" + a + "\"" }.mkString("{", ",", "}")
    def metricsJson(ms: Map[String, QueryMetrics]): String =
      ms.toSeq.sortBy(_._1).map { case (k, m) => "\"" + k + "\":" + m.json }
        .mkString("{", ",", "}")
    val core = f""""metric":"total","value":$total%.3f,"unit":"sec","failed":$nFailed,"failed_cold":$nFailedCold,"failed_warm":$nFailedWarm,"cold_total":$coldTotal%.2f$extra,"sf":"$sfDir""""
    val full = s"""{$core,"queries":$qs,"cold_queries":$coldQs,"query_axes":$axesJson,"metrics":${metricsJson(metricsWarm)},"metrics_cold":${metricsJson(metricsCold)}}"""
    println(full)
    // The driver captures only a bounded TAIL of stdout (every published
    // BENCH_r*.json so far has parsed:null because the full line above
    // outgrew that window). Persist the full JSON to a file and finish
    // with a compact summary line (aggregates + regressions, no
    // per-query maps) that fits any tail window, so a last-JSON-line
    // parser always has something valid to read.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), full + "\n")
    catch { case _: Throwable => () }
    // Optional axis-map derivation artifact (builder box only): the
    // runtime classification of EVERY query from this run's metrics,
    // ready to check in as src/main/resources/graft/bench_axes.txt.
    // Builder-box baseline-metrics derivation artifact: per-query warm +
    // cold metrics rows, ready to check in as
    // src/main/resources/graft/baseline_metrics_sf01.txt (the rows
    // flag_detail compares against).
    if (sys.env.contains("SPARK_GRAFT_EMIT_BASELINE")) {
      val header = "# <query> <warm|cold> tasks jobs cpu_ms run_ms gc_ms shr_kb shw_kb spill_kb jit_ms wall_ms\n"
      val body = results.collect { case (name, Right(_)) =>
        s"$name warm ${metricsWarm.getOrElse(name, new QueryMetrics).row}\n" +
          s"$name cold ${metricsCold.getOrElse(name, new QueryMetrics).row}"
      }.mkString("", "\n", "\n")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("baseline_metrics_derived.txt"), header + body)
      catch { case _: Throwable => () }
    }
    if (sys.env.contains("SPARK_GRAFT_EMIT_AXES")) {
      val derived = results.collect { case (name, Right(v)) =>
        s"$name ${classify(name, v, metricsWarm.getOrElse(name, new QueryMetrics))}"
      }.mkString("", "\n", "\n")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_axes_derived.txt"), derived)
      catch { case _: Throwable => () }
    }
    val summary = s"""{$core,"queries_file":"bench_full.json"}"""
    // Best-effort against the driver's bounded stdout-tail parse (every
    // BENCH_r*.json so far is parsed:null): the compact summary is (a)
    // the LAST stdout line, (b) persisted as bench_summary.json beside
    // bench_full.json so a file-reading consumer never depends on the
    // tail window at all.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_summary.json"), summary + "\n")
    catch { case _: Throwable => () }
    println(summary)
    spark.stop()
  }
}
