package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Shared state of one benchmark run: the session, the work directory,
  * the trace, the closed-loop client's call ledger and the timer.
  */
final class Run(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Double,
                val trace: Trace) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer values the benchmark measures itself (recall, counts). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  def layer(name: String, v: Double): Unit = layers(name) = v

  /** One client call: counted as attempted, and as failed if it throws.
    * A failed call's result is None; the workload carries on.
    */
  def call[T](span: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(trace.span(span)(body))
    catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        synchronized {
          failed += 1
          failures += s"$span: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        }
        None
    }
  }

  /** One output check: counted as attempted, and as failed if false. */
  def check(name: String, ok: => Boolean, detail: => String = ""): Boolean = {
    synchronized(attempted += 1)
    val r = try ok catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        synchronized(failures += s"check $name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        false
    }
    if (!r) synchronized { failed += 1; failures += s"check $name failed $detail".take(400) }
    r
  }

  def dir(name: String): String = work.resolve(name).toString

  /** Independent steps side by side, or one after another in a traced
    * run (spans nest on one client thread).
    */
  def par(steps: (() => Unit)*): Unit =
    if (trace.enabled) steps.foreach(_()) else Bench.par(steps: _*)

  private val born = System.nanoTime()
  /** Progress line on stderr (kept in the run's JVM log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  private var windowStart = 0L
  def startWindow(): Unit = windowStart = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - windowStart) / 1e9
  def remaining: Double = seconds - elapsed
}

object Bench {
  val OverheadPairs = 5

  /** Run independent set-up steps concurrently (untimed work only: the
    * measured loop is a single closed-loop client).
    */
  def par(steps: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size)
    try steps.map(s => pool.submit(new Runnable { def run(): Unit = s() })).foreach(_.get())
    finally pool.shutdown()
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** Bytes of every regular file under `root` (a layout's on-disk size,
    * commit logs and sidecars included).
    */
  def duBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally w.close()
    }
  }

  /** Data files (parquet) under `root`. */
  def dataFiles(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally w.close()
    }
  }

  /** Names of the segment directories (`seg-*`) directly under a
    * ChunkStore root.
    */
  def segments(root: String): Set[String] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Set.empty
    else {
      val w = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("seg-")).toSet
      } finally w.close()
    }
  }

  /** Temp or orphaned files a writer left behind under `root`. */
  def debris(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.toString)
          .filter(s => s.contains("_tmp") || s.contains("_temporary")).toList
      } finally w.close()
    }
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Minimal JSON rendering for the result line (numbers, strings,
    * booleans, sequences and string-keyed maps).
    */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    val cores = opts.getOrElse("cores", "4").toInt
    Files.createDirectories(work)

    val spark = session(cores, work)
    val trace = new Trace(traced, s"$workload-$seed-${java.util.UUID.randomUUID()}")
    val run = new Run(spark, work, seed, seconds, trace)
    val wl: Workload = workload match {
      case "serve"    => new Serve(run)
      case "curate"   => new Curate(run)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.log("session ready")
    wl.setup()
    // set-up ends here: JVM start (the process's own start time),
    // session, generation, warm-up and any base layout
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    run.metrics("setup_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    trace.attach(spark)
    run.startWindow()
    trace.span(workload)(wl.measure())
    val windowS = run.elapsed
    trace.detach(spark)
    run.log(s"window closed after $windowS s")
    wl.verify()
    run.log("verified")

    val (spanLayers, spans) = trace.report(workload)
    val layers = mutable.LinkedHashMap(spanLayers.toSeq: _*)
    // the rows a single vector-leg probe's tasks read are the rows it scores
    layers.get("pq.probe.rows_in").foreach(layers("pq.rows_scored_per_query") = _)
    if (traced) {
      // tracing overhead: the same unit call, alternately untraced and
      // traced (listeners attached, span recorded)
      val off = mutable.ArrayBuffer.empty[Double]
      val on = mutable.ArrayBuffer.empty[Double]
      def tracedUnit(i: Int): Unit = {
        trace.attach(spark)
        on += timed(trace.span("overhead")(wl.unit(i)))._2
        trace.detach(spark)
      }
      // alternate which side goes first, so warming favours neither
      (0 until OverheadPairs).foreach { i =>
        if (i % 2 == 0) { off += timed(wl.unit(2 * i))._2; tracedUnit(2 * i + 1) }
        else { tracedUnit(2 * i); off += timed(wl.unit(2 * i + 1))._2 }
      }
      layers("trace.overhead_pct") = 100 * (percentile(on.toSeq, 0.5) / percentile(off.toSeq, 0.5) - 1)
      val out = work.resolve("spans.json")
      Files.write(out, json(spans).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      run.info("spans_file") = out.toString
    }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    import scala.jdk.CollectionConverters._
    run.info("window_s") = windowS
    run.info("jvm_flags") = rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq
    run.info("nproc") = Runtime.getRuntime.availableProcessors()
    run.info("spark_master") = spark.sparkContext.master
    run.info("spark_parallelism") = spark.sparkContext.defaultParallelism
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "error_rate" -> run.failed.toDouble / math.max(1L, run.attempted),
      "failures" -> run.failures.take(20).toSeq,
      "metrics" -> run.metrics, "layers" -> (layers ++ run.layers), "info" -> run.info)
    println("PERFBENCH_RESULT " + json(result))
    spark.stop()
  }
}

/** A workload: untimed set-up (generation, warm-up), the measured
  * closed loop, then output checks.
  */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  def verify(): Unit
  /** A short representative call, timed traced and untraced. */
  def unit(i: Int): Unit
}
