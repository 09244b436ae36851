package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.GraftMainBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The one inspection main for registered queries:
  *
  *   runMain graft.tools.Inspect <sfDir> <key[,key…]|all> [--passes N] [--jobs] [--plan] [--plans-to DIR]
  *
  * Keys run in sorted order in one session built the way [[graft.Verify]]
  * builds it. Per key:
  *  - `--plans-to DIR` writes `DIR/<key>.txt`, the key's
  *    `explain("formatted")` text with run-order noise scrubbed (the
  *    `plans_baseline/` snapshots PlanGuardSpec and tools/diff_plans.py
  *    read);
  *  - N passes (default 3; 0 = plans only) each print
  *    `[inspect] <key> pass<i>` with [[Bench]]'s metrics row and the JVM
  *    code-heap KB, and after pass 2 Bench's cold/warm signature of
  *    passes 1 and 2 (`firstexec` = the first-execution class);
  *  - `--jobs` lists every job of the last pass with its description and
  *    stages; `--plan` prints the last pass's AQE final plan with its
  *    scan and reuse counts.
  * A conf A/B needs no flag: SparkConf reads `-Dspark.*` system
  * properties, e.g. `-Dspark.sql.codegen.factoryMode=NO_CODEGEN` in the
  * forked run's `javaOptions`.
  */
object Inspect {

  /** Records one line per job started: id, stage count, description and
    * stages with their task counts.
    */
  private final class JobLog extends SparkListener {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("?")
      val stages = e.stageInfos
        .map(s => s"${s.name.takeWhile(_ != '\n').take(70)}[${s.numTasks}t]")
        .mkString(" | ")
      lines.add(s"job ${e.jobId}: ${e.stageInfos.size} stage(s) — $desc — $stages")
      ()
    }
  }

  /** `action`'s result and every job it fired. The listener bus is
    * drained before and after, so no job lands in the wrong window.
    */
  private[graft] def jobsOf[T](spark: SparkSession)(action: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    GraftMainBridge.waitListenerBusEmpty(sc, 30000)
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val r = action
      GraftMainBridge.waitListenerBusEmpty(sc, 30000)
      (r, log.lines.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(log)
  }

  /** Jobs fired by the second (warm) execution of registered query `key`,
    * after a first execution has done its builds, writes and memos.
    */
  def warmJobs(spark: SparkSession, dir: String, key: String): Seq[String] = {
    val fn = SparkEntry.queries(key)
    fn(spark, dir).count()
    jobsOf(spark)(fn(spark, dir).count())._2
  }

  /** Formatted plan text with plan ids, temp paths, identity hashes,
    * lambda numbering and RDD ids scrubbed, so it diffs cleanly across
    * runs and across unrelated registry changes.
    */
  private def stablePlan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("/tmp/[^\\s,\\]]*", "/tmp/...")
      .replaceAll("@[0-9a-f]+", "@x")
      .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_n")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$n")
      .replaceAll("RDD\\[\\d+\\]", "RDD[n]")

  private def codeHeapKb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / 1024
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** The main's work on a given session (`args` as for the main). */
  private[graft] def run(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, keyArg, flags @ _*) = args
    def opt(name: String): Option[String] =
      Option(flags.indexOf(name)).filter(_ >= 0).map(i => flags(i + 1))
    val passes = opt("--passes").fold(3)(_.toInt)
    val plansTo = opt("--plans-to")
    val keys =
      if (keyArg == "all") SparkEntry.queries.keys.toSeq.sorted
      else keyArg.split(",").toSeq.sorted
    val unknown = keys.filterNot(SparkEntry.queries.contains) ++
      flags.filter(_.startsWith("--")).filterNot(Set("--passes", "--jobs", "--plan", "--plans-to"))
    require(unknown.isEmpty, s"unknown query keys or flags: ${unknown.mkString(", ")}")
    val metrics = new Bench.MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    plansTo.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    if (passes > 0)
      println("[inspect] key pass tasks jobs cpu_ms run_ms gc_ms shr_kb shw_kb spill_kb jit_ms wall_ms codeheap_kb")

    def inspect(key: String): Unit = {
      val fn = SparkEntry.queries(key)
      plansTo.foreach { d =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$key.txt"), stablePlan(fn(spark, sfDir)))
        println(s"[inspect] $key plan written to $d")
      }
      val ms = scala.collection.mutable.ArrayBuffer.empty[Bench.QueryMetrics]
      // one timed execution, as Bench times it (`count` is this aggregate)
      def pass(i: Int): DataFrame = {
        val jit0 = Bench.jitNowMs
        val t0 = System.nanoTime()
        val counted = fn(spark, sfDir).groupBy().count()
        counted.collect()
        val wallMs = (System.nanoTime() - t0) / 1000000L
        val jitMs = Bench.jitNowMs - jit0
        val m = metrics.settleAndTake()
        m.wallMs = wallMs
        m.jitMs = jitMs
        ms += m
        println(s"[inspect] $key pass$i ${m.row} $codeHeapKb")
        if (i == 2) println(s"[inspect] $key signature ${Bench.signature(ms(0), ms(1))}")
        counted
      }
      metrics.settleAndTake() // drop the plan step's events
      (1 until passes).foreach(pass)
      for ((counted, jobs) <- Option.when(passes > 0)(jobsOf(spark)(pass(passes)))) {
        if (flags.contains("--jobs")) {
          println(s"[inspect] $key jobs ${jobs.size}")
          jobs.foreach(j => println(s"[inspect]   $j"))
        }
        if (flags.contains("--plan")) {
          val p = (counted.queryExecution.executedPlan match {
            case aqe: AdaptiveSparkPlanExec => aqe.executedPlan
            case plan => plan
          }).toString
          def n(s: String): Int = s.r.findAllMatchIn(p).size
          println(p)
          println(s"[inspect] $key scans=${n("Scan parquet")} reused_exchanges=${n("ReusedExchange")} " +
            s"reused_subqueries=${n("ReusedSubquery")}")
        }
      }
    }
    try keys.foreach { key =>
      try inspect(key)
      catch { case e: Throwable => println(s"[inspect] $key FAILED: ${e.getMessage}") }
    } finally spark.sparkContext.removeSparkListener(metrics)
  }
}
