package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans around the benchmark's calls into graft's layers, plus Spark
  * listener counts attributed to the innermost open span.
  *
  * When tracing is off, [[span]] only runs its body: the end-to-end run
  * pays one branch per call. When on, every span records (name, start,
  * end, parent, run id) in memory; jobs and tasks are attributed after
  * the run by time containment (a job belongs to the innermost span open
  * at its submission time), which also covers jobs submitted from graft's
  * own worker threads and from streaming micro-batch threads.
  */
final class Trace(val enabled: Boolean, val runId: String) {

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long,
                        counts: mutable.LinkedHashMap[String, Double])

  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochNs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  @volatile private var active = false

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  private def open(name: String): Span = synchronized {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), nowNs, -1L,
      mutable.LinkedHashMap.empty)
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span): Unit = synchronized {
    s.endNs = nowNs
    stack = stack.dropWhile(_.id != s.id).drop(1)
  }

  /** Add a count measured by the benchmark (rows, files, bytes) to the
    * innermost open span named `name`.
    */
  def count(name: String, key: String, v: Double): Unit =
    if (active) synchronized {
      stack.find(_.name == name).orElse(spans.reverseIterator.find(_.name == name))
        .foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)
    }

  // ---- listener side --------------------------------------------------

  private final case class Job(id: Int, timeNs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, startNs: Long, endNs: Long, cpuNs: Long, gcNs: Long,
                                shuffleBytes: Long, spillBytes: Long, rowsIn: Long)
  private final case class Exec(timeNs: Long, files: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execs = mutable.ArrayBuffer.empty[Exec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += Job(e.jobId, e.time * 1000000L, e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        tasks += Task(e.stageId, e.taskInfo.launchTime * 1000000L,
          e.taskInfo.finishTime * 1000000L, m.executorCpuTime, m.jvmGCTime * 1000000L,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
      }
    }
  }

  private val execListener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = {
      val files = Trace.scanFiles(qe.executedPlan)
      // the callback runs on the listener bus after the action ends: the
      // action STARTED durationNs ago, which is what places it in a span
      val t = nowNs - durationNs
      Trace.this.synchronized { execs += Exec(t, files) }
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Start recording (a no-op unless this is a traced run). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(execListener)
    active = true
  }

  /** Stop recording once the listener bus has delivered what it holds. */
  def detach(spark: SparkSession): Unit = if (enabled) {
    settle(spark)
    active = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(execListener)
  }

  /** Wait for the asynchronous listener bus to deliver what is queued. */
  private def settle(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    var last = -1
    var stable = 0
    while (stable < 5 && System.nanoTime() - t0 < 5e9) {
      Thread.sleep(20)
      val n = synchronized(jobs.size + tasks.size + execs.size)
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Innermost closed span containing time `t`, or -1. */
  private def innermost(t: Long, closed: Seq[Span]): Int = {
    var best = -1
    var bestLen = Long.MaxValue
    closed.foreach { s =>
      if (s.startNs <= t && t <= s.endNs && s.endNs - s.startNs < bestLen) {
        best = s.id; bestLen = s.endNs - s.startNs
      }
    }
    best
  }

  /** Per-span listener counts, self time and the per-layer metric map.
    * `rootName` names the span around the measured window.
    */
  def report(rootName: String): (Map[String, Double], Seq[Map[String, Any]]) = synchronized {
    val closed = spans.filter(_.endNs >= 0).toSeq
    val stageSpan = mutable.Map.empty[Int, Int]
    val jobsPer = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    jobs.foreach { j =>
      val s = innermost(j.timeNs, closed)
      jobsPer(s) += 1
      j.stages.foreach(st => stageSpan(st) = s)
    }
    val agg = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
    tasks.foreach { t =>
      val s = stageSpan.getOrElse(t.stage, innermost(t.startNs, closed))
      agg((s, "tasks")) += 1
      agg((s, "cpu_s")) += t.cpuNs / 1e9
      agg((s, "gc_s")) += t.gcNs / 1e9
      agg((s, "shuffle_mb")) += t.shuffleBytes / 1e6
      agg((s, "spill_mb")) += t.spillBytes / 1e6
      agg((s, "rows_in")) += t.rowsIn
    }
    execs.foreach { e => agg((innermost(e.timeNs, closed), "files_read")) += e.files }
    val children = closed.groupBy(_.parent)
    val allIntervals = tasks.map(t => t.startNs -> t.endNs).toSeq

    // roll a span's own counts up with its descendants' (a layer call's
    // work includes the jobs graft runs below it)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
      val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = -1L; var curB = -1L
      clipped.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }

    val rows = closed.map { s =>
      val sub = subtree(s).map(_.id).toSet
      def sum(k: String) = sub.toSeq.map(i => agg((i, k))).sum
      val wall = (s.endNs - s.startNs) / 1e9
      val childCover = covered(children.getOrElse(s.id, Nil).map(c => c.startNs -> c.endNs),
        s.startNs, s.endNs) / 1e9
      val idle = wall - covered(allIntervals, s.startNs, s.endNs) / 1e9
      Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_s" -> wall,
        "self_s" -> (wall - childCover),
        "jobs" -> sub.toSeq.map(jobsPer).sum, "tasks" -> sum("tasks"), "cpu_s" -> sum("cpu_s"),
        "gc_s" -> sum("gc_s"), "shuffle_mb" -> sum("shuffle_mb"), "spill_mb" -> sum("spill_mb"),
        "files_read" -> sum("files_read"), "rows_in" -> sum("rows_in"), "idle_s" -> idle) ++
        s.counts.map { case (k, v) => k -> v }
    }

    // per-layer metrics: span `layer.op` gives `layer.op.<count>` as the
    // mean over its calls (one call: the call's own value)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val calls = rows.map(_("name").toString).groupBy(identity).map { case (k, v) => k -> v.size }
    rows.foreach { r =>
      val n = r("name").toString
      if (n != rootName && n.contains('.')) r.foreach {
        case (k, v: Double) if k != "self_s" => add(s"$n.$k", v / calls(n))
        case _ =>
      }
    }
    calls.foreach { case (n, c) => if (n != rootName && n.contains('.')) m(s"$n.calls") = c }
    // the driver/scheduler figures cover the measured window only: the
    // window span's own row, whose counts include every span below it
    rows.find(_("name") == rootName).foreach { root =>
      Seq("jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "idle_s").foreach { k =>
        m(s"spark.$k") = root(k).asInstanceOf[Double]
      }
    }
    closed.find(_.name == rootName).foreach { root =>
      val layerCover = covered(closed.filter(_.parent == root.id).map(c => c.startNs -> c.endNs),
        root.startNs, root.endNs) / 1e9
      m("trace.uncovered_s") = (root.endNs - root.startNs) / 1e9 - layerCover
    }
    (m.toMap, rows)
  }
}

object Trace {
  /** Files read by the parquet scans of an executed plan (the final
    * adaptive plan when AQE re-planned), from the scans' own metric.
    */
  def scanFiles(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution._
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    var n = 0L
    def walk(p: SparkPlan): Unit = {
      val fp = finalPlan(p)
      fp.foreach {
        case s: FileSourceScanExec => n += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case q: adaptive.QueryStageExec => walk(q.plan)
        case a: adaptive.AdaptiveSparkPlanExec => walk(a)
        case r: exchange.ReusedExchangeExec => walk(r.child)
        case _ =>
      }
      fp.subqueries.foreach(walk)
    }
    walk(plan)
    n
  }
}
