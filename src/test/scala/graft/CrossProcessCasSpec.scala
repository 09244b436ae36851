package graft

import java.nio.file.{Files, Paths}

import graft.operators.{IndexMaintenance, LayoutLog}

import scala.jdk.CollectionConverters._

/** CROSS-PROCESS CAS (round-16 verdict #3): LayoutLogSpec pins the
  * commit protocol with racing threads in ONE JVM; the protocol's real
  * claim is multi-DRIVER safety — separate processes sharing nothing
  * but the layout directory must serialize through the
  * `FileContext.rename(…, Rename.NONE)` CAS with no version lost,
  * duplicated, or silently overwritten. This spec forks real `java`
  * processes running [[graft.tools.LogRacer]] (each with its own
  * SparkSession, FileSystem instance, and kernel file table), releases
  * them through a shared gate file so the commit loops genuinely
  * overlap, and adjudicates the merged outcome:
  *
  *  - every process lands ALL its commits (append-class verbs commute,
  *    so CAS losers retry — a lost write would surface as a short
  *    COMMIT list or a non-zero exit);
  *  - the union of committed versions is exactly contiguous with no
  *    duplicates (a duplicate would mean the no-overwrite rename lied —
  *    the stock-LocalFileSystem silent-overwrite trap this protocol
  *    exists to rule out);
  *  - the on-disk history agrees file-for-file with the processes' own
  *    view.
  */
class CrossProcessCasSpec extends SparkSpec {
  import spark.implicits._

  private object M extends IndexMaintenance

  private def forkRacer(dir: String, tag: String, n: Int, gate: String): (Process, java.io.File) = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    // forward the module opens Spark needs on JDK 17 (the test JVM
    // already runs with them — reuse its exact flags)
    val runtimeArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
      .toSeq
    val out = tempDir(s"graft_racer_$tag").resolve("out.log").toFile
    val cmd = (Seq(javaBin, "-Xmx1g", "-Dspark.ui.enabled=false") ++ runtimeArgs ++
      Seq("-cp", cp, "graft.tools.LogRacer", dir, tag, n.toString, gate)).asJava
    val pb = new ProcessBuilder(cmd)
    pb.redirectErrorStream(false)
    pb.redirectOutput(out)
    pb.redirectError(out.toPath.resolveSibling("err.log").toFile)
    (pb.start(), out)
  }

  private def awaitReady(out: java.io.File, tag: String): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!Files.readAllLines(out.toPath).asScala.exists(_.startsWith("READY"))) {
      assert(System.nanoTime() < deadline, s"racer $tag never reported READY")
      Thread.sleep(50)
    }
  }

  /** One full forked race; returns the observed switchover count. Every
    * PROTOCOL property is asserted on every attempt — only the
    * interleaving meta-check (did the OS actually overlap the loops?)
    * is returned to the caller, because process scheduling after the
    * gate opens is not ours to control: occasionally one JVM runs all
    * its commits before the other gets a core, which proves nothing
    * either way and is retried.
    */
  private def raceOnce(): Int = {
    val dir = tempDir("graft_xproc_").toString + "/idx"
    M.writeClustered(
      (0 until 20).map(i => (i.toLong, i % 4)).toDF("id", "cluster"),
      dir, "overwrite") // v1 build
    val gate = dir + "-gate"
    val n = 40

    val (pA, outA) = forkRacer(dir, "A", n, gate)
    val (pB, outB) = forkRacer(dir, "B", n, gate)
    try {
      awaitReady(outA, "A"); awaitReady(outB, "B")
      Files.write(Paths.get(gate), Array.emptyByteArray) // release both at once
      assert(pA.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), "racer A timed out")
      assert(pB.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), "racer B timed out")
      assert(pA.exitValue() == 0, s"racer A failed: ${Files.readAllLines(outA.toPath).asScala.takeRight(5)}")
      assert(pB.exitValue() == 0, s"racer B failed: ${Files.readAllLines(outB.toPath).asScala.takeRight(5)}")

      def commits(f: java.io.File): Seq[Long] =
        Files.readAllLines(f.toPath).asScala.toSeq
          .filter(_.startsWith("COMMIT "))
          .map(_.split(" ")(2).toLong)
      val a = commits(outA)
      val b = commits(outB)
      assert(a.size == n, s"racer A landed ${a.size}/$n")
      assert(b.size == n, s"racer B landed ${b.size}/$n")
      // CAS adjudication across the process boundary: no version claimed
      // twice (a duplicate = the rename silently overwrote a winner),
      // and the union is exactly v2..v(2n+1) — nothing lost
      val union = a ++ b
      assert(union.distinct.size == union.size,
        s"a version was claimed by both processes: ${union.groupBy(identity).collect { case (v, c) if c.size > 1 => v }}")
      assert(union.sorted == (2L to (2L * n + 1L)),
        s"committed versions must be contiguous: got ${union.sorted.take(10)}...")
      // on-disk history agrees with the processes' merged view
      assert(LayoutLog.version(spark, dir) == 2L * n + 1L)
      val hist = LayoutLog.history(spark, dir)
      assert(hist.size == 2 * n + 1)
      assert(hist.tail.forall(_.verb == "append"))
      // the commit loops genuinely overlapped only if ownership switches
      // along the version line (both-ran-serially proves nothing):
      union.sorted.map(v => if (a.contains(v)) "A" else "B")
        .sliding(2).count(w => w.size == 2 && w.head != w.last)
    } finally {
      pA.destroyForcibly(); pB.destroyForcibly(): Unit
    }
  }

  test("two forked drivers racing appends: both land everything, versions contiguous, no silent overwrite") {
    // Protocol assertions run inside EVERY attempt; the interleaving
    // meta-check needs one attempt where the scheduler actually
    // overlapped the two loops.
    val switchovers = Iterator.continually(raceOnce()).take(3).find(_ >= 3)
    assert(switchovers.isDefined,
      "the racers never interleaved across 3 attempts (>= 3 switchovers " +
        "required) — either the box is pathologically serial or the " +
        "commit loop got so fast one process always drains before the " +
        "other is scheduled; raise n")
  }
}
