package graft.tools

import graft.operators.LayoutLog
import org.apache.spark.sql.SparkSession

/** Cross-PROCESS commit racer for [[LayoutLog]]'s CAS protocol — the
  * executable half of CrossProcessCasSpec. LayoutLogSpec races threads
  * inside one JVM, but the protocol's actual claim is multi-DRIVER
  * safety: two separate Spark drivers appending to the same layout must
  * serialize through the no-overwrite rename with no lost or duplicated
  * versions. Only a real process boundary exercises that (separate
  * FileSystem instances, separate page caches, true kernel-level rename
  * atomicity — nothing shared but the directory).
  *
  * Usage: runMain graft.tools.LogRacer <layoutDir> <tag> <n> <gateFile>
  *
  * Prints READY once the session is up and the commit path is warm,
  * then polls every 0.1 ms until `gateFile` exists (the spec releases
  * all racers at once so the commit loops genuinely overlap), then
  * commits `n` append-class verbs, each
  * observing the current version fresh (the realistic continuous-writer
  * shape). Output: one `COMMIT <tag> <version>` line per landed verb,
  * then `DONE <tag> <n>`. Exit 0 on success; any protocol exception
  * crashes the process (the spec reads exit codes).
  */
object LogRacer {
  def main(args: Array[String]): Unit = {
    val Array(dir, tag, nStr, gate) = args
    val n = nStr.toInt
    val spark = SparkSession.builder()
      .master("local[1]")
      .appName(s"graft-logracer-$tag")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warmUp(spark, s"$dir-warm-$tag")
    LayoutLog.version(spark, dir)
    println("READY")
    Console.out.flush()
    val gatePath = java.nio.file.Paths.get(gate)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!java.nio.file.Files.exists(gatePath)) {
      if (System.nanoTime() > deadline) sys.error(s"racer $tag: gate never opened")
      java.util.concurrent.locks.LockSupport.parkNanos(100L * 1000)
    }
    var i = 0
    while (i < n) {
      val observed = LayoutLog.version(spark, dir)
      val v = LayoutLog.commitVerb(spark, dir, "append", observed)
      println(s"COMMIT $tag $v")
      i += 1
    }
    println(s"DONE $tag $n")
    Console.out.flush()
    spark.stop()
  }

  /** Run every path a racing commit can take on a private log under
    * `warm`, then remove it: the CAS win, the CAS loss, and the
    * step-over read of a winner's commit. A cold path costs a few
    * hundred ms of class loading and session-state set-up on its first
    * use, which is longer than a whole warm loop of `n` commits; left
    * cold, the first racer to lose a CAS stalls while the other drains
    * all its commits, and the loops never overlap.
    */
  private def warmUp(spark: SparkSession, warm: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warm))
    (1 to 5).foreach { _ =>
      val v = LayoutLog.version(spark, warm)
      LayoutLog.commitVerb(spark, warm, "append", v)
      LayoutLog.tryCommit(spark, warm, v + 1, "append", v)
      LayoutLog.commitVerb(spark, warm, "append", v)
    }
    val p = new org.apache.hadoop.fs.Path(warm)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
  }
}
