package graft

import graft.operators.{Ann, IndexMaintenance, LayoutLog}
import org.apache.spark.sql.functions._

/** Write-side multi-writer safety of the index layouts (round-15): the
  * CAS commit log ([[LayoutLog]]) every [[IndexMaintenance]] verb now
  * routes through — matching ChunkStoreSpec's concurrent-commit
  * coverage for the directory-scanned layout families.
  *
  * Coverage map:
  *  1. every lifecycle verb commits one version; history is auditable;
  *  2. rename-onto-an-existing-commit FAILS — the physical conflict
  *     signal (ChunkStoreSpec's "concurrent commit of the same version
  *     fails instead of overwriting", applied to the layout log);
  *  3. append-class verbs COMMUTE: a writer whose token went stale to
  *     another append retries past it and BOTH writes survive;
  *  4. a writer whose token went stale to an OVERWRITE-class verb
  *     fails loudly (its files may have been destroyed);
  *  5. a compaction with a concurrent append to the source layout is
  *     FENCED: it throws instead of silently dropping the appended
  *     rows, and a rerun against the advanced source succeeds with the
  *     appended rows present.
  */
class LayoutLogSpec extends SparkSpec {
  import spark.implicits._

  private object M extends IndexMaintenance

  private def freshDir(): String =
    tempDir("graft_layoutlog_").toString + "/idx"

  private def rows(ids: Range): org.apache.spark.sql.DataFrame =
    ids.map(i => (i.toLong, i % 4)).toDF("id", "cluster")

  test("each lifecycle verb commits one version; history is auditable") {
    val dir = freshDir()
    M.writeClustered(rows(0 until 40), dir, "overwrite") // v1 build
    M.writeClustered(rows(40 until 60), dir, "append")   // v2 append
    M.writeClustered(rows(60 until 70), dir, "append")   // v3 append
    M.appendTombstones(Seq(5L).toDF("id"), dir)          // v4 delete
    assert(LayoutLog.version(spark, dir) == 4L)
    assert(LayoutLog.history(spark, dir).map(c => (c.version, c.verb, c.observed)) ==
      Seq((1L, "build", 0L), (2L, "append", 1L), (3L, "append", 2L), (4L, "delete", 3L)))
    assert(LayoutLog.appendsSinceBuild(spark, dir) == 2)
    // overwrite wipes the dir (log included) but version numbers stay
    // monotone — the rebuild observes the pre-wipe version
    M.writeClustered(rows(0 until 10), dir, "overwrite") // v5 build
    assert(LayoutLog.history(spark, dir).map(c => (c.version, c.verb)) ==
      Seq((5L, "build")))
    assert(LayoutLog.appendsSinceBuild(spark, dir) == 0)
  }

  test("a concurrent commit of the same version fails instead of overwriting") {
    // pins the CAS PRIMITIVE itself (tryCommit = FileContext no-overwrite
    // rename): the loser must see false AND the winner's file must be
    // preserved. FileSystem.rename would NOT give this on stock Hadoop
    // LocalFileSystem — it returns true and silently replaces the
    // destination (verified against this distribution's Hadoop; the
    // `file:` scheme resolving to Hive's ProxyLocalFileSystem here is a
    // classpath accident the protocol must not depend on).
    val dir = freshDir()
    M.writeClustered(rows(0 until 10), dir, "overwrite") // v1 build
    assert(!LayoutLog.tryCommit(spark, dir, 1L, "append", 0L),
      "commit onto an existing version must lose — that IS the conflict signal")
    assert(LayoutLog.history(spark, dir).map(c => (c.version, c.verb)) == Seq((1L, "build")),
      "the losing commit must not clobber the winner's record")
  }

  test("after an in-place policy swap, a racer holding a pre-swap token still collides loudly") {
    // review finding (round 15): the swap must CARRY the source log —
    // installing the staging dir's fresh v1-only log would let a racer
    // with any pre-swap token win a commit slot silently over its own
    // destroyed files. With the carry + the swap verb at observed+1,
    // every pre-swap token walks into a real commit and the
    // overwrite-class adjudication throws.
    val dir = freshDir()
    M.writeClustered(rows(0 until 40), dir, "overwrite") // v1 build
    M.writeClustered(rows(40 until 50), dir, "append")   // v2 append
    M.writeClustered(rows(50 until 60), dir, "append")   // v3 append
    val rep = M.maintainLayout(spark, dir,
      (s, o) => { M.fencedCompact(spark, "T", s) {
        M.writeClustered(M.liveFace(spark, s, spark.read.parquet(s), "id"), o, "overwrite")
      }},
      maxDeltaAppends = 1)
    assert(rep.compacted)
    // history carried + the fold committed at observed+1 (v4)
    assert(LayoutLog.history(spark, dir).map(c => (c.version, c.verb)) ==
      Seq((1L, "build"), (2L, "append"), (3L, "append"), (4L, "compact")))
    assert(LayoutLog.appendsSinceBuild(spark, dir) == 0)
    // racer wrote files having observed v2 (pre-swap), commits now:
    // v3 collides with a carried append (commutes, step), v4 collides
    // with the swap's compact -> loud failure, never silent success
    val e = intercept[java.util.ConcurrentModificationException] {
      LayoutLog.commitVerb(spark, dir, "append", observed = 2L)
    }
    assert(e.getMessage.contains("'compact'"), e.getMessage)
  }

  test("append-class verbs commute: a stale-token append retries past another append and both survive") {
    val dir = freshDir()
    M.writeClustered(rows(0 until 40), dir, "overwrite") // v1
    M.writeClustered(rows(40 until 50), dir, "append")   // v2 — the interloper
    // a second writer wrote its tombstone files having observed v1 (its
    // token is STALE to the interleaved append): adjudication steps over
    // the commuting append and lands at v3
    val committed = LayoutLog.commitVerb(spark, dir, "delete", observed = 1L)
    assert(committed == 3L)
    assert(LayoutLog.history(spark, dir).map(_.verb) == Seq("build", "append", "delete"))
  }

  test("a stale-token append racing an OVERWRITE fails loudly") {
    val dir = freshDir()
    M.writeClustered(rows(0 until 10), dir, "overwrite") // v1 build
    // a writer that observed the EMPTY layout (v0), wrote files, and
    // now finds a build committed at its slot: its files were wiped by
    // the overwrite — success must not be reported
    val e = intercept[java.util.ConcurrentModificationException] {
      LayoutLog.commitVerb(spark, dir, "append", observed = 0L)
    }
    assert(e.getMessage.contains("'build'"), e.getMessage)
  }

  import scala.jdk.CollectionConverters._

  private def logFiles(dir: String): Seq[String] = {
    val lp = java.nio.file.Paths.get(dir, LayoutLog.LogSub)
    if (!java.nio.file.Files.isDirectory(lp)) Seq.empty
    else {
      val s = java.nio.file.Files.list(lp)
      // drop the local-FS checksum sidecars — only the commit records count
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".commit")).toSeq.sorted
      finally s.close()
    }
  }

  test("vacuum truncates history behind the last overwrite-class commit; version + policy metric survive") {
    // direct commits build a long retained history (an overwrite VERB
    // would wipe the on-disk log itself — compaction folds keep it)
    val dir2 = freshDir()
    M.writeClustered(rows(0 until 40), dir2, "overwrite")     // v1 build
    var obs = 1L
    (0 until 10).foreach { _ =>                                // v2..v11 delete-verbs (append-class)
      obs = LayoutLog.commitVerb(spark, dir2, "delete", obs)
    }
    obs = LayoutLog.commitVerb(spark, dir2, "compact", obs)   // v12 barrier
    obs = LayoutLog.commitVerb(spark, dir2, "append", obs)    // v13
    obs = LayoutLog.commitVerb(spark, dir2, "append", obs)    // v14
    assert(LayoutLog.version(spark, dir2) == 14L)
    val removed = LayoutLog.vacuum(spark, dir2, keepCommits = 4)
    // horizon = min(14-4+1, 12) = 11 -> v1..v10 removed, v11..v14 retained
    assert(removed == 10, s"expected 10 removed, got $removed")
    assert(LayoutLog.version(spark, dir2) == 14L, "max version must survive vacuum")
    assert(LayoutLog.appendsSinceBuild(spark, dir2) == 2,
      "the policy's trigger metric must be exact across vacuum")
    assert(LayoutLog.history(spark, dir2).map(_.version) == Seq(11L, 12L, 13L, 14L))
    // keepCommits floor: the newest N survive even past the barrier
    val removed2 = LayoutLog.vacuum(spark, dir2, keepCommits = 4)
    assert(removed2 == 0, "idempotent: a second vacuum at the same bounds removes nothing")
  }

  test("vacuum never truncates the barrier or the appends above it") {
    val dir = freshDir()
    M.writeClustered(rows(0 until 40), dir, "overwrite")      // v1 build (barrier)
    var obs = 1L
    (0 until 6).foreach { _ => obs = LayoutLog.commitVerb(spark, dir, "append", obs) } // v2..v7
    // keepCommits=1 would allow horizon maxV=7, but the barrier bound
    // (v1) wins: appends since the build are the policy metric
    assert(LayoutLog.vacuum(spark, dir, keepCommits = 1) == 0)
    assert(LayoutLog.appendsSinceBuild(spark, dir) == 6)
  }

  test("a log with no overwrite-class commit is never vacuumed") {
    // pre-log layout whose first verbs are tombstone deletes: no barrier
    // exists, so nothing is safely squashable
    val dir = freshDir()
    rows(0 until 10).write.partitionBy("cluster").parquet(dir)
    M.appendTombstones(Seq(1L).toDF("id"), dir)               // v1 delete
    M.appendTombstones(Seq(2L).toDF("id"), dir)               // v2 delete
    assert(LayoutLog.vacuum(spark, dir, keepCommits = 1) == 0)
    assert(LayoutLog.history(spark, dir).map(_.verb) == Seq("delete", "delete"))
  }

  test("a racer whose token predates the vacuum horizon fails loudly instead of CAS-winning a hole") {
    val dir = freshDir()
    M.writeClustered(rows(0 until 40), dir, "overwrite")      // v1 build
    var obs = 1L
    (0 until 8).foreach { _ => obs = LayoutLog.commitVerb(spark, dir, "append", obs) } // v2..v9
    obs = LayoutLog.commitVerb(spark, dir, "compact", obs)    // v10 barrier
    obs = LayoutLog.commitVerb(spark, dir, "append", obs)     // v11
    assert(LayoutLog.vacuum(spark, dir, keepCommits = 2) > 0) // v1..v9 gone
    // racer wrote files having observed v3 (now a vacuumed hole) and
    // commits: slot v4 is claimed history with no file — the winner's
    // class is unknowable, so the commit must fail loudly, NEVER rename
    // into the hole and report success
    val e = intercept[java.util.ConcurrentModificationException] {
      LayoutLog.commitVerb(spark, dir, "append", observed = 3L)
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(LayoutLog.version(spark, dir) == 11L,
      "the failed commit must not have altered the log")
    assert(LayoutLog.history(spark, dir).map(_.version) == Seq(10L, 11L),
      "no file may appear in a vacuumed slot")
  }

  test("maintainLayout auto-vacuums: the fold bounds the commit log, not just the file set") {
    val dir = freshDir()
    M.writeClustered(rows(0 until 40), dir, "overwrite")      // v1 build
    // 12 delta appends (over the default keep of 8), then a policy fold
    (0 until 12).foreach(i =>
      M.writeClustered(rows(100 + 10 * i until 110 + 10 * i), dir, "append"))
    assert(LayoutLog.version(spark, dir) == 13L)
    val rep = M.maintainLayout(spark, dir,
      (s, o) => { M.fencedCompact(spark, "T", s) {
        M.writeClustered(M.liveFace(spark, s, spark.read.parquet(s), "id"), o, "overwrite")
      }},
      maxDeltaAppends = 4)
    assert(rep.compacted)
    assert(LayoutLog.version(spark, dir) == 14L, "swap verb at observed+1")
    // post-fold vacuum: barrier is the fold's own compact commit (v14);
    // keep=8 retains v7..v14 only
    assert(LayoutLog.history(spark, dir).map(_.version) == (7L to 14L),
      s"got ${LayoutLog.history(spark, dir)}")
    assert(LayoutLog.appendsSinceBuild(spark, dir) == 0)
    // and the carried history of the NEXT fold is the bounded suffix:
    (0 until 5).foreach(i =>
      M.writeClustered(rows(300 + 10 * i until 310 + 10 * i), dir, "append"))
    val rep2 = M.maintainLayout(spark, dir,
      (s, o) => { M.fencedCompact(spark, "T", s) {
        M.writeClustered(M.liveFace(spark, s, spark.read.parquet(s), "id"), o, "overwrite")
      }},
      maxDeltaAppends = 4)
    assert(rep2.compacted)
    assert(logFiles(dir).size <= 9,
      s"the log must stay bounded across folds, got ${logFiles(dir)}")
  }

  test("compaction is fenced: a concurrent append to the source throws; rerun includes it") {
    val dir = freshDir()
    val out1 = dir + "-compact1"
    val out2 = dir + "-compact2"
    def vec(i: Int): Seq[Float] =
      Seq(i.toFloat + 1f, (i % 7).toFloat, ((i * 3) % 5).toFloat, 1f)
    val base = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val idx = Ann.build(base, "embedding", "vec_id", k = 4, seed = 1L)
    Ann.writeIndex(idx, dir)
    M.appendTombstones(Seq(2L).toDF("vec_id"), dir)
    val delta = (100 until 110).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    // interleave: the delta append lands AFTER the compaction snapshot
    // (inside the fence window) — the lost-update the log alone cannot
    // catch, because the compaction commits to a DIFFERENT directory
    val e = intercept[java.util.ConcurrentModificationException] {
      M.fencedCompact(spark, "Ann", dir) {
        val snapshot = M.liveFace(spark, dir, spark.read.parquet(dir), "vec_id")
        snapshot.count() // the compaction's read of the source
        Ann.appendToIndex(dir, delta, "embedding", idx.centroids) // concurrent writer
        M.writeClustered(snapshot, out1, "overwrite")
      }
    }
    assert(e.getMessage.contains("advanced"), e.getMessage)
    // rerun against the advanced source: clean fence, delta rows present
    Ann.compact(spark, dir, out2, "vec_id")
    val compacted = spark.read.parquet(out2).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(compacted.contains(105L), "rerun compaction must include the appended delta")
    assert(!compacted.contains(2L), "tombstoned id must not survive compaction")
    assert(LayoutLog.history(spark, out2).map(_.verb) == Seq("build"))
  }
}
