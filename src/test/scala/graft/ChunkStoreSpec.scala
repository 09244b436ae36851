package graft

import graft.operators.ChunkStore
import org.apache.spark.sql.functions._

class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): ChunkStore =
    new ChunkStore(
      tempDir("graft_store").resolve("chunks").toString,
      "doc_id")

  test("upsert batches resolve latest-wins on read") {
    val store = freshStore()
    store.upsert(Seq((1L, "v1 of doc 1"), (2L, "v1 of doc 2")).toDF("doc_id", "content"))
    store.upsert(Seq((2L, "v2 of doc 2"), (3L, "new doc 3")).toDF("doc_id", "content"))
    val out = store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "v1 of doc 1"), (2L, "v2 of doc 2"), (3L, "new doc 3")))
  }

  test("tombstones hide deleted docs; later upsert resurrects") {
    val store = freshStore()
    store.upsert(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "content"))
    store.delete(Seq(Tuple1(1L)).toDF("doc_id"))
    assert(store.read(spark).select("doc_id").as[Long].collect().toSet == Set(2L))
    store.upsert(Seq((1L, "a-again")).toDF("doc_id", "content"))
    val out = store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a-again"), (2L, "b")))
  }

  test("changes: CDC between versions classifies insert/update/delete, drops unchanged") {
    val store = freshStore()
    store.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "content")) // v1
    store.upsert(Seq((2L, "b2"), (4L, "new")).toDF("doc_id", "content")) // v2
    store.delete(Seq(Tuple1(3L)).toDF("doc_id")) // v3
    val out = store.changes(spark, 1L, 3L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((2L, "update"), (3L, "delete"), (4L, "insert")),
      s"got $out") // doc 1 unchanged → absent
    // after-image carries the new payload; delete has none
    val after = store.changes(spark, 1L, 3L).filter(col("change") === "update")
      .select("after.content").as[String].collect().toSeq
    assert(after == Seq("b2"))
    // adjacent-version diff sees only that commit's delta
    val v23 = store.changes(spark, 2L, 3L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v23 == Seq((3L, "delete")))
  }

  test("changes tolerates schema evolution between versions") {
    val store = freshStore()
    store.upsert(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "content")) // v1
    store.upsert(Seq((2L, "b", "en")).toDF("doc_id", "content", "lang")) // v2 adds a column
    val out = store.changes(spark, 1L, 2L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // doc 2's lang went null→'en' = update; doc 1 null-filled both sides = unchanged
    assert(out == Seq((2L, "update")), s"got $out")
  }

  test("read never leaks internal bookkeeping columns") {
    val store = freshStore()
    store.upsert(Seq((1L, "a")).toDF("doc_id", "content"))
    val cols = store.read(spark).columns.toSet
    assert(cols == Set("doc_id", "content"), s"unexpected columns: $cols")
  }

  test("delete on an empty store writes a tombstone-only base delta") {
    val store = freshStore()
    store.delete(Seq(Tuple1(7L)).toDF("doc_id"))
    // the tombstone is resolvable and a later upsert of the key wins
    store.upsert(Seq((7L, "alive"), (8L, "other")).toDF("doc_id", "content"))
    val out = store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((7L, "alive"), (8L, "other")))
  }

  test("manifest commits: every crash state is invisible, vacuum clears debris") {
    val store = freshStore()
    store.upsert(Seq((1L, "v1"), (2L, "b")).toDF("doc_id", "content"))
    store.upsert(Seq((1L, "v2")).toDF("doc_id", "content"))
    val expected = Seq((1L, "v2"), (2L, "b"))
    def view() = store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val hfs = new org.apache.hadoop.fs.Path(store.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(p: String) = hfs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq

    // crash state A: a segment dir landed but its manifest never
    // committed — no manifest references it, so readers never see it
    Seq((1L, "GHOST"), (9L, "GHOST")).toDF("doc_id", "content")
      .withColumn("_tombstone", lit(false))
      .write.parquet(s"${store.root}/seg-orphan-crash")
    assert(view() == expected, "orphan segment must be invisible to readers")

    // crash state B: a manifest was being written but the atomic rename
    // never happened — the temp name does not match v*.manifest
    val tmp = new org.apache.hadoop.fs.Path(s"${store.root}/_log/_tmp-crashed")
    val out = hfs.create(tmp, false)
    out.write("999 seg-orphan-crash\n".getBytes("UTF-8")); out.close()
    assert(view() == expected, "half-written manifest must be invisible to readers")

    // crash state C: compaction committed its manifest but superseded
    // segments are still on disk — readers follow the new pointer
    val segsBefore = ls(store.root).count(_.getPath.getName.startsWith("seg-"))
    store.compact(spark)
    assert(view() == expected)
    assert(ls(store.root).count(_.getPath.getName.startsWith("seg-")) == segsBefore + 1,
      "commit must NOT delete superseded segments (in-flight readers)")

    // vacuum: unreferenced segments, old manifests and temp debris go
    store.vacuum(spark, keepManifests = 1)
    assert(view() == expected)
    val segNames = ls(store.root).map(_.getPath.getName).filter(_.startsWith("seg-"))
    assert(segNames.length == 1 && !segNames.contains("seg-orphan-crash"),
      s"vacuum must keep only the referenced segment: $segNames")
    assert(ls(s"${store.root}/_log").count(_.getPath.getName.startsWith("_tmp-")) == 0)
    assert(ls(s"${store.root}/_log").count(_.getPath.getName.endsWith(".manifest")) == 1)
  }

  test("time travel: every retained manifest version replays its exact state") {
    val store = freshStore()
    store.upsert(Seq((1L, "v1"), (2L, "b")).toDF("doc_id", "content"))   // v1
    store.upsert(Seq((1L, "v2")).toDF("doc_id", "content"))              // v2
    store.delete(Seq(Tuple1(2L)).toDF("doc_id"))                         // v3
    assert(store.versions(spark) == Seq(1L, 2L, 3L))
    def at(v: Long) = store.readVersion(spark, v).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(at(1L) == Seq((1L, "v1"), (2L, "b")))
    assert(at(2L) == Seq((1L, "v2"), (2L, "b")))
    assert(at(3L) == Seq((1L, "v2")))
    assert(at(3L) == store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    // vacuumed history refuses loudly instead of replaying a hole
    store.vacuum(spark, keepManifests = 1)
    assert(store.versions(spark) == Seq(3L))
    val e = intercept[IllegalArgumentException] { store.readVersion(spark, 1L) }
    assert(e.getMessage.contains("not retained"), e.getMessage)
    assert(at(3L) == Seq((1L, "v2")), "current state survives vacuum")
  }

  test("a concurrent commit of the same version fails instead of overwriting") {
    val store = freshStore()
    store.upsert(Seq((1L, "a")).toDF("doc_id", "content"))
    // replay the same version number a racing writer would claim, with
    // the PRIMITIVE the store actually commits through: FileContext's
    // no-overwrite rename. (A plain FileSystem.rename assertion here
    // only held via Hive's ProxyLocalFileSystem winning the `file:`
    // scheme by classpath accident — stock LocalFileSystem.rename
    // silently OVERWRITES, which is why commit() uses FileContext.)
    val hfs = new org.apache.hadoop.fs.Path(store.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val losing = new org.apache.hadoop.fs.Path(s"${store.root}/_log/_tmp-racer")
    val out = hfs.create(losing, false)
    out.write("0 seg-racer\n".getBytes("UTF-8")); out.close()
    val taken = new org.apache.hadoop.fs.Path(s"${store.root}/_log/v00000001.manifest")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      taken.toUri, spark.sparkContext.hadoopConfiguration)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fc.rename(losing, taken, org.apache.hadoop.fs.Options.Rename.NONE)
    }
    assert(store.read(spark).collect().map(_.getString(1)).toSeq == Seq("a"),
      "the winner's manifest must be preserved")
  }

  test("partial compaction folds only the oldest run; newer segments still win") {
    val store = freshStore()
    store.upsert(Seq((1L, "old1"), (2L, "old2")).toDF("doc_id", "content"))
    store.delete(Seq(Tuple1(2L)).toDF("doc_id"))
    store.upsert(Seq((1L, "mid1"), (3L, "mid3")).toDF("doc_id", "content"))
    store.upsert(Seq((1L, "new1")).toDF("doc_id", "content"))
    assert(store.deltaCount(spark) == 4)
    // fold the two oldest segments (upsert + tombstone) into one
    store.compactOldest(spark, 2)
    assert(store.deltaCount(spark) == 3, "only the oldest run folds")
    val out = store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "new1"), (3L, "mid3")),
      s"latest-wins must be unchanged by the prefix fold: $out")
  }

  test("compact preserves the resolved view and shrinks the delta chain") {
    val store = freshStore()
    for (i <- 0 until 5)
      store.upsert(Seq((i.toLong % 3, s"batch$i")).toDF("doc_id", "content"))
    store.delete(Seq(Tuple1(0L)).toDF("doc_id"))
    val before = store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val filesBefore = store.fileCount(spark)
    store.compact(spark)
    val after = store.read(spark).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == before)
    assert(store.fileCount(spark) < filesBefore,
      s"compaction should shrink file count (${store.fileCount(spark)} vs $filesBefore)")
  }
}
