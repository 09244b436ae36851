package graft

import graft.operators.ChunkStore
import org.apache.spark.sql.functions._

/** Property test for the threshold-triggered compaction policy: a
  * random (seeded) interleaving of upserts, deletes and maintain()
  * calls must (a) always read back exactly what a driver-side
  * latest-wins map holds, and (b) keep the delta chain — i.e. read
  * amplification — bounded by the policy.
  */
class ChunkStoreMaintainSpec extends SparkSpec {
  import spark.implicits._

  test("random upsert/delete/maintain interleaving: reads exact, read-amp bounded") {
    val rnd = new scala.util.Random(99)
    val maxDeltas = 4
    val store = new ChunkStore(
      tempDir("graft_maintain").resolve("chunks").toString,
      "doc_id")
    val reference = scala.collection.mutable.Map[Long, String]()
    var maxObservedDeltas = 0

    for (step <- 1 to 25) {
      if (rnd.nextInt(4) == 0 && reference.nonEmpty) {
        val victims = reference.keys.toSeq.sorted.filter(_ => rnd.nextBoolean())
        if (victims.nonEmpty) {
          store.delete(victims.toDF("doc_id"))
          victims.foreach(reference.remove)
        }
      } else {
        val batch = Seq.fill(1 + rnd.nextInt(5)) {
          (rnd.nextInt(12).toLong, s"v$step-${rnd.nextInt(1000)}")
        }.distinctBy(_._1)
        store.upsert(batch.toDF("doc_id", "content"))
        batch.foreach { case (k, v) => reference(k) = v }
      }
      val report = store.maintain(spark, maxDeltas)
      // leveled partial fold: maintain brings the chain back TO the
      // bound, not to a single segment
      if (report.compacted) assert(report.deltasAfter == maxDeltas)
      maxObservedDeltas = math.max(maxObservedDeltas, store.deltaCount(spark))

      val got =
        if (reference.isEmpty) Map.empty[Long, String]
        else store.read(spark).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == reference.toMap, s"step $step: store diverged from reference")
    }
    // the policy fires AFTER a batch lands, so the bound is maxDeltas+1
    assert(maxObservedDeltas <= maxDeltas + 1,
      s"read amplification $maxObservedDeltas exceeded policy bound ${maxDeltas + 1}")
    assert(maxObservedDeltas > 1, "test never exercised a multi-delta chain")
  }
}
