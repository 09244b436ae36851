package graft

import graft.plans.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private def fixture = (for {
    g <- 0 until 5
    i <- 0 until 100
  } yield (g.toLong, (g * 100 + i).toLong, math.sin(g * 7 + i * 3) * 100))
    .toDF("grp", "id", "score")

  test("TopK.perKey matches the window row_number idiom exactly") {
    val viaWindow = fixture
      .withColumn("rk",
        row_number().over(Window.partitionBy("grp").orderBy(col("score").desc, col("id"))).cast("long"))
      .filter(col("rk") <= 7)
      .select("grp", "id", "score", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val viaTopK = TopK.perKey(fixture, Seq("grp"), Seq(("score", false), ("id", true)), 7)
      .select("grp", "id", "score", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaTopK == viaWindow)
  }

  test("TopK.perKey plan uses the custom exec and no Sort operator") {
    val df = TopK.perKey(fixture, Seq("grp"), Seq(("score", false), ("id", true)), 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("!TopKPerKey"), s"plan node must be valid (no missing input):\n$plan")
    assert(!plan.contains("Sort "), s"bounded-heap operator must not sort partitions:\n$plan")
  }

  test("partial heap runs map-side: two TopKPerKey nodes, exchange between them") {
    // the partial/final split (round 13) bounds shuffle volume to
    // O(partitions x keys x k) — the exchange must sit ABOVE a partial
    // TopKPerKey, not above the raw scored rows
    val df = TopK.perKey(fixture.repartition(16), Seq("grp"),
      Seq(("score", false), ("id", true)), 7)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllMatchIn(plan).size >= 2,
      s"expected partial+final TopKPerKey pair:\n$plan")
  }

  test("partial heap bounds shuffle volume to partitions x keys x k records") {
    // the scale claim, measured: without the partial, every scored row
    // shuffles (5000 here); with it, each of the 16 map partitions
    // ships <= 5 keys x 7 rows. Listener-sum of task shuffle-write
    // records across the action.
    val written = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) { written.addAndGet(m.shuffleWriteMetrics.recordsWritten); () }
      }
    }
    val big = (for { g <- 0 until 5; i <- 0 until 1000 }
      yield (g.toLong, (g * 1000 + i).toLong, math.sin(g * 7 + i * 3) * 100))
      .toDF("grp", "id", "score").repartition(16).cache()
    big.count() // materialize outside the measured window
    spark.sparkContext.addSparkListener(l)
    try {
      TopK.perKey(big, Seq("grp"), Seq(("score", false), ("id", true)), 7).collect()
      org.apache.spark.GraftMainBridge.waitListenerBusEmpty(spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(l)
    val bound = 16L * 5 * 7 // partitions x keys x k = 560 << 5000 rows
    assert(written.get() <= bound,
      s"partial heap must bound the shuffle: wrote ${written.get()} records (bound $bound)")
    assert(written.get() > 0, "expected the per-key exchange to actually shuffle")
    big.unpersist()
  }

  test("partial+final equals the window idiom when keys span many partitions") {
    val skewed = fixture.repartition(16) // every key spread across partitions
    val viaWindow = skewed
      .withColumn("rk",
        row_number().over(Window.partitionBy("grp").orderBy(col("score").desc, col("id"))).cast("long"))
      .filter(col("rk") <= 7)
      .select("grp", "id", "score", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val viaTopK = TopK.perKey(skewed, Seq("grp"), Seq(("score", false), ("id", true)), 7)
      .select("grp", "id", "score", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaTopK == viaWindow)
  }

  test("empty partition list means global top-k") {
    val out = TopK.perKey(fixture, Seq.empty, Seq(("score", false), ("id", true)), 5)
    val rows = out.orderBy("rk").collect()
    assert(rows.length == 5)
    val bestByHand = fixture.orderBy(col("score").desc, col("id")).limit(5)
      .collect().map(_.getLong(1)).toSeq
    assert(rows.map(_.getAs[Long]("id")).toSeq == bestByHand)
  }

  test("k larger than group size returns whole groups with contiguous ranks") {
    val small = Seq((1L, 1L, 5.0), (1L, 2L, 3.0), (2L, 3L, 1.0)).toDF("grp", "id", "score")
    val out = TopK.perKey(small, Seq("grp"), Seq(("score", false), ("id", true)), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(out == Set((1L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 1L)))
  }

  // walk the executed plan through AQE wrappers/stages to find the
  // partial execs and read their SQL metrics
  private def partialExecs(df: org.apache.spark.sql.DataFrame): Seq[graft.plans.TopKPerKeyExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec        => p +: allNodes(q.plan)
      case _                        => p +: p.children.flatMap(allNodes)
    }
    allNodes(df.queryExecution.executedPlan).collect {
      case t: graft.plans.TopKPerKeyExec if t.partial => t
    }
  }

  /** Run `body` with the degrade soft cap lowered so the mechanics are
    * exercisable at spec-sized partitions (production cap is 65536
    * resident rows — a deliberate "no memory pressure, nothing to
    * abandon" floor).
    */
  private def withSoftCap[T](cap: Int)(body: => T): T = {
    val prev = graft.plans.TopKPerKeyExec.DegradeSoftCap
    graft.plans.TopKPerKeyExec.DegradeSoftCap = cap
    try body finally graft.plans.TopKPerKeyExec.DegradeSoftCap = prev
  }

  test("rows-per-key~1 input degrades the partial to pass-through with identical output") {
    // 50k rows, every key distinct — the anti-contract cardinality the
    // round-14 verdict wanted mechanical: without the degrade the
    // partial buffers the whole partition as copied heap rows
    val n = 50000L
    val df = spark.range(0, n, 1, 4)
      .selectExpr("id as grp", "id", "cast(sin(id * 3) * 100 as double) as score")
    withSoftCap(1024) {
      val res = TopK.perKey(df, Seq("grp"), Seq(("score", false), ("id", true)), 3)
      // execute res ITSELF (a .select would be a new queryExecution and
      // its metrics would not land on the plan instance inspected below)
      val got = res.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val partials = partialExecs(res)
      assert(partials.nonEmpty, res.queryExecution.executedPlan.toString)
      val degraded = partials.map(_.metrics("degradedPartitions").value).sum
      val heldKeys = partials.map(_.metrics("partialKeys").value).sum
      assert(degraded > 0, s"unique-key input must trip the degrade (held $heldKeys keys)")
      assert(heldKeys < n / 2 + 4 * 4096,
        s"partial state must stay bounded after the degrade, held $heldKeys of $n keys")
      // correctness unchanged: every key survives with rank 1
      assert(got.size == n.toInt && got.forall(_._4 == 1L))
    }
  }

  test("rows-per-key = 2 at k >= 2 (zero pruning) also degrades — combine-ratio trigger") {
    // the regime a key-count trigger misses (keys*2 == rows exactly):
    // every row is kept, nothing is pruned, the partial is pure
    // buffering — the combine-ratio trigger must fire
    val n = 40000L
    val df = spark.range(0, n, 1, 4)
      .selectExpr("cast(id / 2 as long) as grp", "id", "cast(id % 7 as double) as score")
    withSoftCap(1024) {
      val res = TopK.perKey(df, Seq("grp"), Seq(("score", false), ("id", true)), 3)
      val got = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      val partials = partialExecs(res)
      assert(partials.nonEmpty)
      assert(partials.map(_.metrics("degradedPartitions").value).sum > 0,
        "rows-per-key=2 buffers everything without pruning — must degrade")
      // correctness unchanged: both rows of every key survive, ranks 1..2
      assert(got.length == n.toInt)
      assert(got.groupBy(_._1).forall { case (_, rows) => rows.map(_._3).sorted.toSeq == Seq(1L, 2L) })
    }
  }

  test("bounded key set whose keys*k exceeds a check window keeps combining (round-15 advice case)") {
    // 300 keys x k=8 = 2400 resident rows — over HALF a 4096-row check
    // window, so the round-15 bare-ratio trigger degraded at the first
    // mark and abandoned the shuffle-volume win for a workload squarely
    // inside the keys*k << rows contract. With the warm-up-aware
    // trigger the key set CLOSES (arrival decays to zero after the
    // first window) and the partial must keep combining: zero degraded
    // partitions, resident keys exactly the key set per partition.
    val n = 200000L
    val keys = 300L
    val df = spark.range(0, n, 1, 4)
      .selectExpr(s"id % $keys as grp", "id", "cast(sin(id * 7) * 100 as double) as score")
    val res = TopK.perKey(df, Seq("grp"), Seq(("score", false), ("id", true)), 8)
    val got = res.collect().map(r => (r.getLong(0), r.getLong(3)))
    val partials = partialExecs(res)
    assert(partials.nonEmpty)
    assert(partials.map(_.metrics("degradedPartitions").value).sum == 0,
      "a closed key set must never degrade, whatever its keys*k")
    val heldKeys = partials.map(_.metrics("partialKeys").value).sum
    assert(heldKeys <= keys * 4,
      s"partial state must stay at keys-per-partition (held $heldKeys)")
    // and the partial actually pruned: every key exactly k survivors
    assert(got.length == (keys * 8).toInt)
    assert(got.groupBy(_._1).forall { case (_, rows) => rows.map(_._2).sorted.toSeq == (1L to 8L) })
  }

  test("rows-per-key = 8 (constant key minting, zero pruning at k >= 8) still degrades past the cap") {
    // a CONSTANT rows-per-key regime mints keys at rate 1/8 forever —
    // arrival never decays, resident rows track rows seen, and memory
    // is unbounded without the degrade. The arrival-floor condition
    // must not mistake this for a closing key set.
    val n = 80000L
    val df = spark.range(0, n, 1, 4)
      .selectExpr("cast(id / 8 as long) as grp", "id", "cast(id % 11 as double) as score")
    withSoftCap(1024) {
      val res = TopK.perKey(df, Seq("grp"), Seq(("score", false), ("id", true)), 9)
      val got = res.collect()
      val partials = partialExecs(res)
      assert(partials.nonEmpty)
      assert(partials.map(_.metrics("degradedPartitions").value).sum > 0,
        "constant key minting past the cap must degrade")
      assert(got.length == n.toInt, "correctness unchanged: k >= rows-per-key keeps every row")
    }
  }

  test("the contract cardinality (keys << rows) never degrades") {
    val res = TopK.perKey(fixture, Seq("grp"), Seq(("score", false), ("id", true)), 7)
    res.collect()
    val partials = partialExecs(res)
    assert(partials.nonEmpty)
    assert(partials.map(_.metrics("degradedPartitions").value).sum == 0,
      "the batch-probe shape must keep the combining partial")
  }

  test("duplicate referenced column names fail loudly instead of binding silently") {
    val e = intercept[IllegalArgumentException] {
      TopK.perKey(fixture.select(col("grp"), col("score"), col("score")),
        Seq("grp"), Seq(("score", false)), 3)
    }
    assert(e.getMessage.contains("ambiguous"))
  }
}
