package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Whole-operator extension: top-k rows per key WITHOUT sorting whole
  * partitions.
  *
  * `Window.partitionBy(...).orderBy(...) + row_number <= k` — the
  * DataFrame idiom — shuffles on the key and then SORTS every partition
  * in full before discarding all but k rows per key. This operator
  * keeps a bounded k-row heap per key instead: same shuffle, O(n log k)
  * compute, O(keys·k) memory, no sort spill. The win grows with
  * rows-per-key — exactly the batch-retrieval shape (every corpus row
  * scored against every query).
  *
  * Full custom-operator stack: logical node → planner Strategy →
  * physical exec, injected via GraftExtensions
  * (`injectPlannerStrategy`). Results are identical to the window
  * idiom whenever the ordering is total (callers break ties, as the
  * Search operators do).
  */
case class TopKPerKeyNode(
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Physical top-k-per-key heap pass. Planned as a PARTIAL/FINAL pair
  * (the aggregate pattern): the partial runs map-side on whatever
  * partitioning the child has and keeps ≤ k rows per key per
  * partition, so the exchange the final demands ships
  * O(partitions × keys × k) rows instead of EVERY scored row — at
  * batch-probe shape (every scanned candidate scored against every
  * query) the shuffle volume drops from the pruned-scan size to a
  * constant. With a total ordering (callers break ties) partial+final
  * is exactly the single global pass. The partial emits no rank (ranks
  * are only meaningful after the merge); the final appends `rankAttr`.
  */
case class TopKPerKeyExec(
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    partial: Boolean,
    child: SparkPlan
) extends UnaryExecNode {

  override lazy val metrics = Map(
    "degradedPartitions" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "partial partitions degraded to pass-through"),
    "partialKeys" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "distinct keys held in partial heaps"))

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr
  // the partial doesn't OUTPUT rankAttr, but it must still declare it
  // produced: the attribute rides in this node's constructor args, so
  // without the declaration missingInput flags the node invalid ("!")
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution :: Nil
    else if (partitionExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionExprs) :: Nil

  /** Check the partial's key density every this many rows (power of
    * two — the cadence test is a mask). 4096 rows is enough signal to
    * read rows-per-key and small enough that a degenerate partition
    * buffers at most a few thousand extra keys before degrading.
    */
  private val DegradeCheckEvery = 4096L

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val kLocal = k
    val partExprsLocal = partitionExprs
    val orderLocal = order
    val outputAttrs = output
    val partialLocal = partial
    val checkEvery = DegradeCheckEvery
    // read on the driver, captured in the task closure (the spec lowers
    // it to exercise the degrade mechanics at small partition sizes)
    val softCap = TopKPerKeyExec.DegradeSoftCap
    val newKeyFloor = (checkEvery / 64L).toInt // sustained-arrival floor per window
    val degradedMetric = longMetric("degradedPartitions")
    val keysMetric = longMetric("partialKeys")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partExprsLocal, childOutput)
      // downstream operators (whole-stage codegen) require UnsafeRow
      val outputProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val ordering = new LazilyGeneratedOrdering(orderLocal, childOutput)
      // heap head = WORST kept row, so `reverse` the sort ordering
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      val heapCmp = ordering.reversed() // worst-first
      var kept = 0L // rows currently resident across all heaps
      def insert(row: InternalRow): Unit = {
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](kLocal + 1, heapCmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) {
          heap.add(row.copy().asInstanceOf[UnsafeRow])
          kept += 1
        } else if (ordering.compare(row, heap.peek()) < 0) {
          // `row` sorts before the current worst → it belongs in the top k
          heap.poll()
          heap.add(row.copy().asInstanceOf[UnsafeRow])
        }
      }
      if (partialLocal) {
        // ADAPTIVE partial: the heap map holds bounded per-key heaps
        // with no spill path — the win when the heaps PRUNE (keys·k ≪
        // rows, the operator's contract). Degrading to pass-through
        // requires ALL THREE signals at a check mark (every `checkEvery`
        // rows, first evaluated at the second mark so the legitimate
        // heap-FILL phase of a bounded key set is never mistaken for
        // buffering — the round-15 advice case: hundreds of query ids
        // against millions of candidates tripped the bare combine-ratio
        // test at the first mark and abandoned the shuffle-volume win):
        //  1. resident heap rows exceed the SOFT CAP — below it there is
        //     no memory pressure and the partial's worst case is
        //     shipping one small buffered batch, so nothing to abandon;
        //  2. the COMBINE RATIO is bad (resident rows > half the rows
        //     seen): the heaps are holding, not pruning — true both for
        //     near-unique keys and for rows-per-key ≈ k (exactly-2 rows
        //     per key at k ≥ 2, where a key-count trigger never fires
        //     yet zero rows are pruned);
        //  3. NEW KEYS are still arriving above a floor rate: a closed
        //     key set's arrival decays to zero once every key has been
        //     seen (then resident state is bounded at keys·k and the
        //     partial must keep combining no matter the ratio), while
        //     every unbounded regime — near-unique keys, any constant
        //     rows-per-key — keeps minting keys at a constant rate.
        // Then STOP inserting, drain the heaps, and stream the remaining
        // input through untouched. Correctness is unchanged either way —
        // rows already evicted were beaten by k better same-key rows,
        // and the FINAL pass still bounds every key to k; only the
        // shuffle-volume optimization is abandoned, exactly when it
        // wasn't one. Envelope, stated honestly: a key set that closes
        // before resident rows cross the cap is fully protected; one
        // that is technically bounded but minting keys past the cap
        // degrades (bounded memory beats a pruning win we cannot yet
        // distinguish from unbounded growth).
        var seen = 0L
        var degraded = false
        var heapsPrev = 0
        while (iter.hasNext && !degraded) {
          insert(iter.next())
          seen += 1
          if ((seen & (checkEvery - 1L)) == 0L) {
            val newKeys = heaps.size() - heapsPrev
            heapsPrev = heaps.size()
            if (seen >= checkEvery * 2L && kept > softCap &&
              kept * 2L > seen && newKeys > newKeyFloor)
              degraded = true
          }
        }
        keysMetric += heaps.size().toLong
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        heaps.values().forEach { heap =>
          // map-side: emit the surviving rows unranked, any order
          heap.forEach(r => out += outputProj(r).copy())
        }
        if (!degraded) out.iterator
        else {
          degradedMetric += 1
          // pass-through tail: project (no copy — consumed streaming),
          // bounded state from here on
          out.iterator ++ iter.map(r => outputProj(r))
        }
      } else {
        iter.foreach(insert)
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        heaps.values().forEach { heap =>
          val arr = new Array[UnsafeRow](heap.size)
          var i = arr.length - 1
          while (!heap.isEmpty) { arr(i) = heap.poll(); i -= 1 } // best-first
          var rk = 1
          arr.foreach { r =>
            val joined = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(childOutput.length + 1)
            var c = 0
            while (c < childOutput.length) {
              joined.update(c, r.get(c, childOutput(c).dataType)); c += 1
            }
            joined.update(childOutput.length, rk.toLong)
            out += outputProj(joined).copy()
            rk += 1
          }
        }
        out.iterator
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Resident heap rows below which a partial NEVER degrades: with at
    * most this many buffered copies per partition there is no memory
    * pressure, and the worst case is shipping one bounded batch — while
    * a bare ratio test below it abandons the shuffle-volume win for any
    * workload whose keys·k exceeds half a check window (the round-15
    * advice finding). `private[graft] var` so the degrade mechanics are
    * spec-testable at small partition sizes; production value is the
    * default. Read on the driver per execution and captured in the task
    * closure.
    */
  private[graft] var DegradeSoftCap: Int = 65536
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(part, order, k, rank, child) =>
      val planned = planLater(child)
      TopKPerKeyExec(part, order, k, rank, partial = false,
        TopKPerKeyExec(part, order, k, rank, partial = true, planned)) :: Nil
    case _ => Nil
  }
}

/** Public API: append a `rankName` column holding 1..k per key.
  * `orderBy` entries are (columnName, ascending) — keep the composite
  * ordering total (add an id tie-break) for deterministic ranks.
  *
  * Cardinality contract — MECHANICAL since round 15, warm-up-aware
  * since round 16: the map-side partial keeps one k-row heap per
  * DISTINCT KEY, the win when keys·k ≪ rows (the batch-probe shape:
  * tens of query ids against millions of candidates). A caller whose
  * heaps don't prune — keys near-unique, or rows-per-key ≈ k — no
  * longer buffers whole partitions: the partial DEGRADES to
  * pass-through when, at a 4096-row check mark past the first, resident
  * heap rows exceed BOTH the soft cap ([[TopKPerKeyExec.DegradeSoftCap]])
  * and half the rows seen AND new keys are still arriving above a floor
  * rate. The last condition is the round-16 fix: a bounded key set
  * legitimately holds everything while its heaps FILL (keys·k can far
  * exceed one check window), but its key-arrival rate decays to zero —
  * whereas every unbounded regime keeps minting keys — so the fill
  * phase of the operator's own contract shape no longer abandons the
  * shuffle-volume win. Partial state stays bounded at O(rows-at-degrade)
  * copies, output is identical (the final pass still bounds every key
  * to k), and the `degradedPartitions`/`partialKeys` SQL metrics expose
  * which regime ran. Every current call site keys on a bounded
  * query/group set and never degrades.
  */
object TopK {
  def perKey(
      df: DataFrame,
      partitionCols: Seq[String],
      orderBy: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rk"
  ): DataFrame = {
    val spark = df.sparkSession
    GraftFunctions.ensureStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    // a name→attribute map would silently bind to the LAST duplicate
    // (classic post-join hazard) — fail loudly instead
    val referenced = (partitionCols ++ orderBy.map(_._1)).distinct
    val dupes = analyzed.output.groupBy(_.name).collect {
      case (n, as) if as.size > 1 && referenced.contains(n) => n
    }
    require(dupes.isEmpty,
      s"TopK.perKey: ambiguous column name(s) ${dupes.mkString(", ")} — " +
        "the input has duplicate columns; alias them before calling perKey")
    val attrByName = analyzed.output.map(a => a.name -> a).toMap
    val partExprs: Seq[Expression] = partitionCols.map(attrByName(_))
    val resolvedOrders = orderBy.map { case (name, asc) =>
      SortOrder(
        attrByName(name),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending
      )
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    GraftBridge.ofRows(spark, TopKPerKeyNode(partExprs, resolvedOrders, k, rankAttr, analyzed))
  }

  /** The one single-vs-batch heap rule of the probes: with no query key
    * the top `k` by `score` (ties to the lowest `idCol`) is an
    * `orderBy.limit` (TakeOrderedAndProject — per-partition heap plus a
    * driver merge of k rows); with one it is [[perKey]], ranked 1..k per
    * key in an added `rk`.
    */
  def heap(df: DataFrame, key: Seq[String], score: String, ascending: Boolean, idCol: String,
      k: Int): DataFrame =
    if (key.nonEmpty) perKey(df, key, Seq((score, ascending), (idCol, true)), k)
    else df.orderBy(if (ascending) col(score).asc else col(score).desc, col(idCol)).limit(k)
}
