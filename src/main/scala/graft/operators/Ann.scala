package graft.operators

import graft.functions.VectorOps
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** IVF-style ANN index: KMeans coarse quantizer + cluster-pruned probe
  * (reference: the IVF-PQ hint at store.py:274; here as a batch index
  * build, the Spark-appropriate piece of a vector store).
  *
  * Build: distributed MLlib KMeans (fixed seed) fits the centroids; the
  * per-vector cell ASSIGNMENT is then the native codegen
  * [[graft.plans.NearestCentroid]] expression — naive sequential
  * squared-euclidean with a first-minimum tie-break — rather than
  * `model.transform`. Numerically that is the same assignment (MLlib's
  * fastSquaredDistance differs only at ulp level), but the naive form is
  * exactly SQL-replicable, which makes the whole probe hash-verifiable
  * against a DuckDB twin with the fitted centroids inlined as literals.
  * At scale the assigned table is written partitioned by cluster id so a
  * probe prunes partitions at the file listing.
  *
  * Probe: centroids are O(k·dim) — inspected on the driver (they already
  * live there post-fit) to pick the nProbe nearest cells, then a single
  * pruned scan + cosine top-k over ~nProbe/k of the corpus.
  */
object Ann extends IndexMaintenance {

  final case class Index(
      centroids: Array[Array[Double]], // unit-sphere space, k x dim
      assigned: DataFrame,             // source columns + `cluster` int
      vecCol: String,
      idCol: String
  )

  // An IVF index is an offline artifact: built once, probed many times
  // (at scale: persisted partitioned-by-cluster). Memoize per build key
  // so repeated probes in one session don't refit.
  private val indexCache = Caches.lru[(String, String, String, Int, Long), Index](64)

  /** Memoizing build keyed on (data key, columns, k, seed). `dataKey`
    * identifies the source (e.g. the parquet dir).
    */
  def buildCached(dataKey: String, df: DataFrame, vecCol: String, idCol: String, k: Int, seed: Long): Index =
    indexCache.computeIfAbsent(
      (dataKey, vecCol, idCol, k, seed),
      _ => {
        val idx = build(df, vecCol, idCol, k, seed)
        idx.assigned.cache().count() // materialize assignments once
        idx
      }
    )

  /** Train-sample budget per centroid: FAISS trains coarse quantizers
    * on ~256 points/centroid — beyond that the cells stop moving while
    * every kmeans|| init pass and Lloyd iteration still scans the
    * full input. At 100 TB this is the ONLY viable shape (the sample
    * fits executor RAM; the corpus never passes through the fit).
    * At sf0.1 (2k vectors) the sample is a no-op and the win is the
    * narrow fit stages alone (14 KMeans jobs × 32 tasks → × 4); recall
    * is pinned by AnnSpec's floors and the `ann_recall` query either way.
    */
  private[graft] val TrainPointsPerCentroid = 256L

  /** The fit-sample row target for a k-centroid quantizer: the
    * 256/centroid FAISS budget with a 2000-row floor. EVERYTHING the
    * KMeans fit consumes is bounded by ~this (a Bernoulli sample has
    * binomial variance around it) — the corpus never passes through
    * the fit, which is the property that keeps the coarse-quantizer
    * build viable at 10⁹ vectors (AnnSpec pins it; ScaleCheck/PLANS.md
    * carry the measured fit-cost-vs-N table).
    */
  private[graft] def fitTarget(k: Int): Long =
    math.max(TrainPointsPerCentroid * k, 2000L)

  /** Deterministic fit sample (fixed seed, fraction from the row
    * count): ≤ ~[[fitTarget]] rows regardless of corpus size. Sampling
    * happens BEFORE the per-row featurize — Spark does not push Sample
    * under a Project, so featurize-then-sample would pay the O(d)
    * vector math for every discarded row.
    */
  private[graft] def fitSample(df: DataFrame, n: Long, k: Int, seed: Long): DataFrame = {
    val target = fitTarget(k)
    if (n > 2 * target) df.sample(withReplacement = false, target.toDouble / n, seed)
    else df
  }

  /** `rowCount`: pass the corpus size when the caller already knows it
    * (e.g. a rebuild that just measured drift) — otherwise one count()
    * derives the sample fraction (metadata-cheap on parquet; for
    * non-file inputs it is still one narrow pass against the 14 wide
    * passes the unsampled fit would run).
    */
  def build(df: DataFrame, vecCol: String, idCol: String, k: Int, seed: Long,
            rowCount: Option[Long] = None): Index = {
    val n = rowCount.getOrElse(df.count())
    val sampled = fitSample(df, n, k, seed)
    // Cluster on L2-normalized vectors: euclidean cells on the unit
    // sphere are cosine cells, so a cosine probe's neighbors
    // concentrate in few cells. The sample is cached and MATERIALIZED
    // at source parallelism (the explicit count) BEFORE the coalesce —
    // coalesce alone would pull the corpus scan + sample into 4 tasks;
    // with the cache filled first, the 14-job fit (kmeans|| init +
    // Lloyd) schedules over 4 partitions that merely concatenate cached
    // blocks in partition-index order (deterministic layout).
    val sampleCache = sampled
      .withColumn("_features", array_to_vector(VectorOps.normalize(col(vecCol))))
      .cache()
    sampleCache.count()
    val fitInput = sampleCache.coalesce(4)
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(10)
      // keep the default kmeans|| init: random init was measured to drop
      // probe recall 0.9 → 0.4 on this corpus — the extra init passes
      // are what place centroids well at coarse-quantizer granularity
      .setFeaturesCol("_features").setPredictionCol("cluster")
      .fit(fitInput)
    val centroids = model.clusterCenters.map(_.toArray)
    sampleCache.unpersist()
    Index(centroids, assign(df, vecCol, centroids), vecCol, idCol)
  }

  /** Two-level coarse-quantizer artifacts: the flat concatenated
    * codebook (drop-in for every probe entry point) plus the hierarchy
    * (super-centroids and per-super sub-codebooks with their offsets
    * into the flat codebook) for O(√k)-per-row assignment.
    */
  final case class TwoLevel(
      superCents: Array[Array[Double]],
      subCents: Array[Array[Array[Double]]], // per super: k_s x dim
      offsets: Array[Int]                    // flat-codebook offset per super
  ) {
    def flat: Array[Array[Double]] = subCents.flatten
  }

  /** TWO-LEVEL (hierarchical) coarse-quantizer fit — the 10⁹-vector
    * path the flat fit cannot take (measured, PLANS.md: at nlist = √N
    * and sample = 256·nlist the flat fit's assignment work inside
    * Lloyd is 256·nlist² = 256·N — LINEAR in the corpus with a large
    * constant; 35 min single-box at 5M vectors):
    *
    *   1. fit ⌈√k⌉ SUPER-cells on the standard bounded sample (a
    *      √k-sized MLlib fit — cheap);
    *   2. assign the sample to super-cells with the SQL-replicable
    *      [[graft.plans.NearestCentroid]] (the same expression the
    *      corpus assignment uses);
    *   3. allocate k sub-cells across super-cells ∝ sample mass
    *      (largest-remainder, every super ≥ 1, Σ = k) and fit each
    *      super-cell's sub-quantizer with a LOCAL seeded
    *      k-means++/Lloyd ([[Pq.lloyd]]) inside ONE distributed
    *      `flatMapGroups` pass — each group is that super-cell's slice
    *      of the bounded sample, so every local fit sits in one task's
    *      memory and the super-cells fit in parallel;
    *   4. the concatenated sub-codebooks ARE a flat k-centroid
    *      codebook: every probe entry point (nearestCells, persisted
    *      layouts, batch probes) works unchanged.
    *
    * Fit cost drops from 256·k per sample row to ~2·√k·256 per sample
    * row (≈ 512·N^{3/4} total at k = √N); per-corpus-row ASSIGNMENT
    * drops from k to √k + k_s distance evals via [[assignTwoLevel]]'s
    * lazily-evaluated per-super CASE. The trade (standard for IMI-
    * style hierarchies): a boundary vector may land in a sub-cell of
    * the "wrong" super, so cells are slightly less tight than the flat
    * fit's — recall at matched nProbe is spec-pinned (TwoLevelSpec)
    * and the flat [[build]] stays the default below ~10M vectors.
    */
  private val twoLevelCache =
    Caches.lru[(String, String, String, Int, Long), (Index, TwoLevel)](16)

  /** Memoizing [[buildTwoLevel]] — the [[buildCached]] contract for the
    * hierarchical fit (built once per corpus, probed many times; the
    * assignment table is cached and materialized like the flat memo's).
    */
  def buildTwoLevelCached(dataKey: String, df: DataFrame, vecCol: String, idCol: String,
                          k: Int, seed: Long): (Index, TwoLevel) =
    twoLevelCache.computeIfAbsent(
      (dataKey, vecCol, idCol, k, seed),
      _ => {
        val r = buildTwoLevel(df, vecCol, idCol, k, seed)
        r._1.assigned.cache().count()
        r
      })

  def buildTwoLevel(df: DataFrame, vecCol: String, idCol: String, k: Int, seed: Long,
                    rowCount: Option[Long] = None): (Index, TwoLevel) = {
    // k = 1 would force kSuper = 2 and the trim loop can't reduce any
    // super below one cell, leaving a 2-cell flat codebook for a
    // requested k of 1 (cluster ids out of range); the flat build is
    // the right tool there anyway.
    require(k >= 2, s"buildTwoLevel needs k >= 2 (got $k); use build() for k = 1")
    val spark = df.sparkSession
    import spark.implicits._
    val n = rowCount.getOrElse(df.count())
    val kSuper = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val sampleCache = fitSample(df, n, k, seed)
      .withColumn("_features", array_to_vector(VectorOps.normalize(col(vecCol))))
      .cache()
    require(sampleCache.count() > 0,
      "buildTwoLevel: empty fit sample — the proportional sub-cell allocation needs data")
    val superModel = new KMeans()
      .setK(kSuper).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("_features").setPredictionCol("_super")
      .fit(sampleCache.coalesce(4))
    val superCents = superModel.clusterCenters.map(_.toArray)
    val sampleAssigned = sampleCache
      .withColumn("_super",
        org.apache.spark.sql.GraftBridge.column(
          graft.plans.NearestCentroid(
            org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
            superCents, normalizeInput = true)))
      .select(col("_super"), VectorOps.normalize(col(vecCol)).as("_nv"))
      .as[(Int, Seq[Double])]
    // sub-cell allocation ∝ sample mass: floor + largest remainder,
    // every non-empty super gets ≥ 1; empty supers get 1 degenerate
    // cell (their own centroid) so offsets stay total and Σ = k.
    val counts: Map[Int, Long] = sampleAssigned.groupByKey(_._1).count().collect().toMap
    val total = counts.values.sum.toDouble
    val raw = (0 until kSuper).map(s => counts.getOrElse(s, 0L) / total * k)
    val base = raw.map(r => math.max(1, r.toInt))
    var left = k - base.sum
    val order = raw.zipWithIndex.sortBy { case (r, _) => -(r - r.toInt) }.map(_._2)
    val alloc = base.toArray
    var oi = 0
    while (left > 0 && oi < kSuper) { alloc(order(oi)) += 1; left -= 1; oi += 1 }
    while (left < 0) { // floors over-allocated (tiny k): trim the largest
      val j = alloc.zipWithIndex.maxBy(_._1)._2
      if (alloc(j) > 1) { alloc(j) -= 1; left += 1 } else left = 0
    }
    val allocB = spark.sparkContext.broadcast(alloc)
    val fitted: Map[Int, Array[Array[Double]]] = sampleAssigned
      .groupByKey(_._1)
      .mapGroups { (s, it) =>
        val pts = it.map(_._2.toArray).toArray
        // rows arrive in SHUFFLE-FETCH order, which varies run to run
        // (thread/network timing) — without a sort the Lloyd fit is a
        // different function each run even at a fixed seed (observed as
        // ±0.1 recall between identical-seed 5M runs, PLANS.md round
        // 13). Lexicographic sort makes the fitted codebook a pure
        // function of (data, seed); cost is O(s log s) on the bounded
        // per-super sample.
        java.util.Arrays.sort(pts, new java.util.Comparator[Array[Double]] {
          def compare(a: Array[Double], b: Array[Double]): Int = {
            var i = 0
            while (i < a.length && i < b.length) {
              val c = java.lang.Double.compare(a(i), b(i))
              if (c != 0) return c
              i += 1
            }
            java.lang.Integer.compare(a.length, b.length)
          }
        })
        val ks = math.min(allocB.value(s), math.max(1, pts.length))
        (s, Pq.lloyd(pts, ks, iters = 10, new scala.util.Random(seed + s))
          .map(_.toSeq).toSeq)
      }
      .collect()
      .map { case (s, cs) => s -> cs.map(_.toArray).toArray }
      .toMap
    sampleCache.unpersist()
    // empty/short supers pad with their super-centroid so alloc holds
    val subCents = Array.tabulate(kSuper) { s =>
      val got = fitted.getOrElse(s, Array.empty[Array[Double]])
      if (got.length >= alloc(s)) got.take(alloc(s))
      else got ++ Array.fill(alloc(s) - got.length)(superCents(s).clone())
    }
    val offsets = subCents.scanLeft(0)(_ + _.length).init
    val two = TwoLevel(superCents, subCents, offsets)
    (Index(two.flat, assignTwoLevel(df, vecCol, two), vecCol, idCol), two)
  }

  /** Hierarchical assignment: nearest super-cell, then nearest
    * sub-cell WITHIN that super — O(√k + k_s) distance evals per row
    * instead of the flat O(k) — in ONE codegen'd expression
    * ([[graft.plans.NearestCentroidTwoLevel]]). A CASE over √k
    * [[graft.plans.NearestCentroid]] branches was measured SLOWER than
    * the flat assignment (897 s vs 724 s for the 2.5M-row layout
    * write): the generated CASE blows past janino limits and falls
    * back to interpreted evaluation — the round-8 ADC-literal lesson
    * again, plan SIZE is a scale axis. Cluster ids index the FLAT
    * codebook (offset + sub index), so probes prune the same
    * partitions either way.
    */
  def assignTwoLevel(df: DataFrame, vecCol: String, two: TwoLevel): DataFrame =
    df.withColumn(
      "cluster",
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.NearestCentroidTwoLevel(
          org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
          two.superCents, two.subCents, two.offsets)))

  /** Append `cluster` via the SQL-replicable nearest-centroid codegen
    * expression (input L2-normalized in-loop to match the unit-sphere
    * centroid space).
    */
  def assign(df: DataFrame, vecCol: String, centroids: Array[Array[Double]]): DataFrame =
    df.withColumn(
      "cluster",
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.NearestCentroid(
          org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
          centroids, normalizeInput = true)))

  /** The nProbe cells nearest to a query vector (driver-side — the
    * centroid table is O(k·dim) and already lives on the driver).
    */
  def nearestCells(centroids: Array[Array[Double]], qRaw: Array[Double], nProbe: Int): Seq[Int] = {
    val qNorm = math.sqrt(qRaw.map(x => x * x).sum)
    val q = qRaw.map(_ / qNorm)
    // squared distance, ties to the lower cluster id — the SAME total
    // order as [[queryCells]]'s (_d2 asc, cluster asc) window, so the
    // driver-side and in-plan rankings are interchangeable
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum) }
      .sortBy { case (i, d2) => (d2, i) }.take(nProbe).map(_._1).toSeq
  }

  /** Collect the one-row query vector as doubles (driver-side; accepts
    * float or double element types).
    */
  def queryVector(queryDf: DataFrame, queryVec: String): Array[Double] =
    doubles(queryDf.select(queryVec).head().getSeq[Any](0))

  private def doubles(v: Seq[Any]): Array[Double] =
    v.map {
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue()
      case other => sys.error(s"unsupported vector element: ${other.getClass}")
    }.toArray

  /** Index observability — the IVF analog of [[Fts.stats]]: one
    * O(index) aggregate over the assignment table exposing the books a
    * capacity planner reads. A skewed coarse quantizer means hot probe
    * cells at serving time (`balance` = max cell over the uniform
    * ideal); empty cells are real capacity, so `avg_cluster` and
    * `balance` divide by nlist while min/max range over POPULATED
    * cells.
    */
  def stats(index: Index): DataFrame = {
    val nlist = index.centroids.length
    index.assigned
      .groupBy(col("cluster")).agg(count(lit(1)).as("c"))
      .agg(
        count(lit(1)).as("n_used"),
        sum(col("c")).as("nv"),
        min(col("c")).as("mn"),
        max(col("c")).as("mx"))
      .select(
        lit(nlist.toLong).as("nlist"),
        col("nv").cast("long").as("n_vectors"),
        (lit(nlist.toLong) - col("n_used")).cast("long").as("n_empty"),
        col("mn").cast("long").as("min_cluster"),
        col("mx").cast("long").as("max_cluster"),
        round(col("nv").cast("double") / lit(nlist.toDouble), 5).as("avg_cluster"),
        round(
          col("mx").cast("double") / (col("nv").cast("double") / lit(nlist.toDouble)),
          5).as("balance"))
  }

  /** Persist the index partitioned by cluster id — the at-scale layout:
    * a probe's nProbe-cluster filter prunes whole partitions at the
    * file listing, so a probe scans ~nProbe/k of the corpus bytes.
    */
  def writeIndex(index: Index, path: String): Unit =
    writeClustered(index.assigned, path, "overwrite")

  /** Incremental index maintenance: assign NEW vectors to the existing
    * centroids and append them into the persisted partitioned layout —
    * no rebuild, probes see the new rows immediately (reference:
    * store.py:197 rebuilds its FTS index on every upsert; at Spark scale
    * the equivalent is delta assignment into the same partitioning).
    * Works identically from a streaming `foreachBatch` sink. Re-cluster
    * (full [[build]]) only when drift degrades recall — see
    * [[assignmentCost]]. Layouts built by [[buildTwoLevel]] must append
    * through [[appendToIndexTwoLevel]] instead, so delta assignment
    * matches the base corpus's hierarchical assignment. The delta lands
    * with the layout's columns ([[appendRows]]).
    */
  def appendToIndex(path: String, delta: DataFrame, vecCol: String, centroids: Array[Array[Double]]): Unit =
    writeClustered(assign(appendRows(path, delta), vecCol, centroids), path, "append")

  /** [[appendToIndex]] for a layout whose base corpus was assigned by
    * [[buildTwoLevel]]: deltas route through the SAME hierarchical
    * [[assignTwoLevel]] (nearest super, then nearest sub within it),
    * not the flat nearest-over-the-concatenated-codebook — the two can
    * disagree for boundary vectors (a sub-cell of a neighboring super
    * may be globally nearer), and a delta assigned flat while the base
    * was assigned hierarchically would make base+delta drift from a
    * rebuild. With this router, an appended vector identical to a base
    * vector lands in the base vector's cluster by construction.
    */
  def appendToIndexTwoLevel(path: String, delta: DataFrame, vecCol: String, two: TwoLevel): Unit =
    writeClustered(assignTwoLevel(appendRows(path, delta), vecCol, two), path, "append")

  /** `delta` narrowed to the data columns of the layout at `path` (its
    * footer schema; the partition column is not in a data file), in the
    * layout's order, so every data file of a layout has one schema (the
    * layout's read schema comes from the footer of its first file). A
    * delta missing one of them, or holding one under another type
    * (nullability aside), fails here, naming it; a layout with no data
    * file yet takes the delta as it comes.
    */
  private def appendRows(path: String, delta: DataFrame): DataFrame =
    LayoutCache.footerSchema(delta.sparkSession, path).fold(delta) { schema =>
      val cols = schema.fieldNames.toSeq
      cols.find(c => !delta.columns.contains(c)).foreach { c =>
        throw new IllegalArgumentException(
          s"append to $path: the delta has no column `$c` (layout columns: ${cols.mkString(", ")})")
      }
      schema.fields.find(f => !DataTypeUtils.equalsIgnoreNullability(delta.schema(f.name).dataType,
          f.dataType)).foreach { f =>
        throw new IllegalArgumentException(s"append to $path: the delta's column `${f.name}` is " +
          s"${delta.schema(f.name).dataType.simpleString}, the layout's is ${f.dataType.simpleString}")
      }
      delta.select(cols.map(col): _*)
    }

  /** DELETE maintenance for a persisted clustered layout of any vector
    * family: the shared tombstone sidecar shape ([[IndexMaintenance]]) —
    * the exact analog of the ChunkStore's tombstone segments.
    */
  def deleteFromIndex(spark: SparkSession, path: String, ids: DataFrame, idCol: String): Unit =
    appendTombstones(ids.select(idCol).distinct(), path)

  /** COMPACTION — the third maintenance verb after append and delete,
    * for a persisted clustered layout of any vector family (IVF, SQ,
    * MRL, BQ, PQ): rewrite the LIVE rows (tombstones dropped, delta
    * files folded back into one file set per cluster, sidecar cleared)
    * into a fresh partitioned layout, from the index itself — vectors
    * and codes ride the layout, so no corpus re-read and no re-encode,
    * and the scan stays cluster-pruned. Probes over the compacted
    * layout equal the live probe of the tombstoned one bit-for-bit
    * (pinned in AnnSpec and, per family, ProbeFoldSpec).
    */
  def compact(spark: SparkSession, path: String, outPath: String, idCol: String): Unit = {
    requireSeparateDir("Ann", path, outPath)
    fencedCompact(spark, "Ann", path) {
      writeClustered(liveFace(spark, path, spark.read.parquet(path), idCol),
        outPath, "overwrite")
    }
  }

  final case class MaintenanceReport(deltaCost: Double, baseCost: Double, rebuilt: Boolean)

  /** Drift-aware maintenance policy: append the delta under the existing
    * centroids while its assignment cost stays within `driftFactor` of
    * the index's build-time cost; beyond that the centroids no longer
    * describe the incoming data, so re-cluster over existing + delta and
    * rewrite the layout (reference: store.py:197 rebuilds unconditionally
    * on every upsert — this bounds rebuilds to actual distribution
    * shift). Returns the centroids now in force plus the decision.
    */
  def maintainIndex(
      spark: SparkSession,
      path: String,
      delta: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      baseCost: Double,
      driftFactor: Double = 2.0,
      k: Int = 10,
      seed: Long = 42L
  ): (Array[Array[Double]], MaintenanceReport) = {
    val deltaCost = assignmentCost(delta, vecCol, centroids)
    if (deltaCost <= baseCost * driftFactor) {
      appendToIndex(path, delta, vecCol, centroids)
      (centroids, MaintenanceReport(deltaCost, baseCost, rebuilt = false))
    } else {
      val observed = LayoutLog.version(spark, path)
      // LIVE face, not the raw layout: the rebuild folds the tombstones
      // away (the swap drops the sidecar), so re-clustering over raw
      // rows would RESURRECT every deleted id (round-15 review finding)
      val existing = liveFace(spark, path, spark.read.parquet(path), idCol)
        .drop("cluster")
      val all = existing.select(col(idCol), col(vecCol))
        .unionByName(delta.select(col(idCol), col(vecCol)))
      val fresh = build(all, vecCol, idCol, k, seed)
      // never overwrite the layout we are still lazily reading from:
      // materialize into a staging dir, then the shared fenced in-place
      // swap (history carried, results checked — see fencedSwap)
      val staging = path + "-rebuild"
      writeIndex(fresh, staging)
      fencedSwap(spark, "Ann.maintainIndex", path, staging, observed, "build")
      LayoutLog.vacuum(spark, path): Unit // squash pre-rebuild history behind the build commit
      (fresh.centroids, MaintenanceReport(deltaCost, baseCost, rebuilt = true))
    }
  }

  /** Mean squared distance of (normalized) vectors to their assigned
    * centroid — the k-means cost. Track it over appends: when the
    * delta's cost drifts well above the build-time cost, the centroids
    * no longer describe the data and a re-cluster is due.
    */
  def assignmentCost(df: DataFrame, vecCol: String, centroids: Array[Array[Double]]): Double = {
    val nv = VectorOps.normalize(col(vecCol))
    val cents = array(centroids.map(c => array(c.map(lit): _*)): _*)
    assign(df, vecCol, centroids)
      .select(VectorOps.sqDist(nv, element_at(cents, col("cluster") + 1)).as("d2"))
      .agg(avg("d2")).head().getDouble(0)
  }

  /** Per-query cell ranking for batch probes: a |Q|×k broadcast join
    * against the (tiny) centroid table + a per-query window picking
    * each query's nProbe nearest cells — the same (distance, cluster)
    * tie-break as the driver-side [[nearestCells]]. Output: one row
    * per probed (query, cell), carrying the query vector along so the
    * downstream cluster join needs no second pass over the queries.
    */
  def queryCells(
      queries: DataFrame,
      queryVec: String,
      queryId: String,
      centroids: Array[Array[Double]],
      nProbe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster", "_cent")
    val byQuery = Window.partitionBy(queryId).orderBy(col("_d2").asc, col("cluster").asc)
    queries
      .withColumn("_qnv", VectorOps.normalize(col(queryVec)))
      .crossJoin(broadcast(centDf))
      .withColumn("_d2", VectorOps.sqDist(col("_qnv"), col("_cent")))
      .withColumn("_rn", row_number().over(byQuery))
      .filter(col("_rn") <= nProbe)
      .select(col(queryId), col(queryVec), col("cluster"))
  }

  /** [[queryCells]] ranked ON THE DRIVER for a BOUNDED query set — the
    * dashboard/serving regime (tens to thousands of queries, not
    * millions). The in-plan ranking costs a |Q|-row shuffle (the
    * window) plus a broadcast-build job on EVERY probe; for a bounded
    * set the same (d2 asc, cluster asc) ranking is O(|Q|·k·dim) driver
    * arithmetic — [[nearestCells]] per query, the proven-equivalent
    * order — and the result ships as a LOCAL relation, which
    * broadcasts without a job. One collect job when `queries` is a
    * distributed frame; zero when it is already local. Keep
    * [[queryCells]] for unbounded query sets (hard-negative mining) —
    * this variant COLLECTS the query set by design.
    */
  def queryCellsLocal(
      queries: DataFrame,
      queryVec: String,
      queryId: String,
      centroids: Array[Array[Double]],
      nProbe: Int
  ): DataFrame = {
    val spark = queries.sparkSession
    val slim = queries.select(col(queryId), col(queryVec))
    val rows = slim.collect()
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length * nProbe)
    rows.foreach { r =>
      nearestCells(centroids, doubles(r.getSeq[Any](1)), nProbe).foreach { c =>
        out.add(org.apache.spark.sql.Row(r.get(0), r.get(1), c))
      }
    }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType(slim.schema.fields :+
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
  }

  /** The DISTINCT probed-cell union of a LOCAL qCells relation, read
    * driver-side with no job — None for a distributed qCells plan.
    * Why: Spark's dynamic partition pruning does not fire when the
    * dimension side of a partition-column join is a LocalRelation (no
    * selective scan to reuse), so a batch probe fed by
    * [[queryCellsLocal]] would scan EVERY cluster partition. The union
    * is already known on the driver, so the probe applies it as a
    * STATIC partition filter — stronger than DPP (pruned at plan time,
    * no subquery execution) and visible as `PartitionFilters:
    * [cluster IN (...)]` in explain. The local relation is found
    * through the row-preserving nodes a family stacks on the query
    * side (a projection that passes `cluster` through — BQ's query
    * pack, PQ's ADC tables — and a broadcast hint).
    */
  private[operators] def staticCellsOf(qCells: DataFrame): Option[Seq[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, ResolvedHint}
    def cells(plan: LogicalPlan, cluster: Attribute): Option[Seq[Int]] = plan match {
      case lr: LocalRelation =>
        val idx = lr.output.indexWhere(_.exprId == cluster.exprId)
        if (idx < 0) None else Some(lr.data.map(_.getInt(idx)).distinct.sorted.toSeq)
      case p: Project if p.projectList.exists {
            case a: Attribute => a.exprId == cluster.exprId
            case _ => false
          } => cells(p.child, cluster)
      case h: ResolvedHint => cells(h.child, cluster)
      case _ => None
    }
    val plan = qCells.queryExecution.analyzed
    plan.output.find(_.name == "cluster").flatMap(cells(plan, _))
  }

  /** A compressed family's shortlist stage (SQ codes, MRL prefix, BQ
    * sign bits): the approximate score over a joined (layout row,
    * query row) and its rank direction, the shortlist size, and the
    * full-precision `base` the exact re-rank joins back by id — None
    * when the layout was written with its vectors inline.
    */
  private[operators] final case class Shortlist(
      name: String, score: Column, ascending: Boolean, refine: Int, base: Option[DataFrame])

  /** Cluster-pruned cosine top-k over any cell-partitioned layout —
    * `index.assigned` in memory, [[liveLayout]] on disk.
    *
    * The query relation decides the shape. Without a `queryId` column
    * it is ONE query probing `cells` ([[nearestCells]]; none = every
    * row, the flat probes of an unpartitioned relation): a static
    * partition filter, the query row broadcast against the pruned
    * scan, and an `orderBy.limit` heap. With one it is a BATCH whose
    * per-query cells ride in its `cluster` column ([[queryCellsLocal]]
    * for a bounded set, [[queryCells]] in-plan): the cell union
    * prunes statically when driver-known (DPP otherwise), each layout
    * row meets only the queries probing its cell, and the heap is the
    * per-query bounded [[graft.plans.TopK]] (output gains `rk`).
    *
    * `prefilter` is a metadata predicate applied INSIDE the pruned
    * scan, before the heap, so all k results satisfy it (a postfilter
    * over the unfiltered top-k comes back short whenever the
    * predicate is selective); `keep` names layout columns carried
    * into the result.
    */
  def probe(
      scan: DataFrame,
      queries: DataFrame,
      queryVec: String,
      vecCol: String,
      idCol: String,
      topK: Int,
      cells: Seq[Int] = Nil,
      prefilter: Option[Column] = None,
      keep: Seq[String] = Nil,
      queryId: String = "query_id"): DataFrame =
    probeScan(scan, queries, queryVec, queryId, vecCol, idCol, topK, cells, prefilter, keep, None)

  /** The one IVF probe core every family folds onto: pruned scan →
    * optional prefilter → approximate score → heap to `refine` →
    * exact re-rank → heap to k (the two middle steps only when a
    * [[Shortlist]] is given). See [[probe]] for the single/batch
    * contract; a family supplies its (live) scan and shortlist only.
    * The output carries `cluster` when the scan has one.
    */
  private[operators] def probeScan(
      scan: DataFrame,
      queries: DataFrame,
      queryVec: String,
      queryId: String,
      vecCol: String,
      idCol: String,
      k: Int,
      cells: Seq[Int],
      prefilter: Option[Column],
      keep: Seq[String],
      shortlist: Option[Shortlist]): DataFrame = {
    graft.plans.GraftFunctions.register(scan.sparkSession)
    val batch = queries.columns.contains(queryId)
    // the one query without cells scans every row (a flat probe)
    val staticCells =
      if (batch) staticCellsOf(queries) else Some(cells).filter(_.nonEmpty)
    val pruned = staticCells.fold(scan)(cs => scan.filter(col("cluster").isInCollection(cs)))
    // a batch row meets only the queries probing its cell (`on`); the one
    // query meets every row. The one-row or a driver-known query side
    // broadcasts without a job; an in-plan one may be unbounded
    // (hard-negative mining), so the planner picks that join.
    def withQueries(df: DataFrame, q: DataFrame, on: Seq[String]): DataFrame = {
      val side = if (!batch || staticCells.isDefined) broadcast(q) else q
      if (batch) df.join(side, on) else df.crossJoin(side)
    }
    def heap(df: DataFrame, score: String, ascending: Boolean, n: Int): DataFrame =
      graft.plans.TopK.heap(df, if (batch) Seq(queryId) else Nil, score, ascending, idCol, n)
    val qKey = if (batch) Seq(col(queryId)) else Nil
    val cluster = if (scan.columns.contains("cluster")) Seq("cluster") else Nil
    val joined = withQueries(prefilter.fold(pruned)(pruned.filter), queries, Seq("cluster"))
    val exact = shortlist.fold(joined) { s =>
      // the vectors ride the shortlist only when the layout carries them
      val carry = if (s.base.isEmpty) Seq(col(vecCol), col(queryVec)) else Nil
      val candidates = heap(joined.withColumn(s.name, s.score)
          .select((qKey ++ (Seq(idCol) ++ cluster ++ keep).map(col) ++ carry :+ col(s.name)): _*),
        s.name, s.ascending, s.refine).drop("rk")
      s.base.fold(candidates) { base =>
        // corpus-sized base stays the probe side; the shortlist broadcasts
        // and finds its query again by (query, cell)
        val qVecs =
          if (batch) queries.select(col(queryId), col("cluster"), col(queryVec))
          else queries.select(queryVec)
        withQueries(base.join(broadcast(candidates), idCol), qVecs, Seq(queryId, "cluster"))
      }
    }
    val scored = exact
      .withColumn("cos_sim", VectorOps.cosineFastRounded(col(vecCol), col(queryVec)))
      .select((qKey ++ (col(idCol) +: cluster.map(c => col(c).cast("long").as(c))) ++
        keep.map(col) ++ shortlist.map(s => col(s.name)) :+ col("cos_sim")): _*)
    heap(scored, "cos_sim", ascending = false, k)
  }

  /** Exact top-k baseline for recall measurement. */
  def exact(df: DataFrame, queryDf: DataFrame, vecCol: String, queryVec: String, idCol: String, topK: Int): DataFrame =
    Search.knnTopK(df, queryDf, vecCol, queryVec, idCol, topK).select(idCol, "cos_sim")
}
