package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode
import graft.plans.GraftFunctions

/** Round gate for physical-plan shape: every registered query's formatted
  * plan is compared against its checked-in snapshot
  * (`plans_baseline/<name>.txt`, refreshed by `runMain graft.tools.Inspect
  * <sfDir> all --passes 0 --plans-to plans_baseline` after an INTENTIONAL
  * shape change) on the
  * regression-class signals from tools/diff_plans.py — lost broadcasts,
  * lost pushed filters, lost static partition IN-sets, new sorts /
  * exchanges / object serializations / codegen fallbacks. Plan shapes are SF-invariant here (verified round 5:
  * sf0.001-generated plans diff clean against sf0.01 snapshots in both
  * directions — broadcasts are hint-driven, CBO/AQE don't alter
  * explainString pre-execution), so the gate runs at sf0.001.
  */
class PlanGuardSpec extends SparkSpec {

  import PlanGuardSpec.{counts, fittedTwinned, signals, snapDir}

  test("plans_baseline snapshots exist for every registered query") {
    assert(Files.isDirectory(snapDir),
      "plans_baseline/ missing — run: sbt 'runMain graft.tools.Inspect /root/testdata/sf0.01 all --passes 0 --plans-to plans_baseline'")
    val missing = SparkEntry.queries.keySet.filterNot(n => Files.exists(snapDir.resolve(s"$n.txt")))
    assert(missing.isEmpty, s"no plan snapshot for: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("baseline_sf01.txt has a row for every registered query (and no orphans)") {
    // a new query without a baseline row silently escapes the >2x
    // regression gate — this is what let 10 late-round-9 queries ship
    // unbaselined until a manual audit caught them
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/baseline_sf01.txt"))(scala.io.Codec.UTF8)
    val rows = try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")(0))
      // __calib_* rows are the box-speed calibration workloads' own
      // baselines (BASELINE.md), not query rows
      .filterNot(_.startsWith("__calib_")).toSet finally src.close()
    val missing = SparkEntry.queries.keySet -- rows
    val orphans = rows -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"queries without a baseline row: ${missing.toSeq.sorted.mkString(", ")}")
    assert(orphans.isEmpty, s"baseline rows for unregistered queries: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query has an oracle twin or is a documented rows-only key") {
    // round 15: chunk_recursive LEFT this set — its recursive
    // split-and-merge is pure string/integer arithmetic, now twinned as
    // a 4-level recursive-CTE fold (OracleSql.chunkRecursiveSql); only
    // the transformer-transcendental class (softmax/layernorm/erf — no
    // bit-exact SQL) remains rows-only.
    val rowsOnly = Set("embed_encoder", "embed_encoder_mh", "rerank_cross")
    val untwinned =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly -- fittedTwinned
    assert(untwinned.isEmpty,
      s"queries missing an OracleSql twin (add it, declare fitted, or document rows-only): ${untwinned.toSeq.sorted.mkString(", ")}")
    val staleRowsOnly = rowsOnly.filter(SparkEntry.oracleSql.contains)
    assert(staleRowsOnly.isEmpty, s"rows-only keys that now HAVE twins: ${staleRowsOnly.mkString(", ")}")
  }

  // OracleArtifacts holds one stash per FIT, shared by every key on
  // that fit: each fitted key must still write the stash its own twin
  // is built from when it runs alone
  fittedTwinned.toSeq.sorted.foreach { name =>
    test(s"fitted twin emitted by its own key: $name") {
      OracleArtifacts.clear()
      SparkEntry.queries(name)(spark, sf)
      assert(OracleSql.dynamic.keySet.contains(name), s"$name ran alone but OracleSql.dynamic has no twin for it")
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan shape unchanged: $name") {
      val snap = snapDir.resolve(s"$name.txt")
      assume(Files.exists(snap), s"snapshot missing (covered by the existence test)")
      GraftFunctions.register(spark)
      val plan = fn(spark, sf).queryExecution.explainString(FormattedMode)
      val now = counts(plan)
      val base = counts(Files.readString(snap))
      val regressions = signals.collect {
        case (n, _, moreIsWorse) if (if (moreIsWorse) now(n) > base(n) else now(n) < base(n)) =>
          s"$n ${base(n)}->${now(n)}"
      }
      assert(regressions.isEmpty,
        s"plan-shape regression in $name: ${regressions.mkString(", ")} — " +
          "if intentional, refresh plans_baseline/ via graft.tools.Inspect all --passes 0 --plans-to plans_baseline")
    }
  }
}

object PlanGuardSpec {
  val snapDir = Paths.get("plans_baseline")

  // twinned at RUNTIME via OracleArtifacts fitted-constant literals
  // (OracleSql.dynamic is empty until the query has run) — every new
  // fitted-model query must be consciously added here or to the
  // static map; that forced decision is this test's purpose
  val fittedTwinned: Set[String] = Set(
    "ann_probe", "ann_recall", "ann_recall_sweep", "ann_stats",
    "ann_incremental", "ann_deleted", "ann_compacted", "ann_filtered",
    "ann_batch_probe", "ann_batch_persisted", "ann_batch_filtered", "ann_batch_pq", "ann_batch_sq",
    "ann_batch_mrl", "ann_batch_pqr", "ann_batch_bq_rotated", "ann_two_level",
    "ann_two_level_pqr", "ann_two_level_live", "ann_two_level_compacted", "stream_ann_2l",
    "ivfpq_probe", "ivfpq_residual", "ivfsq_probe", "ivfsq_residual", "ivfbq_probe", "ivfmrl_probe",
    "pq_probe", "pca_probe", "cluster_topics", "semdedup",
    "hybrid_indexed", "retrieval_eval", "retrieval_eval_clusters",
    "stream_pipeline", "stream_ann")

  // (signal, pattern, moreIsWorse) — mirror of tools/diff_plans.py SIGNALS
  val signals: Seq[(String, scala.util.matching.Regex, Boolean)] = Seq(
    ("broadcast", "Broadcast(HashJoin|ExchangeExec|Exchange|NestedLoopJoin)".r, false),
    ("pushed_filters", "PushedFilters: \\[[^\\]]".r, false),
    // static partition pruning: a `PartitionFilters` list with an IN set
    ("static_cells", "PartitionFilters: \\[[^\\]]* IN \\(".r, false),
    ("sort", "(?m)^\\s*[+:*-]*\\s*\\(?\\d*\\)?\\s*Sort\\b".r, true),
    ("exchange", "\\bExchange\\b".r, true),
    ("serialize", "SerializeFromObject".r, true),
    ("codegen_fallback", "CodegenFallback".r, true)
  )

  def counts(plan: String): Map[String, Int] =
    signals.map { case (n, p, _) => n -> p.findAllMatchIn(plan).size }.toMap
}
