package graft

import java.nio.file.Files

import graft.plans.GraftFunctions
import graft.tools.Inspect

/** The one inspection main, run on the shared session: pass rows, the
  * warm job list and the plan snapshot it writes for PlanGuardSpec.
  */
class InspectSpec extends SparkSpec {

  test("Inspect prints pass rows and warm jobs and writes a scrubbed plan snapshot") {
    GraftFunctions.register(spark)
    val dir = tempDir("graft_inspect_spec_")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Inspect.run(spark, Seq(sf, "ann_incremental", "--passes", "2", "--jobs",
        "--plans-to", dir.toString))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(!lines.exists(_.contains("FAILED")), lines.mkString("\n"))

    val rows = lines.filter(_.startsWith("[inspect] ann_incremental pass"))
    assert(rows.size == 2, lines.mkString("\n"))
    // key, pass, Bench's ten metrics, code-heap KB
    assert(rows.forall(_.stripPrefix("[inspect] ").split(" ").length == 13), rows.mkString("\n"))

    val jobs = lines.collectFirst {
      case l if l.startsWith("[inspect] ann_incremental jobs ") => l.split(" ").last.toInt
    }
    assert(jobs.exists(_ <= 2), s"warm job list: $jobs\n${lines.mkString("\n")}")

    val plan = Files.readString(dir.resolve("ann_incremental.txt"))
    assert("#\\d+".r.findFirstIn(plan).isEmpty, plan)
    assert("plan_id=\\d+".r.findFirstIn(plan).isEmpty, plan)
    val baseline = Files.readString(PlanGuardSpec.snapDir.resolve("ann_incremental.txt"))
    assert(PlanGuardSpec.counts(plan) == PlanGuardSpec.counts(baseline))
  }
}
