package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits: a on even positions, b on odd") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 0L), (0L, 3L), (0xFFFFL, 0xFFFFL))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    // morton(a,b): a bits at 0,2,4..; b bits at 1,3,5..
    assert(out == Seq(0L, 1L, 2L, 0x5L, 0xAL, 0xFFFFFFFFL))
  }

  test("z-order layout touches fewer files than a 1-D sort for a 2-D box predicate") {
    val dir = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("value"),
      (expr("ts DIV 60000000000") - 28401120L).as("minute"))
    val root = tempDir("layout_spec")

    val zPath = root.resolve("z").toString
    Layout.zorderWrite(ev, "user_id", "minute", nFiles = 32, path = zPath)
    // the 1-D strawman: same file count, clustered by time only
    val tPath = root.resolve("t").toString
    ev.repartitionByRange(32, col("minute")).sortWithinPartitions("minute")
      .write.mode("overwrite").parquet(tPath)

    // 10-day window × 14% of users: time-sort must touch EVERY file
    // overlapping a third of the month (user pruning impossible there);
    // z-order localizes the 2-D box to a few z-intervals.
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("user_id").between(40, 60) && col("minute").between(7200, 21600))
        .select(input_file_name()).distinct().count()

    val (zFiles, tFiles) = (filesTouched(zPath), filesTouched(tPath))
    assert(zFiles < tFiles, s"z-order should localize the box: z=$zFiles vs time-sorted=$tFiles")

    // layout preserves content: same box, same rows
    val zRows = spark.read.parquet(zPath)
      .filter(col("user_id").between(40, 60) && col("minute").between(14400, 17280))
      .agg(count(lit(1)), sum("value")).collect().head
    val rawRows = ev
      .filter(col("user_id").between(40, 60) && col("minute").between(14400, 17280))
      .agg(count(lit(1)), sum("value")).collect().head
    assert(zRows.getLong(0) == rawRows.getLong(0))
    assert(math.abs(zRows.getDouble(1) - rawRows.getDouble(1)) < 1e-6)
  }
}
