package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session; Spark
  * getOrCreate makes reuse across suites cheap).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A fresh temp dir, deleted recursively when the test JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path =
    graft.streaming.StreamPipeline.deleteRecursivelyOnExit(
      java.nio.file.Files.createTempDirectory(prefix))

  /** The `nProbe` IVF cells nearest a one-row query relation's `q_vec`. */
  def cellsOf(centroids: Array[Array[Double]], queryDf: DataFrame, nProbe: Int): Seq[Int] =
    graft.operators.Ann.nearestCells(centroids,
      graft.operators.Ann.queryVector(queryDf, "q_vec"), nProbe)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
