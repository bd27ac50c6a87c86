package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for specs: the session shape every main
  * runs ([[LocalSession]] on 4 cores: engine extensions, UTC, ANSI off,
  * AQE on), so plan and result pins hold for the plans the engine
  * ships. One session per JVM (the test run is forked once). A spec
  * that tests ANSI behaviour sets it inside that test and restores it.
  */
object SparkSpec {
  lazy val spark: SparkSession = LocalSession.builder("4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Leave the table at `dir` as a crash between TableSwap.publish's
    * delete and rename leaves it: the committed table (with its
    * `_SUCCESS` marker) sits in the swap temp dir and `dir` is
    * missing. */
  def crashMidSwap(dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .rename(path, graft.ops.TableSwap.tmpPath(dir)) shouldBe true
  }

  /** The number of applied-batch marker rows in a state dir. */
  def markerRows(dir: String): Long =
    spark.read.parquet(dir).filter("kind = 'b'").count()
}
