package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** Runs `body` with `listener` registered, and returns once the
    * listener has seen every event of the jobs `body` started: listener
    * events arrive in order, so that holds once a marker job's start is
    * seen. Jobs `body` starts run in job group `group`. */
  private def listening(group: String, listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val marker = new java.util.concurrent.CountDownLatch(1)
    val markerListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == s"$group-marker"))
          marker.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(markerListener)
    try {
      sc.setJobGroup(group, "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      marker.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    } finally {
      sc.removeSparkListener(markerListener)
      sc.removeSparkListener(listener)
    }
  }

  /** The number of Spark jobs `body` starts (on its own thread or on
    * threads that inherit its local properties). */
  def jobsStartedBy(body: => Unit): Int = {
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    listening(group, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    })(body)
    jobs.get()
  }

  /** The output dirs of the file writes that finished while `body` ran. */
  def writesBy(body: => Unit): Seq[String] = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.foreach {
          case w: InsertIntoHadoopFsRelationCommand => dirs.add(w.outputPath.toString)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try listening(s"writes-${java.util.UUID.randomUUID()}", new SparkListener {})(body)
    finally spark.listenerManager.unregister(listener)
    dirs.toArray(Array.empty[String]).toSeq
  }

  /** The number of applied-batch marker rows in a state dir. */
  def markerRows(dir: String): Long =
    spark.read.parquet(dir).filter("kind = 'b'").count()
}
