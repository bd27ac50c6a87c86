package graft

import graft.streaming.{StreamingCupedBucketed, StreamingUpliftBucketed}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The bucketed layout's file contract, shared by both clients: a
  * staged bucket dir holds one cells file and at most one markers
  * file whatever the session's shuffle settings, and a state whose
  * bucket dirs hold several files (as earlier versions wrote them)
  * still folds and refuses replays.
  */
class BucketedStateSpec extends SparkSpec {
  import spark.implicits._

  // user_id mod 64: users 1, 65, 129, 193 route to bucket 1 and
  // 2, 66, 130, 194 to bucket 2, so each touched bucket holds
  // several keys
  private val users = Seq(1L, 65L, 129L, 193L, 2L, 66L, 130L, 194L)

  private def events(ids: Seq[Long], day: String, firstId: Long): DataFrame =
    ids.zipWithIndex.map { case (u, i) =>
      (firstId + i, u, if (i % 3 == 0) "purchase" else "view", 1.25 * (i + 1),
        f"$day ${i % 24}%02d:00:00")
    }.toDF("event_id", "user_id", "event_type", "value", "ts")
      .withColumn("ts", to_timestamp(col("ts")))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Per bucket dir under `root`: (files holding cells, files holding
    * only markers). */
  private def filesPerBucket(root: String): Map[String, (Int, Int)] =
    new java.io.File(root).listFiles().filter(_.getName.startsWith("bkt=")).map { d =>
      val kinds = d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        spark.read.parquet(f.getPath).select("kind").distinct().as[String].collect().toSet
      }
      d.getName -> ((kinds.count(_("c")), kinds.count(k => !k("c"))))
    }.toMap

  type Fold = (SparkSession, DataFrame, Long, String) => Boolean

  Seq[(String, Fold, Fold)](
    ("uplift", StreamingUpliftBucketed.processBatch, StreamingUpliftBucketed.stageBatch),
    ("cuped", StreamingCupedBucketed.processBatch, StreamingCupedBucketed.stageBatch)
  ).foreach { case (client, process, stage) =>
    test(s"$client: a staged batch holds one cells file per touched bucket") {
      withConf("spark.sql.shuffle.partitions" -> "16",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val dir = tmpDir(s"bucketed-files-$client")
        process(spark, events(users.take(4), "2024-01-02", 0L), 0L, dir) shouldBe true
        // batch 1: both buckets, merged with bucket 1's old cells; its
        // marker goes to bucket 1 mod 64 = 1
        stage(spark, events(users ++ users, "2024-01-03", 100L), 1L, dir) shouldBe true
        val staged = filesPerBucket(dir + "__batch_tmp")
        staged.keySet shouldBe Set("bkt=1", "bkt=2")
        staged.foreach { case (bkt, (cells, markers)) =>
          withClue(s"$bkt (cells files, markers-only files): ") {
            cells shouldBe 1
            markers should be <= 1
          }
        }
      }
    }
  }

  test("a state with several files per bucket folds like a single-file state; replay no-op") {
    val single = tmpDir("bucketed-single")
    val multi = tmpDir("bucketed-multi")
    // every one of the 64 buckets: more dirs than Spark lists serially
    // (parallelPartitionDiscovery.threshold, 32), so reads are grouped
    val everyBucket = users ++ (0L until 64L)
    val first = events(everyBucket, "2024-01-02", 0L)
    val second = events(users.reverse.take(6), "2024-01-03", 1000L)
    StreamingUpliftBucketed.processBatch(spark, first, 0L, single) shouldBe true
    // the earlier layout: each bucket's rows spread over several files
    spark.read.parquet(single).repartition(3)
      .write.mode("overwrite").partitionBy("bkt").parquet(multi)
    filesPerBucket(multi).values.map { case (c, m) => c + m }.max should be >= 2

    def cellsOf(dir: String): Set[Seq[Any]] =
      StreamingUpliftBucketed.cells(spark, dir).collect().map(_.toSeq).toSet
    cellsOf(multi) shouldBe cellsOf(single)
    cellsOf(single).map(_.head) shouldBe everyBucket.toSet
    StreamingUpliftBucketed.processBatch(spark, second, 1L, single) shouldBe true
    StreamingUpliftBucketed.processBatch(spark, second, 1L, multi) shouldBe true
    cellsOf(multi) shouldBe cellsOf(single)
    StreamingUpliftBucketed.processBatch(spark, second, 1L, multi) shouldBe false
    StreamingUpliftBucketed.processBatch(spark, first, 0L, multi) shouldBe false
    cellsOf(multi) shouldBe cellsOf(single)
    markerRows(multi) shouldBe 2
  }
}
