package graft.streaming

import graft.ops.LocalFs
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The BUCKETED streaming-state protocol — the reusable scale path
  * past the whole-state TableSwap republish for MERGE-style states
  * whose size tracks a data dimension (users), not a bounded domain:
  * state rows live in `bkt=<k>/` hash partitions of the state dir and
  * a micro-batch rewrites ONLY the buckets its keys route to, so the
  * per-batch publish cost is O(touched state), not O(state). Touched
  * is counted in buckets, not keys: with 64 buckets and user-keyed
  * cells, a batch of a few hundred users touches every bucket, and
  * then the publish rewrites the whole state.
  *
  * File contract: a staged (and so a published) bucket dir holds ONE
  * cells file and at most one markers file, so the files a later batch
  * re-reads grow with the touched buckets, not with shuffle partitions
  * × touched buckets. Bucket dirs holding several files (as earlier
  * versions wrote them) still read and fold correctly.
  *
  * Exactly-once under at-least-once delivery WITHOUT a global atomic
  * swap — multi-directory publishes cannot be atomic, so atomicity is
  * a RECOVERY protocol:
  *
  *  1. [[stageBatch]] computes the batch's complete update (merged
  *     cells for the touched buckets + their preserved markers + the
  *     new applied-batch marker) against the CURRENT state and
  *     commits it to ONE staging dir (`<state>__batch_tmp/bkt=<k>/…`;
  *     the parquet job's `_SUCCESS` is the commit point). Live state
  *     is untouched until the job commits.
  *  2. [[publishStaged]] publishes per bucket: delete live dir,
  *     RENAME the staged dir over it. The rename REMOVES the staged
  *     source, so a committed staging dir always contains exactly the
  *     not-yet-published buckets — recovery needs no bookkeeping.
  *  3. Every entry point first runs [[recoverPending]]: a committed
  *     staging dir has its remaining buckets published (finishing the
  *     interrupted batch, marker included, before anything observes
  *     the state); an uncommitted one is discarded (state was never
  *     touched). After recovery a batch is therefore either FULLY
  *     applied or not at all, and the applied-check
  *     ([[ParquetState.applied]]) is one partition-pruned read of the
  *     single marker bucket (`batchId mod B`), never a state scan.
  *
  * State schema contract ([[ParquetState]]'s row kinds, bucketed):
  * data columns include `kind` (STRING: 'c' cells / 'b' markers) and
  * `batch_id` (BIGINT, markers only); `bkt` (BIGINT) is
  * the partition directory, restored on read via basePath. The bucket
  * count must stay FIXED for a given state dir — re-sharding a live
  * state is q265's migration manifest, not a config flip.
  *
  * Clients: [[StreamingUpliftBucketed]] (q255 cells),
  * [[StreamingCupedBucketed]] (q250 cells).
  */
private[graft] object BucketedState {

  private def tmpRoot(stateDir: String): Path =
    new Path(stateDir + "__batch_tmp")

  private[graft] def markerBucket(batchId: Long, buckets: Long): Long =
    math.floorMod(batchId, buckets)

  /** Finish (or discard) an interrupted publish. Committed staging
    * (`_SUCCESS` present) ⇒ publish every bucket still in it — each
    * rename removes its staged source, so this is idempotent across
    * repeated crashes; uncommitted staging ⇒ delete (live state was
    * never touched). Cheap when there is nothing to do: one exists
    * probe. */
  private[graft] def recoverPending(fs: FileSystem, stateDir: String): Unit = {
    val tmp = tmpRoot(stateDir)
    if (fs.exists(tmp)) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) {
        publishStaged(fs, stateDir, Int.MaxValue)
      } else {
        if (!fs.delete(tmp, true))
          throw new java.io.IOException(s"bucketed state: delete uncommitted $tmp failed")
      }
    }
  }

  /** Publish up to `maxBuckets` staged bucket dirs over the live
    * state, then remove the staging root once empty. Package-visible
    * with a bucket limit so specs can simulate a mid-publish crash on
    * the REAL code path. */
  private[graft] def publishStaged(
      fs: FileSystem, stateDir: String, maxBuckets: Int): Unit = {
    val tmp = tmpRoot(stateDir)
    val staged = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("bkt=")).sortBy(_.getName)
    staged.take(maxBuckets).foreach { src =>
      val dst = new Path(stateDir, src.getName)
      if (fs.exists(dst) && !fs.delete(dst, true))
        throw new java.io.IOException(s"bucketed state: delete $dst failed")
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"bucketed state: rename $src -> $dst failed")
    }
    if (maxBuckets >= staged.length && !fs.delete(tmp, true))
      throw new java.io.IOException(s"bucketed state: delete staging $tmp failed")
  }

  /** Read the named buckets (all existing ones when `only` is None)
    * with the partition column restored. Missing dirs read as empty —
    * partition PRUNING by construction: only the listed directories
    * are ever opened. Spark lists more paths than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) in a
    * distributed job, one task per dir (0.3–0.6 s per read of 64
    * buckets on 4 local cores, against milliseconds on the driver), so
    * the dirs are read in groups of at most that many and unioned: the
    * bucket count is fixed and small, and this reader already lists
    * the root on the driver. */
  private[graft] def readBuckets(
      spark: SparkSession, stateDir: String, ddl: String,
      only: Option[Seq[Long]]): DataFrame = {
    val fs = LocalFs.fsOf(spark, stateDir)
    val root = new Path(stateDir)
    val dirs =
      if (!fs.exists(root)) Array.empty[String]
      else {
        val existing = fs.listStatus(root).map(_.getPath)
          .filter(_.getName.startsWith("bkt="))
        only match {
          case Some(bs) =>
            val want = bs.map(b => s"bkt=$b").toSet
            existing.filter(p => want(p.getName)).map(_.toString)
          case None => existing.map(_.toString)
        }
      }
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL(ddl + ", bkt BIGINT"))
    else {
      val perRead = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
      dirs.toIndexedSeq.grouped(math.max(1, perRead)).map { group =>
        spark.read.schema(StructType.fromDDL(ddl))
          .option("basePath", stateDir).parquet(group: _*)
      }.reduce(_ unionByName _)
    }
  }

  /** Stage one micro-batch's update. `batchCells` carries the data
    * columns plus `bkt`, one row per `keys` value. The touched
    * buckets' old cells and `batchCells` are hash-repartitioned by
    * `bkt` into min(touched buckets, defaultParallelism) partitions
    * (an explicit count, which AQE keeps) and merged by `aggs` grouped
    * on `bkt` + `keys` over that same distribution, so each task holds
    * whole buckets and every touched bucket is staged as ONE cells
    * file, the files written by parallel tasks. `aggs` name their
    * outputs after the DDL's value columns; the result is conformed to
    * the DDL by [[ParquetState.conform]]. Markers are handled here
    * generically: the touched buckets' existing markers are preserved
    * and the new applied marker is appended in bucket `batchId mod B`,
    * distributed by `bkt` the same way (at most one markers file per
    * bucket, however many batches it has seen). `batchCells` is
    * persisted for the call, so the touched-bucket collect and the
    * write compute it once. Returns false when the batch was already
    * applied (nothing staged). Reads ONLY the touched bucket dirs. */
  private[graft] def stageBatch(
      spark: SparkSession, stateDir: String, ddl: String, buckets: Long,
      batchId: Long, batchCells: DataFrame,
      keys: Seq[String], aggs: Seq[Column]): Boolean = {
    val mb = markerBucket(batchId, buckets)
    if (ParquetState.applied(readBuckets(spark, stateDir, ddl, Some(Seq(mb))), batchId))
      return false

    // the batch's cells feed both the touched-bucket collect and the
    // staging write: computed once. The state itself stays uncached.
    val batch = batchCells.persist()
    try {
      // control-plane: ≤B touched bucket ids (+ the marker's bucket),
      // distinct per partition and merged here: no shuffle, so one job
      // over the built cache where distinct() runs two
      val touched = (batch.select("bkt").as(Encoders.scalaLong)
        .mapPartitions(_.toSet.iterator)(Encoders.scalaLong).collect() :+ mb).distinct.toSeq
      val old = readBuckets(spark, stateDir, ddl, Some(touched))
      val schema = StructType.fromDDL(ddl + ", bkt BIGINT")
      val parts = math.min(touched.size, spark.sparkContext.defaultParallelism)
      val cells = ParquetState.ofKind(old, "c").unionByName(batch)
        .repartition(parts, col("bkt"))
        .groupBy((col("bkt") +: keys.map(col)): _*).agg(aggs.head, aggs.tail: _*)
        .withColumn("kind", lit("c"))
      val markers = old.filter(col("kind") === "b")
        .unionByName(ParquetState.markerRow(spark, schema, batchId, "bkt" -> mb))
        .repartition(parts, col("bkt"))
      LocalFs.write(ParquetState.conform(cells, schema).unionByName(markers))
        .mode("overwrite").partitionBy("bkt")
        .parquet(tmpRoot(stateDir).toString)
    } finally batch.unpersist()
    true
  }

  /** Fold one micro-batch into the bucketed state: recover, stage,
    * publish. Returns false (state untouched) when `batchId` was
    * already applied. */
  private[graft] def processBatch(
      spark: SparkSession, stateDir: String, ddl: String, buckets: Long,
      batchId: Long, batchCells: DataFrame,
      keys: Seq[String], aggs: Seq[Column]): Boolean = {
    val fs = LocalFs.fsOf(spark, stateDir)
    recoverPending(fs, stateDir)
    if (!stageBatch(spark, stateDir, ddl, buckets, batchId, batchCells,
        keys, aggs)) return false
    publishStaged(fs, stateDir, Int.MaxValue)
    true
  }

  /** The maintained cells (all buckets), data columns only. */
  private[graft] def cells(
      spark: SparkSession, stateDir: String, ddl: String): DataFrame = {
    recoverPending(LocalFs.fsOf(spark, stateDir), stateDir)
    ParquetState.ofKind(readBuckets(spark, stateDir, ddl, None), "c").drop("bkt")
  }
}
