package graft.streaming

import graft.ops.Scd2Merge
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous silver-table maintenance: the reference's daily batch
  * ingest→merge cycle (SURVEY §3.1/§3.2, C3+C1) re-expressed as a
  * stream — each micro-batch of source rows is SCD2-merged into a
  * parquet target via `foreachBatch` (the §7.5(a) extension: streaming
  * replaces the audit-watermark pull loop; the merge kernel and ALL its
  * quirks are the same [[graft.ops.Scd2Merge]] the batch path uses, so
  * StreamingIngestSpec pins stream-vs-batch state equality run by run).
  *
  * The target swap is write-to-temp-then-rename (graft.ops.TableSwap):
  * Spark cannot overwrite a parquet dir it is reading in the same job,
  * so the merged result lands in a temp dir and is renamed over the
  * old one only after the write commits — a crash before the delete
  * leaves the previous target intact, and a crash between delete and
  * rename is healed by TableSwap.recover on the next batch (the
  * committed temp IS the merged table). At-least-once per checkpointed
  * batch; the merge is idempotent for replayed batches because an
  * unchanged re-merge classifies every row as untouched.
  *
  * At scale: each micro-batch is one keyed full-outer shuffle join of
  * |target ∪ batch| — the same plan as the batch merge; streaming adds
  * no per-row state because the TARGET TABLE is the state.
  */
object StreamingIngest {

  /** Start a stream that SCD2-merges every micro-batch into
    * `targetDir`. The target is bootstrapped from the batch schema on
    * first touch (empty table with the three SCD bookkeeping columns).
    */
  def scd2Stream(
      source: DataFrame,
      merge: Scd2Merge,
      targetDir: String,
      checkpointDir: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) => mergeBatch(batch, merge, targetDir) }
      .start()

  /** One micro-batch: read target → merge → write temp → swap.
    * Also called directly by the spec (pure function of on-disk state). */
  private[graft] def mergeBatch(batch: DataFrame, merge: Scd2Merge, targetDir: String): Unit = {
    val spark = batch.sparkSession
    // republish recovers first: reading in the crash window would
    // bootstrap an EMPTY table and silently discard all accumulated
    // SCD2 history
    ParquetState.republish(spark, targetDir) {
      val current =
        if (ParquetState.exists(spark, targetDir)) spark.read.parquet(targetDir)
        else batch.limit(0)
          .withColumn(Scd2Merge.InsertedDate, lit(null).cast("timestamp"))
          .withColumn(Scd2Merge.ModifiedDate, lit(null).cast("timestamp"))
          .withColumn(Scd2Merge.IsCurrent, lit(true))
      Some(merge(current, batch))
    }
  }
}
