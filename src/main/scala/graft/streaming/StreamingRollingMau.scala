package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous EXACT rolling-7-day distinct users (streaming MAU/WAU) —
  * the streaming form of batch q83, sharing its contract: for every
  * window-day D, the number of distinct users active in [D−6, D].
  *
  * The batch q83 trick (each active day covers windows up to the NEXT
  * active day) is not streamable — the next active day is future
  * knowledge. The streaming form instead materializes the
  * (window_day, user_id) membership SET incrementally (foreachBatch,
  * X47's index discipline):
  *
  *   1. the micro-batch collapses to distinct (day, user) activity and
  *      expands each to its ≤7 covered window-days — bounded stateless
  *      fan-out of the batch, never of history;
  *   2. pairs already in the index anti-join away; only NOVEL
  *      membership rows append (the index is the exact distinct state,
  *      in parquet, not the state store — no watermark eviction races,
  *      arbitrarily late events still land in their true windows);
  *   3. per-window counts recompute FROM THE INDEX and publish via
  *      [[ParquetState.republish]] — counts are always derivable state,
  *      so the append-then-swap pair needs no cross-table atomicity: a
  *      crash between the two heals on the next batch (replay
  *      anti-joins to empty and the count swap re-runs), keeping
  *      exactly-once counts under at-least-once delivery.
  *
  * Per-batch cost: O(batch) for steps 1-2 plus a keyed count over the
  * membership index for step 3 — the index is |active (window, user)
  * pairs|, orders of magnitude under event volume; at scale it is
  * date-partitioned so the count prunes to windows the batch touched,
  * and old window partitions compact away by retention.
  */
object StreamingRollingMau {

  private val WindowDays = 6 // trailing window = day .. day-6

  import ParquetState.readOrEmpty

  /** (window_day, user_id) membership rows covered by a batch of raw
    * events. */
  private[graft] def contributions(batch: DataFrame): DataFrame =
    batch
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .select(explode(sequence(col("day"), date_add(col("day"), WindowDays)))
        .as("window_day"), col("user_id"))
      .distinct()

  /** Fold one micro-batch into the membership index at `indexDir` and
    * republish `countsDir`. Returns the number of novel membership
    * rows (0 on a replayed batch). */
  def processBatch(
      spark: SparkSession, batch: DataFrame, indexDir: String, countsDir: String): Long = {
    val idx = readOrEmpty(spark, indexDir, "window_day DATE, user_id BIGINT")
    // an eager localCheckpoint: the plan reads the index path this
    // batch is about to append to (StreamingNearDup pitfall — a cached
    // plan over a written path recomputes against the NEW files)
    val novel = contributions(batch)
      .join(idx, Seq("window_day", "user_id"), "left_anti")
      .localCheckpoint(true)
    val n = novel.count()
    if (n > 0) graft.ops.LocalFs.write(novel).mode("append").parquet(indexDir)

    // counts are DERIVED state: recompute from the index and swap —
    // self-healing after any crash between append and publish
    ParquetState.republish(spark, countsDir)(Some(
      readOrEmpty(spark, indexDir, "window_day DATE, user_id BIGINT")
        .groupBy(col("window_day"))
        .agg(count(lit(1)).as("n_active_users"))))
    n
  }

  /** Wire an event stream through the membership index; counts publish
    * to `countsDir` after every batch. */
  def start(spark: SparkSession, events: DataFrame, indexDir: String, countsDir: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, indexDir, countsDir)
        ()
      }
      .start()
}
