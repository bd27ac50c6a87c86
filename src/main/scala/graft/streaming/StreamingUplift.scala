package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous uplift/Qini deciles — the streaming twin of batch q255:
  * the targeting table ("which score deciles does the treatment
  * actually help, and how steep is the Qini curve so far") refreshed
  * after every micro-batch without rescanning history — the campaign
  * monitor read WHILE the campaign runs, not after.
  *
  * Why it streams: the per-(user, arm) state is (pre-period score,
  * converted flag) — the score is a cents SUM (additive by `+` under
  * any chunking) and the flag an idempotent `max`, so a user whose
  * spend and conversion arrive in different batches folds to exactly
  * the cell the single batch would produce (the seam case the spec
  * pins). Cells are built with EXACTLY batch q255's code
  * ([[graft.queries.EventAnalytics.upliftCells]], shared verbatim)
  * and the report is the literally shared
  * [[graft.queries.EventAnalytics.upliftFinalize]] — the
  * DISTRIBUTED rank (score-cell prefix + uid-bucket prefix + bounded
  * row_number + closed-form ntile), so the q255 DuckDB oracle
  * transitively verifies the streaming decile table, and the report
  * path inherits the same no-single-task-sort scale property the
  * batch plan is pinned to.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch rows) map-combined cell partials + a keyed
  * merge over the user-sized state (the StreamingRollingMau
  * membership-index scale).
  */
object StreamingUplift {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (user_id, treat, score, conv) uplift cells;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, user_id BIGINT, treat BOOLEAN, score BIGINT, " +
      "conv BIGINT, batch_id BIGINT"

  /** The maintained uplift cells. */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")

  /** Fold one micro-batch of events into the state at `stateDir`.
    * Returns false (state untouched) when `batchId` was already
    * applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(graft.queries.EventAnalytics.upliftCells(batch))
        .groupBy("user_id", "treat")
        .agg(sum(col("score")).as("score"), max(col("conv")).as("conv"))
        .withColumn("kind", lit("c"))
    }

  /** The uplift-decile/Qini report over the accumulated stream —
    * batch q255's columns, computed by the SHARED finalizer. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.upliftFinalize(cells(spark, stateDir))
}
