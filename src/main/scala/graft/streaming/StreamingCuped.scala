package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous CUPED — the streaming twin of batch q250: the
  * variance-reduced A/B readout ("what is the adjusted treatment
  * effect, and how much variance is the covariate still buying")
  * refreshed after every micro-batch without rescanning history.
  *
  * Why it streams: the per-(type, user, arm) covariate/outcome cells
  * are cents SUMS — a user's even-day X and odd-day Y accumulate by
  * `+` under any chunking of the event stream, so the folded state is
  * bit-equal to the single-batch cells. The cells are built with
  * EXACTLY batch q250's code
  * ([[graft.queries.EventAnalytics.cupedCells]], shared verbatim) and
  * the report is the literally shared
  * [[graft.queries.EventAnalytics.cupedFinalize]], so the q250 DuckDB
  * oracle transitively verifies the streaming θ / adjusted-diff / ρ²
  * columns.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch rows) map-combined cell partials + a keyed
  * merge over the (type, user)-sized state — the same
  * membership-index scale the StreamingRollingMau contract already
  * admits.
  */
object StreamingCuped {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (event_type, user_id, treat, x, y) covariate cells;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, event_type STRING, user_id BIGINT, treat BOOLEAN, " +
      "x BIGINT, y BIGINT, batch_id BIGINT"

  /** The maintained covariate cells. */
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
        .unionByName(graft.queries.EventAnalytics.cupedCells(batch))
        .groupBy("event_type", "user_id", "treat")
        .agg(sum(col("x")).as("x"), sum(col("y")).as("y"))
        .withColumn("kind", lit("c"))
    }

  /** The CUPED report over the accumulated stream — batch q250's
    * columns, computed by the SHARED finalizer. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.cupedFinalize(cells(spark, stateDir))
}
