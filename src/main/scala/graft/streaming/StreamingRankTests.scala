package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous rank statistics — the streaming twin of BOTH batch q246
  * (Mann–Whitney U) and batch q247 (Kolmogorov–Smirnov two-sample):
  * one maintained relation answers "has the parity split shifted the
  * value distribution's location (U/z) or its shape (D), given
  * everything so far" after every micro-batch.
  *
  * Why one state serves two tests: both walk the per-(type,
  * cents-value, arm) COUNT cells — and counts are the textbook
  * additive state, merging by `+` under any chunking of the event
  * stream (a value seen in two batches folds to one cell exactly).
  * The cells are built with EXACTLY batch code
  * ([[graft.queries.EventAnalytics.rankCells]], shared verbatim), so
  * the folded state is bit-equal to the single-batch cells and the
  * q246/q247 DuckDB oracles transitively verify the streaming
  * reports, which are the literally shared
  * [[graft.queries.EventAnalytics.rankSumFinalize]] /
  * [[graft.queries.EventAnalytics.ksFinalize]] code paths.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch rows) map-combined cell partials + a keyed
  * merge over the |types|·|value domain|-row state — bounded by the
  * cents-value domain, never by the stream.
  */
object StreamingRankTests {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (event_type, v, n0v, n1v) value cells;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, event_type STRING, v BIGINT, n0v BIGINT, n1v BIGINT, " +
      "batch_id BIGINT"

  /** The maintained value cells. */
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
        .unionByName(graft.queries.EventAnalytics.rankCells(batch))
        .groupBy("event_type", "v")
        .agg(sum(col("n0v")).as("n0v"), sum(col("n1v")).as("n1v"))
        .withColumn("kind", lit("c"))
    }

  /** The Mann–Whitney report over the accumulated stream — batch
    * q246's columns, computed by the SHARED finalizer. */
  def rankSumReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.rankSumFinalize(cells(spark, stateDir))

  /** The Kolmogorov–Smirnov report over the accumulated stream —
    * batch q247's columns, computed by the SHARED finalizer. */
  def ksReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.ksFinalize(cells(spark, stateDir))

  /** The winsorized-means report over the accumulated stream — batch
    * q261's columns, computed by the SHARED finalizer off the same
    * maintained cell relation: the exact p99 cap re-derives from the
    * cells each refresh, so the cap tracks the stream's own
    * distribution, no stale quantile. */
  def winsorReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.winsorFinalize(cells(spark, stateDir))

  /** The quantile-treatment-effects report over the accumulated
    * stream — batch q263's columns, computed by the SHARED finalizer
    * off the same maintained cell relation as the location test, the
    * shape test and the capped means: all four reports read one
    * additive state. */
  def qteReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.qteFinalize(cells(spark, stateDir))
}
