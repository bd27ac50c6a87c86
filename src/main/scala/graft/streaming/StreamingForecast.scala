package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous forecasting — ONE maintained relation serving the whole
  * batch forecast family after every micro-batch: q268's Holt
  * forecast, q269's Holt-Winters, q270/q271's rolling-origin
  * backtests, q272's conformal intervals, and q273's residual
  * anomaly flags, with no rescan of event history.
  *
  * Why it streams: the family's sufficient state is NOT the Holt
  * recursion (an ordered fold — not mergeable) but the (event_type,
  * day, cents) DAILY relation the fold consumes, and that relation is
  * purely ADDITIVE: same-day partial sums from different batches
  * merge by +, under any chunking and any event order. The state is
  * calendar-bounded (|types| × |days| rows — tiny forever), so every
  * batch republishes whole-state for the price of a bounded write,
  * and late-arriving events for an old day simply fold into that
  * day's cell — yesterday's forecast revises exactly as it should.
  *
  * Built with EXACTLY batch code: the cells are
  * [[graft.queries.EventAnalytics.forecastDaily]] partials and every
  * report is the literally shared finalizer, so the six q268–q273
  * DuckDB oracles transitively verify the streaming reports.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch rows) map-combined day partials + a keyed
  * sum over the calendar-bounded state.
  */
object StreamingForecast {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (event_type, day, y) daily cents cells;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, event_type STRING, day DATE, y BIGINT, batch_id BIGINT"

  /** The maintained daily relation — q268–q273's `forecastDaily`
    * shape, continuously folded. */
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
        .unionByName(graft.queries.EventAnalytics.forecastDaily(batch))
        .groupBy("event_type", "day")
        .agg(sum(col("y")).as("y"))
        .withColumn("kind", lit("c"))
    }

  /** q268's h = 1..7 Holt forecast over the accumulated stream — the
    * SHARED finalizer, batch columns. */
  def holtForecast(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.holtForecastFinalize(cells(spark, stateDir))

  /** q269's Holt-Winters seasonal forecast — SHARED finalizer. */
  def hwForecast(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.hwForecastFinalize(cells(spark, stateDir))

  /** q270's rolling-origin backtest — SHARED finalizer; as the stream
    * extends, yesterday's forecasts become scored origins. */
  def backtestReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.backtestFinalize(cells(spark, stateDir))

  /** q271's seasonal backtest — SHARED finalizer. */
  def seasonalBacktestReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics
      .seasonalBacktestFinalize(cells(spark, stateDir))

  /** q272's conformal intervals — SHARED finalizer: the error bars a
    * consumer should put around [[holtForecast]] RIGHT NOW, refreshed
    * as calibration origins accumulate. */
  def conformalReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.conformalFinalize(cells(spark, stateDir))

  /** q273's residual anomaly flags — SHARED finalizer: the monitoring
    * read after each batch. */
  def anomalyReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.anomalyFinalize(cells(spark, stateDir))
}
