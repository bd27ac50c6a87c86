package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous anomaly monitors — the streaming twins of batch q134
  * (CUSUM change-point) and q135 (seasonal hour-of-week baseline).
  *
  * Both batch queries decompose the same way: a ONE-PASS re-aggregatable
  * count rollup over raw events (per event_type × hour), then a
  * finalization over the tiny rollup (|types| × |hours| rows — the
  * CUSUM walk / slot medians). Only the rollup touches event volume,
  * and counts merge by `+` — associative and commutative — so the
  * streaming form maintains ONE hourly count state incrementally
  * (foreachBatch, the X47/MAU index discipline) and re-runs the exact
  * batch finalizers ([[graft.queries.EventAnalytics.cusumFromDaily]] /
  * `seasonalFromHourly`) over it on demand. The q134/q135 DuckDB
  * oracles therefore transitively verify the streaming finalizers;
  * StreamingAnomalySpec pins chunked-fold ≡ batch equality end-to-end.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  *
  * Per-batch cost: O(batch) for the partial rollup + a keyed merge
  * over the state (|types| × |active hours| rows — days, not events).
  * At 100 TB/day the state is still only ~types × 8,760 rows/year;
  * the merge shuffles state rows, never events, and the finalizers
  * run over the same tiny relation. Late events need no watermark:
  * they land in their true hour bucket whenever they arrive.
  */
object StreamingAnomaly {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (event_type, hour_ts, cnt) count rows;
    * kind='b' → applied-batch markers (batch_id). */
  private val StateDdl =
    "kind STRING, event_type STRING, hour_ts TIMESTAMP, cnt BIGINT, batch_id BIGINT"

  /** Collapse a raw micro-batch to per-(type, hour) count partials —
    * the only pass over batch rows (map-side combined). */
  private[graft] def hourlyPartials(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"))

  /** The maintained per-(event_type, hour) exact counts. */
  def hourlyCounts(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")

  /** Fold one micro-batch into the hourly count state at `stateDir`.
    * Returns false (and leaves the state untouched) when `batchId`
    * was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long, stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(hourlyPartials(batch))
        .groupBy(col("event_type"), col("hour_ts"))
        .agg(sum(col("cnt")).as("cnt"))
        .withColumn("kind", lit("c"))
    }

  /** q134 over the maintained state: CUSUM change-point per type.
    * Hour counts roll up to days first — `date_trunc(DAY, hour_ts)`
    * composes exactly with the per-hour bucketing, and count merge by
    * `+` makes the rollup identical to batch q134's raw daily count. */
  def changepoints(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.cusumFromDaily(
      hourlyCounts(spark, stateDir)
        .groupBy(col("event_type"), date_trunc("DAY", col("hour_ts")).as("day"))
        .agg(sum(col("cnt")).as("x")))

  /** q135 over the maintained state: hour-of-week seasonal flags. */
  def seasonal(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.seasonalFromHourly(hourlyCounts(spark, stateDir))

  /** Wire an event stream through the hourly count state; read the
    * current monitors any time via [[changepoints]]/[[seasonal]]. */
  def start(spark: SparkSession, events: DataFrame, stateDir: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, stateDir)
        ()
      }
      .start()
}
