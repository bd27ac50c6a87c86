package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous telemetry double-fire monitoring — the streaming twin of
  * batch q195: as events arrive, which types are accumulating
  * sub-second same-user repeats (client retries / double clicks /
  * redelivery), WITHOUT ever re-scanning the accumulated stream?
  *
  * Decomposition: the maintained state is the per-(type, user) tally
  * (first_us, last_us, n, r). Unlike the purely additive
  * class/cell counts of [[StreamingKAnonymity]]/[[StreamingLDiversity]],
  * repeats are a SEQUENTIAL property — so the state carries the two
  * boundary timestamps and the fold handles the batch seam explicitly:
  * a new batch contributes its internal repeats (one lag window over
  * batch rows, the exact q195 predicate) PLUS one seam repeat when its
  * first event lands within the window of the state's last. This is
  * EXACT under the stream's append contract — each micro-batch's
  * events follow the previous batch's in event time per key (the
  * StreamingIngest/sessionization time-order contract; chunk-order
  * independence is deliberately NOT claimed, unlike the additive
  * monitors). The report re-runs the EXACT batch finalizer
  * ([[graft.queries.EventAnalytics.doubleFireFromTallies]], shared
  * verbatim), so the q195 DuckDB oracle transitively verifies the
  * streaming math, and StreamingDoubleFireSpec pins time-split
  * chunked-fold ≡ batch BIT-EQUALITY.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch) window + map-combined partials, then a
  * keyed merge over the |types × active users|-row state.
  */
object StreamingDoubleFire {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap: kind='t' →
    * (event_type, user_id, first_us, last_us, n, r) tallies;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, event_type STRING, user_id BIGINT, first_us BIGINT, " +
      "last_us BIGINT, n BIGINT, r BIGINT, batch_id BIGINT"

  private val W = graft.queries.EventAnalytics.RepeatWindowUs

  /** Collapse a raw micro-batch to per-(type, user) tallies — the only
    * pass over batch rows (one lag window, q195's exact predicate). */
  private[graft] def tallyPartials(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    batch
      .select(col("user_id"), col("event_type"),
        // NTZ-tolerant (raw parquet scans): same normalization as
        // Tables.events, session timezone fixed to UTC
        col("ts").cast("timestamp").as("ts"), col("event_id"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("rpt",
        when(col("prev_us").isNotNull && col("us") - col("prev_us") < W, 1L)
          .otherwise(0L))
      .groupBy("event_type", "user_id")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"),
        count(lit(1)).as("n"), sum(col("rpt")).as("r"))
  }

  /** The maintained per-(type, user) tallies. */
  def tallies(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "t")

  /** Fold one micro-batch into the tally state at `stateDir`. Returns
    * false (state untouched) when `batchId` was already applied.
    * Contract: the batch's events follow the state's in event time
    * per (type, user) — the append-stream time-order contract. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      val prev = ofKind(st, "t")
        .select(col("event_type"), col("user_id"),
          col("first_us").as("p_first"), col("last_us").as("p_last"),
          col("n").as("p_n"), col("r").as("p_r"))
      // seam: the batch's first event is a repeat of the state's last
      tallyPartials(batch)
        .join(prev, Seq("event_type", "user_id"), "full_outer")
        .select(lit("t").as("kind"), col("event_type"), col("user_id"),
          coalesce(col("p_first"), col("first_us")).as("first_us"),
          coalesce(col("last_us"), col("p_last")).as("last_us"),
          (coalesce(col("p_n"), lit(0L)) + coalesce(col("n"), lit(0L))).as("n"),
          (coalesce(col("p_r"), lit(0L)) + coalesce(col("r"), lit(0L)) +
            when(col("p_last").isNotNull && col("first_us").isNotNull &&
              col("first_us") - col("p_last") < W, 1L).otherwise(0L)).as("r"))
    }

  /** The current per-type double-fire report — the EXACT batch
    * finalizer over the maintained tallies (shared verbatim with
    * q195). */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.doubleFireFromTallies(
      tallies(spark, stateDir))
}
