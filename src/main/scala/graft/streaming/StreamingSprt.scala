package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous SPRT — the streaming twin of batch q238, and the form
  * Wald's test is actually MEANT to run in: the whole point of a
  * sequential test is deciding online, observation by observation,
  * and this monitor maintains exactly that walk as micro-batches
  * arrive — per variant the observation count, the cumulative
  * log-likelihood, and the FIRST threshold crossing, never re-scanning
  * the accumulated stream.
  *
  * Decomposition: like [[StreamingDoubleFire]], a crossing is a
  * SEQUENTIAL property, so the state carries the walk offset and the
  * fold handles the batch seam explicitly — a new batch's internal
  * prefix sums ride on the state's cumulative offset, and the first
  * in-batch crossing (if the variant is still undecided) lands at
  * state.n_obs + in-batch rank. EXACT under the stream's append
  * contract (each micro-batch's events follow the previous batch's in
  * event time — chunk-order independence is deliberately NOT claimed).
  * Steps and thresholds are batch q238's baked e6 literals verbatim
  * ([[graft.queries.EventAnalytics.SprtStepHit]] etc.), so the q238
  * oracle transitively verifies the streaming math, and
  * StreamingSprtSpec pins time-split chunked-fold ≡ batch equality.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch) ordered window per variant + a 2-row
  * keyed merge.
  */
object StreamingSprt {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap: kind='v' →
    * (variant, n_obs, n_conversions, cum, n_to_decision,
    * cum_at_decision); kind='b' → markers. */
  private val StateDdl =
    "kind STRING, variant BIGINT, n_obs BIGINT, n_conversions BIGINT, " +
      "cum BIGINT, n_to_decision BIGINT, cum_at_decision BIGINT, batch_id BIGINT"

  private val Hit = graft.queries.EventAnalytics.SprtStepHit
  private val Miss = graft.queries.EventAnalytics.SprtStepMiss
  private val Thr = graft.queries.EventAnalytics.SprtThreshold

  /** The maintained per-variant walk state. */
  def state(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "v")

  /** Fold one micro-batch of events (the NEXT time slice — the
    * sequential append contract) into the walk at `stateDir`. Returns
    * false (state untouched) when `batchId` was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      val prev = ofKind(st, "v")
      val w = Window.partitionBy("variant").orderBy("ts", "event_id")
      val walk = batch
        .select((col("user_id") % 2).as("variant"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", lit(Hit))
            .otherwise(lit(Miss)).as("step"),
          (col("event_type") === "purchase").cast("long").as("hit"))
        .withColumn("bcum", sum(col("step")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("brn", row_number().over(w).cast("long"))
      // ride the batch walk on the state's offset; first in-batch
      // crossing only counts while the variant is still undecided
      val offset = walk
        .join(prev.select(col("variant"), col("n_obs").as("p_n"),
          col("cum").as("p_cum"), col("n_to_decision").as("p_dec")),
          Seq("variant"), "left")
        .withColumn("acum", coalesce(col("p_cum"), lit(0L)) + col("bcum"))
      val crossing = offset
        .filter(col("p_dec").isNull &&
          (col("acum") >= Thr || col("acum") <= -Thr))
        .groupBy("variant")
        .agg(min(struct(col("brn"), col("acum"), col("p_n"))).as("x"))
        .select(col("variant"),
          (coalesce(col("x.p_n"), lit(0L)) + col("x.brn")).as("b_dec"),
          col("x.acum").as("b_dec_cum"))
      val batchAgg = offset.groupBy("variant")
        .agg(count(lit(1)).as("b_obs"), sum(col("hit")).as("b_conv"),
          sum(col("step")).as("b_sum"))
        .join(crossing, Seq("variant"), "left")
      prev
        .join(batchAgg, Seq("variant"), "outer")
        .select(col("variant"),
          (coalesce(col("n_obs"), lit(0L)) + coalesce(col("b_obs"), lit(0L)))
            .as("n_obs"),
          (coalesce(col("n_conversions"), lit(0L)) + coalesce(col("b_conv"), lit(0L)))
            .as("n_conversions"),
          (coalesce(col("cum"), lit(0L)) + coalesce(col("b_sum"), lit(0L)))
            .as("cum"),
          coalesce(col("n_to_decision"), col("b_dec")).as("n_to_decision"),
          coalesce(col("cum_at_decision"), col("b_dec_cum")).as("cum_at_decision"))
        .withColumn("kind", lit("v"))
    }

  /** The q238-shaped readout over the maintained state. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    state(spark, stateDir)
      .select(col("variant"), col("n_obs"), col("n_conversions"),
        expr(s"""CASE WHEN n_to_decision IS NULL THEN 'undecided'
                |     WHEN cum_at_decision >= ${Thr}L THEN 'accept_h1'
                |     ELSE 'accept_h0' END""".stripMargin).as("decision"),
        col("n_to_decision"), col("cum").as("llr_final_e6"))
}
