package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous survival analysis — ONE maintained relation serving the
  * whole batch survival family after every micro-batch: q254's
  * Kaplan–Meier curve, q256's log-rank test, q257's RMST/median, and
  * q259's per-arm curve overlay, with no rescan of history.
  *
  * Why it streams: the per-(user, arm) state is (first-view,
  * first-purchase, last-seen) — MERGEABLE by min/min/max under any
  * chunking of the event stream (not additive, but idempotently
  * foldable: a user's view in one batch and purchase in another fold
  * to the same cell the single batch would produce — the seam case
  * the spec pins). The bounded triple is also WHY the family's
  * conversion rule is "earliest purchase overall is at-or-after first
  * view" rather than "first purchase at-or-after first view": the
  * latter needs the full purchase-day multiset under out-of-order
  * merges (a late-arriving earlier view can re-qualify a purchase the
  * state already discarded), the former folds exactly — see the q254
  * Units paragraph for the batch-side statement of the same rule. Built with EXACTLY batch code
  * ([[graft.queries.EventAnalytics.survivalCells]], shared verbatim);
  * the folded state is bit-equal to the single-batch cells, and all
  * three reports are the literally shared finalizers
  * ([[graft.queries.EventAnalytics.kmFinalize]] /
  * [[graft.queries.EventAnalytics.logRankFinalize]] /
  * [[graft.queries.EventAnalytics.rmstFinalize]]), so the q254/q256/
  * q257 DuckDB oracles transitively verify the streaming curve, test,
  * and integral.
  *
  * A subtlety the min/max merge handles for free: CENSORING IS
  * REVISED ONLINE. A user censored at their last-seen day in batch k
  * may convert in batch k+1 — the min(fp) fold turns yesterday's
  * censored row into today's event row, which is exactly how
  * observation-end censoring is supposed to behave as the window
  * extends.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch rows) map-combined cell partials + a keyed
  * min/max merge over the (user)-sized state (the StreamingRollingMau
  * membership-index scale).
  */
object StreamingSurvival {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (user_id, treat, fv, fp, le) survival cells;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, user_id BIGINT, treat BOOLEAN, fv BIGINT, fp BIGINT, " +
      "le BIGINT, batch_id BIGINT"

  /** The maintained survival cells. */
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
        .unionByName(graft.queries.EventAnalytics.survivalCells(batch))
        .groupBy("user_id", "treat")
        .agg(min(col("fv")).as("fv"), min(col("fp")).as("fp"),
          max(col("le")).as("le"))
        .withColumn("kind", lit("c"))
    }

  /** The KM curve over the accumulated stream — batch q254's columns,
    * by the SHARED finalizer. */
  def curve(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.kmFinalize(cells(spark, stateDir))

  /** The log-rank report over the accumulated stream — batch q256's
    * columns, by the SHARED finalizer. */
  def logRankReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.logRankFinalize(cells(spark, stateDir))

  /** The RMST/median report over the accumulated stream — batch
    * q257's columns, by the SHARED finalizers. */
  def rmstReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.rmstFinalize(curve(spark, stateDir))

  /** The per-arm KM overlay over the accumulated stream — batch
    * q259's columns, by the SHARED finalizer (the fourth report off
    * the one maintained cell relation). */
  def armCurves(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.kmFinalize(cells(spark, stateDir), byArm = true)

  /** The RMST treatment-effect report over the accumulated stream —
    * batch q260's columns, by the SHARED finalizer (fifth report; an
    * arm with users but no conversions yet reads tau, the q257
    * degenerate rule, so the effect is well-defined from the first
    * batch on). */
  def armRmstReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.rmstArmFinalize(cells(spark, stateDir))

  /** The Schoenfeld events-needed ladder over the accumulated stream
    * — batch q262's columns, by the SHARED finalizer (sixth report:
    * the "can we stop collecting" planning read refreshed as the
    * events actually arrive — exactly the question a sequential
    * survival experiment asks after every batch). */
  def schoenfeldReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.schoenfeldFinalize(cells(spark, stateDir))
}
