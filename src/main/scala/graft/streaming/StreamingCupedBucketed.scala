package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BUCKETED-LAYOUT streaming CUPED state — [[StreamingCuped]]'s
  * (type, user, arm) covariate cells under the shared
  * [[BucketedState]] protocol: the second client, proving the
  * bucketed layout is a reusable component rather than an uplift
  * one-off. Buckets key on `user_id mod B` (a user's cells across
  * event types co-locate, so a batch touching one user rewrites one
  * bucket); per-batch publish cost is O(touched buckets' state), not
  * O(users). Crash atomicity, replay idempotence and the marker
  * discipline are the protocol's — see [[BucketedState]].
  *
  * Cells and report are the literally shared batch-q250 code
  * ([[graft.queries.EventAnalytics.cupedCells]] /
  * [[graft.queries.EventAnalytics.cupedFinalize]]), so the q250
  * DuckDB oracle transitively gates this layout too.
  */
object StreamingCupedBucketed {

  /** Must stay FIXED for a given state dir (re-sharding a live state
    * is q265's migration manifest). */
  val Buckets = 64L

  private val StateDdl =
    "kind STRING, event_type STRING, user_id BIGINT, treat BOOLEAN, " +
      "x BIGINT, y BIGINT, batch_id BIGINT"

  private def withBkt(cells: DataFrame): DataFrame =
    cells.withColumn("bkt", pmod(col("user_id"), lit(Buckets)))

  /** The additive (x, y) cents merge — the StreamingCuped contract. */
  private val keys = Seq("event_type", "user_id", "treat")
  private val aggs = Seq(sum(col("x")).as("x"), sum(col("y")).as("y"))

  /** The maintained covariate cells (all buckets). */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    BucketedState.cells(spark, stateDir, StateDdl)

  /** Fold one micro-batch into the bucketed state. Returns false
    * (state untouched) when `batchId` was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    BucketedState.processBatch(spark, stateDir, StateDdl, Buckets, batchId,
      withBkt(graft.queries.EventAnalytics.cupedCells(batch)), keys, aggs)

  /** Stage without publishing — spec hook (see
    * [[BucketedState.stageBatch]]). */
  private[graft] def stageBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    BucketedState.stageBatch(spark, stateDir, StateDdl, Buckets, batchId,
      withBkt(graft.queries.EventAnalytics.cupedCells(batch)), keys, aggs)

  /** The CUPED report over the accumulated stream — batch q250's
    * columns, computed by the SHARED finalizer. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.cupedFinalize(cells(spark, stateDir))
}
