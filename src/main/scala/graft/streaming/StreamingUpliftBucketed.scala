package graft.streaming

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BUCKETED-LAYOUT streaming uplift state — [[StreamingUplift]]'s
  * cells under the [[BucketedState]] protocol (SURVEY §6.5d's scale
  * path): the per-(user, arm) cells live in [[Buckets]] hash
  * partitions (`bkt = user_id mod B`) and a micro-batch rewrites ONLY
  * the buckets its users route to — per-batch publish cost is
  * O(touched buckets' state), not O(users), which is the difference
  * between a viable and a non-viable user-sized state at 100-TB event
  * volume (with B sized so one bucket fits an executor, the rewrite
  * is also embarrassingly parallel). q164's Merkle partitioning
  * applied to state, exactly as the contract row promised. Crash
  * atomicity, replay idempotence and the marker discipline are the
  * shared protocol's — see [[BucketedState]].
  *
  * The cells and the report are the literally shared batch-q255 code
  * ([[graft.queries.EventAnalytics.upliftCells]] /
  * [[graft.queries.EventAnalytics.upliftFinalize]]), so the q255
  * DuckDB oracle transitively gates this layout too, and the
  * finalizer caches nothing, so the mutable bucket reads are never
  * served stale.
  */
object StreamingUpliftBucketed {

  /** Bucket count. Sized here for test visibility; at production
    * scale B is the knob that makes one bucket's state fit an
    * executor (and bounds publish fan-out). Must stay FIXED for a
    * given state dir — re-sharding a live state is q265's migration
    * manifest, not a config flip. */
  val Buckets = 64L

  /** Data columns only — `bkt` is the partition directory, restored
    * on read via basePath. kind='c' → cells; kind='b' → markers. */
  private val StateDdl =
    "kind STRING, user_id BIGINT, treat BOOLEAN, score BIGINT, " +
      "conv BIGINT, batch_id BIGINT"

  private def withBkt(cells: DataFrame): DataFrame =
    cells.withColumn("bkt", pmod(col("user_id"), lit(Buckets)))

  /** The sum/max cell merge — MERGEABLE under any chunking (the
    * StreamingUplift contract). */
  private val keys = Seq("user_id", "treat")
  private val aggs = Seq(sum(col("score")).as("score"), max(col("conv")).as("conv"))

  /** The maintained uplift cells (all buckets). */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    BucketedState.cells(spark, stateDir, StateDdl)

  /** Fold one micro-batch into the bucketed state. Returns false
    * (state untouched) when `batchId` was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    BucketedState.processBatch(spark, stateDir, StateDdl, Buckets, batchId,
      withBkt(graft.queries.EventAnalytics.upliftCells(batch)), keys, aggs)

  /** Stage without publishing — spec hook for crash simulation on the
    * real code path (see [[BucketedState.stageBatch]]). */
  private[graft] def stageBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    BucketedState.stageBatch(spark, stateDir, StateDdl, Buckets, batchId,
      withBkt(graft.queries.EventAnalytics.upliftCells(batch)), keys, aggs)

  private[graft] def publishStaged(
      fs: FileSystem, stateDir: String, maxBuckets: Int): Unit =
    BucketedState.publishStaged(fs, stateDir, maxBuckets)

  /** The uplift-decile/Qini report — batch q255's columns, computed
    * by the SHARED finalizer over the bucketed cells. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.upliftFinalize(cells(spark, stateDir))
}
