package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous Poisson-bootstrap intervals — the streaming twin of
  * batch q244, and the reason the POISSON bootstrap is the one that
  * scales: Chamandy et al. 2012 designed it for exactly this setting
  * (per-row independent weights ⇒ the replicate sums are additive
  * over any chunking), so "confidence intervals over the stream so
  * far" falls out of maintaining 2·B longs per group, where the
  * classic resample-n bootstrap would have to re-draw against the
  * full history every batch.
  *
  * Same decomposition contract as the other monitors: the maintained
  * state is the (priority, r, swx, sw) replicate cells plus the
  * (priority, n, sum) exact-leg partials — both merge by `+` — built
  * with EXACTLY batch q244's draws
  * ([[graft.queries.Analytics.bootCellPartials]] /
  * [[graft.queries.Analytics.bootExactPartials]], shared verbatim),
  * so the folded state is bit-equal to the batch partials over the
  * same rows and the q244 DuckDB oracle transitively verifies the
  * streaming intervals, whose rank/percentile tail is the literally
  * shared code path ([[graft.queries.Analytics.bootFinalize]]).
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch rows · B) map-combined partials + a keyed
  * merge over the |priorities|·(B+1)-row state — bounded by the
  * report geometry, never by the stream.
  */
object StreamingBootstrap {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, three row kinds, one atomic swap:
    * kind='c' → (priority, r, swx, sw) replicate cells;
    * kind='e' → (priority, n_orders, sum_e2) exact partials;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, priority STRING, r BIGINT, swx BIGINT, sw BIGINT, " +
      "n_orders BIGINT, sum_e2 BIGINT, batch_id BIGINT"

  /** The maintained replicate cells. */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c").select("priority", "r", "swx", "sw")

  /** The maintained exact-leg partials. */
  def exactRows(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "e").select("priority", "n_orders", "sum_e2")

  /** Fold one micro-batch of orders rows into the state at
    * `stateDir`. Returns false (state untouched) when `batchId` was
    * already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      val base = graft.queries.Analytics.bootBaseRows(batch)
      val mergedCells = ofKind(st, "c").select("priority", "r", "swx", "sw")
        .unionByName(graft.queries.Analytics.bootCellPartials(base))
        .groupBy("priority", "r")
        .agg(sum(col("swx")).as("swx"), sum(col("sw")).as("sw"))
        .withColumn("kind", lit("c"))
      val mergedExact = ofKind(st, "e").select("priority", "n_orders", "sum_e2")
        .unionByName(graft.queries.Analytics.bootExactPartials(base))
        .groupBy("priority")
        .agg(sum(col("n_orders")).as("n_orders"), sum(col("sum_e2")).as("sum_e2"))
        .withColumn("kind", lit("e"))
      mergedCells.unionByName(mergedExact, allowMissingColumns = true)
    }

  /** The interval report over the accumulated stream — batch q244's
    * columns, computed by the SHARED finalizer over the maintained
    * state. */
  def intervals(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.Analytics.bootFinalize(
      exactRows(spark, stateDir), cells(spark, stateDir))
}
