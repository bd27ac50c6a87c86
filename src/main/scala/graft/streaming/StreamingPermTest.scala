package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous permutation test — the streaming twin of batch q245,
  * the resampling family's second streaming twin (the Poisson
  * bootstrap's is [[StreamingBootstrap]]): the sequential
  * A/B monitor that asks "is the parity split's mean difference
  * explainable by chance, given everything seen so far" after every
  * micro-batch, without re-drawing permutations over history.
  *
  * Why it streams at all: the relabeling is a pure (user, replicate)
  * bit, so a user's contribution to every permuted side is LINEAR in
  * their event aggregates — the (event_type, r) permuted sums and the
  * observed-leg partials both merge by `+` under any chunking of the
  * event stream. Both relations are built with EXACTLY batch q245's
  * code ([[graft.queries.EventAnalytics.permCellPartials]] /
  * [[graft.queries.EventAnalytics.permObsPartials]] over
  * [[graft.queries.EventAnalytics.permBaseCells]], shared verbatim),
  * so the folded state is bit-equal to the batch partials and the
  * q245 DuckDB oracle transitively verifies the streaming p-values,
  * whose rank/count tail is the literally shared
  * [[graft.queries.EventAnalytics.permFinalize]].
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch cells · B) map-combined partials + a keyed
  * merge over the |types|·(B+1)-row state — bounded by the report
  * geometry, never by the stream.
  */
object StreamingPermTest {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, three row kinds, one atomic swap:
    * kind='c' → (event_type, r, pn0, pn1, ps0, ps1) permuted cells;
    * kind='o' → (event_type, n0, n1, s0, s1) observed partials;
    * kind='b' → markers. */
  private val StateDdl =
    "kind STRING, event_type STRING, r BIGINT, pn0 BIGINT, pn1 BIGINT, " +
      "ps0 BIGINT, ps1 BIGINT, n0 BIGINT, n1 BIGINT, s0 BIGINT, " +
      "s1 BIGINT, batch_id BIGINT"

  /** The maintained permuted-side cells. */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")
      .select("event_type", "r", "pn0", "pn1", "ps0", "ps1")

  /** The maintained observed-leg partials. */
  def obsRows(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "o").select("event_type", "n0", "n1", "s0", "s1")

  /** Fold one micro-batch of events into the state at `stateDir`.
    * Returns false (state untouched) when `batchId` was already
    * applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      val base = graft.queries.EventAnalytics.permBaseCells(batch)
      val mergedCells = ofKind(st, "c")
        .select("event_type", "r", "pn0", "pn1", "ps0", "ps1")
        .unionByName(graft.queries.EventAnalytics.permCellPartials(base))
        .groupBy("event_type", "r")
        .agg(sum(col("pn0")).as("pn0"), sum(col("pn1")).as("pn1"),
          sum(col("ps0")).as("ps0"), sum(col("ps1")).as("ps1"))
        .withColumn("kind", lit("c"))
      val mergedObs = ofKind(st, "o")
        .select("event_type", "n0", "n1", "s0", "s1")
        .unionByName(graft.queries.EventAnalytics.permObsPartials(base))
        .groupBy("event_type")
        .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1"),
          sum(col("s0")).as("s0"), sum(col("s1")).as("s1"))
        .withColumn("kind", lit("o"))
      mergedCells.unionByName(mergedObs, allowMissingColumns = true)
    }

  /** The test report over the accumulated stream — batch q245's
    * columns, computed by the SHARED finalizer over the maintained
    * state. */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.EventAnalytics.permFinalize(
      obsRows(spark, stateDir), cells(spark, stateDir))
}
