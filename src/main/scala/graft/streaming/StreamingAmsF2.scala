package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous AMS tug-of-war sketch — the streaming twin of batch
  * q222, closing the sketch family's batch/stream symmetry (Bloom,
  * HLL, count-min, Misra–Gries and SPRT all have theirs): as
  * documents arrive, maintain the 16 tug-of-war counters
  * X_i = Σ_t f_t·s_i(t) and answer "how big is the self-join of the
  * token relation so far" at any moment — the incremental maintenance
  * that is the entire point of AMS (Alon–Matias–Szegedy 1996: the
  * sketch was built for one-pass streams; the batch query is the
  * special case).
  *
  * Same decomposition contract as the other monitors: the maintained
  * state is the 16 counters, which merge by `+` under ANY chunking
  * (signs are a pure function of the token, so
  * Σ_{A∪B} f_t·s_i(t) = Σ_A + Σ_B — the mergeable property), built
  * with EXACTLY batch q222's sign hashes
  * ([[graft.queries.Profiling.amsCounterPartials]], shared verbatim)
  * — so the folded state is bit-equal to the batch counters over the
  * same rows and the q222 DuckDB oracle transitively verifies the
  * streaming estimates, whose median-of-means arithmetic is also the
  * shared code path ([[graft.queries.Profiling.amsEstimate]]).
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch tokens) map-combined partials + a keyed
  * merge over the 16-row state — bounded by the sketch geometry,
  * never by the stream. At 100 TB/day each executor folds its
  * partition to 16 longs before the shuffle.
  */
object StreamingAmsF2 {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='x' → (i, x) counters; kind='b' → markers. */
  private val StateDdl =
    "kind STRING, i BIGINT, x BIGINT, batch_id BIGINT"

  /** The maintained tug-of-war counters. */
  def counters(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "x")

  /** Fold one micro-batch of documents into the sketch at `stateDir`.
    * Returns false (state untouched) when `batchId` was already
    * applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "x")
        .unionByName(graft.queries.Profiling.amsCounterPartials(
          graft.queries.Profiling.cmsTokens(batch)))
        .groupBy(col("i"))
        .agg(sum(col("x")).as("x"))
        .withColumn("kind", lit("x"))
    }

  /** The F2 estimate over the accumulated stream — batch q222's
    * median-of-4-means plus the estimator spread, computed by the
    * SHARED estimate tail over the maintained counters. One row:
    * (est_f2, est_min, est_max). */
  def estimateF2(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.Profiling.amsEstimate(counters(spark, stateDir))
}
