package graft.streaming

import graft.ops.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous heavy-hitter tracking — the streaming twin of batch q169.
  *
  * q169's batch form can afford a second exact pass over the corpus;
  * a stream cannot re-scan history, so the maintained state is the
  * MERGEABLE Misra–Gries summary (Agarwal et al., "Mergeable
  * Summaries"): per batch, fold the batch's exact token counts into
  * the ≤m-entry summary and, when it overflows, subtract the
  * (m+1)-th largest count from every entry and drop the non-positive
  * ones. That reduction preserves the MG contract under ANY batch
  * chunking:
  *
  *     true(t) − N/(m+1)  ≤  est(t)  ≤  true(t)
  *
  * with N the TOTAL tokens folded so far — so every token with true
  * count > N/(m+1) is guaranteed present, and a reader applying
  * threshold T keeps est ≥ T − N/(m+1) to get a candidate superset
  * with the same completeness guarantee as q169's phase 1. The
  * guarantee (not bit-equality with the batch query, which a
  * no-rescan stream cannot offer) is the spec-pinned contract:
  * StreamingHeavyHittersSpec folds chunked streams and MEASURES both
  * bounds against exact truth, plus same-chunking determinism.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  *
  * Per-batch cost: one exact aggregate over the batch (map-side
  * combined), a keyed merge against ≤m state rows, and — only on
  * overflow — one (m+1)-row TakeOrdered to find the subtrahend. State
  * is ≤ m+1 rows + markers at any corpus size.
  */
object StreamingHeavyHitters {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, three row kinds, one atomic swap:
    * kind='m' → (tok, cnt) summary entries; kind='n' → total tokens
    * folded; kind='b' → applied-batch markers. */
  private val StateDdl = "kind STRING, tok STRING, cnt BIGINT, batch_id BIGINT"

  /** Exact per-token counts of one micro-batch of `text` rows — the
    * only pass over batch volume. */
  private[graft] def batchCounts(batch: DataFrame): DataFrame =
    batch.select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))

  /** The maintained summary: (tok, est) plus the folded total. */
  def summary(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "m").select(col("tok"), col("cnt").as("est"))

  def totalTokens(spark: SparkSession, stateDir: String): Long =
    rows(spark, stateDir, StateDdl, "n")
      .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)

  /** Fold one micro-batch into the MG summary state at `stateDir`.
    * Returns false (state untouched) when `batchId` was already
    * applied. `m` is the summary capacity (q169's MgCapacity for the
    * twin relationship; any m ≥ 1 is sound — the error bound is
    * N/(m+1)). */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, m: Int): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      val bc = batchCounts(batch).localCheckpoint(true) // read twice below
      val merged = ofKind(st, "m")
        .unionByName(bc)
        .groupBy("tok").agg(sum(col("cnt")).as("cnt"))
        .localCheckpoint(true) // sized + subtracted below
      // mergeable-MG reduction: subtract the (m+1)-th largest count when
      // the merge overflows m entries; survivors are strictly greater
      // than the subtrahend, so at most m remain
      val nMerged = merged.count()
      val sub =
        if (nMerged <= m) 0L
        else merged.orderBy(col("cnt").desc, col("tok"))
          .limit(m + 1).collect().last.getLong(1) // m+1 rows, control plane
      // the folded token total: the old total plus the batch's tokens
      val total = ofKind(st, "n").select(col("cnt")).unionByName(bc.select(col("cnt")))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))
      merged
        .select(col("tok"), (col("cnt") - lit(sub)).as("cnt"))
        .filter(col("cnt") > 0L)
        .withColumn("kind", lit("m"))
        .unionByName(total.withColumn("kind", lit("n")), allowMissingColumns = true)
    }

  /** Candidate heavy hitters for threshold `thresh`: est ≥ thresh −
    * N/(m+1), the completeness-preserving read (every token with true
    * count ≥ thresh is included; a final exact pass — q169 phase 2 —
    * confirms, exactly as the batch operator does). */
  def candidates(
      spark: SparkSession, stateDir: String, m: Int, thresh: Long): DataFrame = {
    val slack = totalTokens(spark, stateDir) / (m + 1)
    summary(spark, stateDir).filter(col("est") >= thresh - slack)
  }
}
