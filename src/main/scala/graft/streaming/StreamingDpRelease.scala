package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous differentially-private release — the streaming twin of
  * batch q206, extending the privacy family's batch/stream symmetry
  * from its three AUDITS ([[StreamingKAnonymity]],
  * [[StreamingLDiversity]] and its t-closeness readout) to its
  * MECHANISM: as documents arrive, maintain the (source, lang)
  * doc-count histogram and publish it at any point under the same
  * hash-seeded two-sided geometric noise as the batch release.
  *
  * Same decomposition contract as the other privacy monitors: the
  * maintained state is the cell COUNTS, which merge by `+` under ANY
  * chunking, and the release re-runs the EXACT batch finalizer
  * ([[graft.queries.Profiling.dpReleaseFromCells]], shared verbatim).
  * Because the noise is a deterministic function of the CELL KEY
  * alone, a cell's noise never changes across publishes — repeated
  * releases of a growing stream leak nothing beyond the single-release
  * budget per count snapshot, and the q206 DuckDB oracle transitively
  * verifies the streaming math. StreamingDpReleaseSpec pins
  * chunked-fold ≡ batch BIT-EQUALITY.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch) map-combined cell partials + a keyed
  * merge over the |source × lang|-row state — bounded by the
  * attribute domains, never by documents seen.
  */
object StreamingDpRelease {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (source, lang, cnt) cells; kind='b' → markers. */
  private val StateDdl =
    "kind STRING, source STRING, lang STRING, cnt BIGINT, batch_id BIGINT"

  /** Collapse a raw micro-batch to (source, lang) cell partials — the
    * only pass over batch rows (map-side combined). */
  private[graft] def cellPartials(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("source").cast("string").as("source"),
        col("lang").cast("string").as("lang"))
      .agg(count(lit(1)).as("cnt"))

  /** The maintained (source, lang) cell counts. */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")

  /** Fold one micro-batch into the cell state at `stateDir`. Returns
    * false (state untouched) when `batchId` was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(cellPartials(batch))
        .groupBy(col("source"), col("lang"))
        .agg(sum(col("cnt")).as("cnt"))
        .withColumn("kind", lit("c"))
    }

  /** The current noised release — the EXACT batch mechanism over the
    * maintained cells (shared verbatim with q206). */
  def release(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.Profiling.dpReleaseFromCells(
      cells(spark, stateDir).withColumnRenamed("cnt", "n_docs"))
}
