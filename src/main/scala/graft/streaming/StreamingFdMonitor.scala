package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous data-quality FD monitoring — the streaming twin of batch
  * q167: does column X still determine column Y as data arrives, and
  * how far off (g3)?
  *
  * q167 decomposes exactly like the other streaming-twinned batch
  * queries (StreamingAnomaly's contract): a ONE-PASS re-aggregatable
  * rollup over raw rows — the (l, r, cnt) FD cell counts, which merge
  * by `+` — and a finalizer over the tiny cell relation (the g3 walk).
  * The stream maintains the cells incrementally (foreachBatch) and
  * re-runs the EXACT batch finalizer
  * ([[graft.queries.Profiling.fdFromCells]], shared verbatim) on
  * demand, so the q167 DuckDB oracle transitively verifies the
  * streaming g3 math and StreamingFdMonitorSpec can pin chunked-fold ≡
  * batch BIT-EQUALITY (unlike the heavy-hitter twin, nothing here is
  * approximate: cell counts are exact under any chunking).
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  *
  * Per-batch cost: O(batch) for the map-combined cell partials + a
  * keyed merge over |distinct (l, r)| state rows — value combinations,
  * not rows. At 100 TB/day a monitored FD's cell relation is bounded
  * by its value-pair cardinality; an unbounded-cardinality LHS (a key
  * column) makes the monitor a uniqueness tracker whose state is the
  * key dictionary — declare and bucket accordingly, same contract the
  * batch q167 documents.
  */
object StreamingFdMonitor {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (l, r, cnt) cells; kind='b' → applied-batch markers. */
  private val StateDdl = "kind STRING, l STRING, r STRING, cnt BIGINT, batch_id BIGINT"

  /** Collapse a raw micro-batch to FD cell partials — the only pass
    * over batch rows (map-side combined). `lhs`/`rhs` name the
    * monitored columns. */
  private[graft] def cellPartials(batch: DataFrame, lhs: String, rhs: String): DataFrame =
    batch
      .groupBy(col(lhs).cast("string").as("l"), col(rhs).cast("string").as("r"))
      .agg(count(lit(1)).as("cnt"))

  /** The maintained (l, r, cnt) cells. */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")

  /** Fold one micro-batch into the cell state at `stateDir`. Returns
    * false (state untouched) when `batchId` was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, lhs: String, rhs: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(cellPartials(batch, lhs, rhs))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("cnt")).as("cnt"))
        .withColumn("kind", lit("c"))
    }

  /** The current g3 report — the EXACT batch finalizer over the
    * maintained cells (shared verbatim with q167). */
  def report(spark: SparkSession, stateDir: String, name: String): DataFrame =
    graft.queries.Profiling.fdFromCells(cells(spark, stateDir), name)
}
