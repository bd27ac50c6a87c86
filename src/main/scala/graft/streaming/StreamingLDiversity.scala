package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous l-diversity monitoring — the streaming twin of batch
  * q188, completing the privacy family's batch/stream symmetry next to
  * [[StreamingKAnonymity]] (q173's twin): as rows arrive, does any
  * quasi-identifier class hold fewer than l distinct sensitive values
  * (the homogeneity attack k-anonymity misses), and how much of the
  * table is exposed at each policy l?
  *
  * Same decomposition contract as the k-anonymity monitor, one level
  * finer: the maintained state is the (QI, sensitive) CELL counts —
  * which merge by `+` under ANY chunking, exactly like QI class counts
  * — and the report re-runs the EXACT batch finalizer
  * ([[graft.queries.Profiling.ldivFromCells]], shared verbatim): cells
  * → per-class (rows, distinct sensitive values) → per-threshold risk.
  * Distinct-counting never touches the stream: `div` is the CELL count
  * per class, exact because cells are exact — the same Expand-free
  * two-level discipline as batch q188. The q188 DuckDB oracle
  * therefore transitively verifies the streaming risk math, and
  * StreamingLDiversitySpec pins chunked-fold ≡ batch BIT-EQUALITY.
  *
  * QI + sensitive identities ride as string-cast columns (fixed state
  * schema for any monitored tuple; injective for the
  * integral/categorical columns this gate monitors). Exactly-once
  * under at-least-once delivery: [[ParquetState.fold]].
  *
  * Per-batch cost: O(batch) map-combined cell partials + a keyed merge
  * over the |QI domain × sensitive domain|-row state — bounded by the
  * attribute domains (q188's scale contract), never by rows seen.
  */
object StreamingLDiversity {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (q1, q2, sens, cnt) cells; kind='b' → markers. */
  private val StateDdl =
    "kind STRING, q1 STRING, q2 STRING, sens STRING, cnt BIGINT, batch_id BIGINT"

  /** Collapse a raw micro-batch to (QI, sensitive) cell partials — the
    * only pass over batch rows (map-side combined). `qi` names the
    * 2-column quasi-identifier tuple, `sens` the sensitive column. */
  private[graft] def cellPartials(
      batch: DataFrame, qi: Seq[String], sens: String): DataFrame = {
    require(qi.length == 2, s"2-column QI tuple expected, got $qi")
    batch
      .groupBy(col(qi(0)).cast("string").as("q1"),
        col(qi(1)).cast("string").as("q2"),
        col(sens).cast("string").as("sens"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The maintained (QI, sensitive) cell counts. */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")

  /** Fold one micro-batch into the cell state at `stateDir`. Returns
    * false (state untouched) when `batchId` was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, qi: Seq[String], sens: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(cellPartials(batch, qi, sens))
        .groupBy(col("q1"), col("q2"), col("sens"))
        .agg(sum(col("cnt")).as("cnt"))
        .withColumn("kind", lit("c"))
    }

  /** The current per-threshold diversity report — the EXACT batch
    * finalizer over the maintained cells (shared verbatim with q188). */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.Profiling.ldivFromCells(
      cells(spark, stateDir).withColumnRenamed("cnt", "cell"))

  /** The current per-threshold CLOSENESS report — batch q199's
    * finalizer over the SAME maintained cells (shared verbatim). The
    * (QI, sensitive) cell state already carries everything t-closeness
    * needs — the global sensitive distribution is a window over the
    * cells — so the whole privacy trilogy (k-anonymity risk via class
    * sizes, l-diversity via cell counts, t-closeness via cell skew)
    * reads off ONE maintained relation, and the q199 DuckDB oracle
    * transitively verifies this report's math. */
  def tclosenessReport(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.Profiling.tcloseFromCells(
      cells(spark, stateDir).withColumnRenamed("cnt", "cell"))
}
