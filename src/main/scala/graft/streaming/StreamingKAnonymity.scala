package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous privacy monitoring — the streaming twin of batch q173:
  * as rows arrive, does any quasi-identifier equivalence class fall
  * below the release policy's k, and how much of the table is exposed?
  * The gate a pipeline consults BEFORE each incremental export, instead
  * of re-scanning the accumulated table per release.
  *
  * q173 decomposes on the StreamingFdMonitor/StreamingAnomaly
  * contract: a ONE-PASS re-aggregatable rollup over raw rows — the
  * per-QI-class counts, which merge by `+` under any chunking — and a
  * finalizer over the tiny class relation (the threshold sums +
  * unpivot). The stream maintains the classes incrementally
  * (foreachBatch) and re-runs the EXACT batch finalizer
  * ([[graft.queries.Profiling.kanonFromSizes]], shared verbatim), so
  * the q173 DuckDB oracle transitively verifies the streaming risk
  * math and StreamingKAnonymitySpec pins chunked-fold ≡ batch
  * BIT-EQUALITY (class counts are exact — nothing approximate here).
  *
  * The QI identity is carried as string-cast columns (fixed state
  * schema for any monitored tuple); the cast is injective for the
  * integral/categorical QI columns this gate monitors, so class
  * partitioning — and therefore every count the finalizer reads — is
  * identical to the typed batch grouping.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  *
  * Per-batch cost: O(batch) map-combined class partials + a keyed
  * merge over the |QI domain|-row state — at 100 TB/day the state is
  * bounded by the QI domain product (q173's scale contract), never by
  * rows seen.
  */
object StreamingKAnonymity {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (q1, q2, q3, cnt) QI classes; kind='b' → markers. */
  private val StateDdl =
    "kind STRING, q1 STRING, q2 STRING, q3 STRING, cnt BIGINT, batch_id BIGINT"

  /** Collapse a raw micro-batch to QI class partials — the only pass
    * over batch rows (map-side combined). `qi` names the monitored
    * 3-column quasi-identifier tuple. */
  private[graft] def classPartials(batch: DataFrame, qi: Seq[String]): DataFrame = {
    require(qi.length == 3, s"3-column QI tuple expected, got $qi")
    batch
      .groupBy(col(qi(0)).cast("string").as("q1"),
        col(qi(1)).cast("string").as("q2"),
        col(qi(2)).cast("string").as("q3"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The maintained QI class counts. */
  def classes(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")

  /** Fold one micro-batch into the class state at `stateDir`. Returns
    * false (state untouched) when `batchId` was already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, qi: Seq[String]): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(classPartials(batch, qi))
        .groupBy(col("q1"), col("q2"), col("q3"))
        .agg(sum(col("cnt")).as("cnt"))
        .withColumn("kind", lit("c"))
    }

  /** The current per-threshold risk report — the EXACT batch finalizer
    * over the maintained classes (shared verbatim with q173). */
  def report(spark: SparkSession, stateDir: String): DataFrame =
    graft.queries.Profiling.kanonFromSizes(
      classes(spark, stateDir).withColumnRenamed("cnt", "cls"))
}
