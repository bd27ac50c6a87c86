package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous count-min sketch — the streaming twin of batch q215,
  * completing the sketch family's batch/stream symmetry (q169's
  * Misra–Gries has [[StreamingHeavyHitters]]; this gives the frequency
  * QUERY its continuous form): as documents arrive, maintain the
  * 4×1024 counter relation and answer point-frequency queries at any
  * moment — the classic use of CMS as the unbounded-stream frequency
  * oracle.
  *
  * Same decomposition contract as the other monitors: the maintained
  * state is the CELL counters, which merge by `+` under ANY chunking
  * (CMS's defining mergeable property), built with EXACTLY batch
  * q215's row hashes ([[graft.queries.Profiling.cmsCellPartials]],
  * shared verbatim) — so the folded state is bit-equal to the batch
  * sketch over the same rows and the q215 DuckDB oracle transitively
  * verifies the streaming estimates. The one-sided guarantee survives
  * streaming unchanged: estimates never under-count the accumulated
  * stream. StreamingCountMinSpec pins chunked-fold ≡ batch
  * BIT-EQUALITY plus the guarantee.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch tokens) map-combined partials + a keyed
  * merge over the ≤4096-row state — bounded by the sketch geometry,
  * never by the stream.
  */
object StreamingCountMin {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='c' → (r, c, n) counters; kind='b' → markers. */
  private val StateDdl =
    "kind STRING, r BIGINT, c BIGINT, n BIGINT, batch_id BIGINT"

  /** The maintained counter cells. */
  def cells(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "c")

  /** Fold one micro-batch of documents into the sketch at `stateDir`.
    * Returns false (state untouched) when `batchId` was already
    * applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(graft.queries.Profiling.cmsCellPartials(
          graft.queries.Profiling.cmsTokens(batch)))
        .groupBy(col("r"), col("c"))
        .agg(sum(col("n")).as("n"))
        .withColumn("kind", lit("c"))
    }

  /** Point-frequency estimates for a requested token list (control
    * plane — a query list, like q57's centroids): min over the token's
    * CmsRows counters, exactly batch q215's probe. Tokens none of
    * whose cells exist yet estimate 0. */
  def estimate(spark: SparkSession, stateDir: String,
      tokens: Seq[String]): DataFrame = {
    import spark.implicits._
    val probes = tokens.toDF("t")
      .select(col("t"),
        explode(graft.queries.Profiling.cmsRcArr(col("t"))).as("rc"))
    probes
      .join(broadcast(cells(spark, stateDir)),
        probes("rc.r") === col("r") && probes("rc.c") === col("c"), "left")
      .groupBy("t")
      .agg(min(coalesce(col("n"), lit(0L))).as("n_est"))
      .select(col("t").as("token"), col("n_est"))
  }
}
