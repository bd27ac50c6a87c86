package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous HyperLogLog — the cardinality question's streaming form,
  * the last sketch in the family to get a twin (Misra–Gries →
  * [[StreamingHeavyHitters]], count-min → [[StreamingCountMin]], Bloom
  * → [[StreamingBloom]]): as events arrive, maintain q129's m = 16
  * registers and answer "how many distinct users so far" at any
  * moment from 16 longs — never re-scanning history. q233 is the
  * batch proof of the same property over days; this is the per-batch
  * form.
  *
  * Same decomposition contract as the other monitors: the maintained
  * state is the REGISTERS, which merge by MAX under ANY chunking
  * (HLL's defining mergeable property), built with EXACTLY batch
  * q129's bucket/rho decomposition ([[registerPartials]] mirrors
  * `Profiling.q129HllDistinct`'s md5 hash, 4-bit bucket, 44-bit rank)
  * — so the folded registers are bit-equal to the batch registers
  * over the same rows and the estimate is q129's integer harmonic
  * fold verbatim. StreamingHllSpec pins chunked-fold ≡ batch
  * BIT-EQUALITY plus the estimate identity.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch rows) map-combined partials + a ≤16-row
  * max merge.
  */
object StreamingHll {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='r' → (bucket, r) registers; kind='b' → markers. */
  private val StateDdl = "kind STRING, bucket BIGINT, r BIGINT, batch_id BIGINT"

  /** ⌊0.673 · 16² · 2^45⌋ — q129's integer alpha numerator. */
  private val AlphaNumerator = 673L * 256L * (1L << 45) / 1000L

  /** The maintained registers. */
  def registers(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "r")

  /** Per-batch register partials: q129's registers with no keys. */
  private[graft] def registerPartials(batch: DataFrame): DataFrame =
    graft.queries.Profiling.hllRegisters(batch)

  /** Fold one micro-batch of events into the registers at `stateDir`.
    * Returns false (state untouched) when `batchId` was already
    * applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "r")
        .unionByName(registerPartials(batch))
        .groupBy("bucket").agg(max(col("r")).as("r"))
        .withColumn("kind", lit("r"))
    }

  /** The distinct-users-so-far estimate: q129's exact-integer harmonic
    * fold over the current registers (absent buckets contribute 2^45
    * each). Empty state estimates the all-absent fold, not an error. */
  def estimate(spark: SparkSession, stateDir: String): Long = {
    val agg = registers(spark, stateDir)
      .agg(sum(expr("shiftleft(1L, cast(45 - r as int))")).as("s_present"),
        count(lit(1)).as("n_present"))
      .head()
    val sPresent = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val nPresent = agg.getLong(1)
    val s45 = sPresent + (16L - nPresent) * (1L << 45)
    AlphaNumerator / s45
  }
}
