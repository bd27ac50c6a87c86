package graft.streaming

import graft.ops.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous Bloom filter — the streaming twin of batch q221
  * (Misra–Gries has [[StreamingHeavyHitters]], count-min has
  * [[StreamingCountMin]], HLL has [[StreamingHll]]; this gives the
  * MEMBERSHIP question its continuous form): as documents arrive,
  * fold their distinct tokens'
  * bit coordinates into one ≤65536-row bit relation and answer
  * "might we have seen this token?" at any moment — the streaming
  * decontamination precheck in front of an exact q47-style join.
  *
  * Same decomposition contract as the other monitors: the maintained
  * state is the SET BITS, which merge by distinct-union under ANY
  * chunking (Bloom's OR — the mergeable property), built with EXACTLY
  * batch q221's bit hashes ([[graft.queries.Profiling.bloomBitArr]],
  * shared verbatim) — so the folded bitset is bit-equal to the batch
  * bitset over the same rows and the q221 DuckDB oracle transitively
  * verifies the streaming answers. The one-sided guarantee survives
  * streaming unchanged: a token inserted in ANY applied batch can
  * never miss. StreamingBloomSpec pins chunked-fold ≡ batch
  * BIT-EQUALITY plus the guarantee.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch tokens) map-combined bit partials + a
  * distinct over the ≤m-row state — bounded by the filter geometry,
  * never by the stream.
  */
object StreamingBloom {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='s' → (bit) set bits; kind='b' → markers. */
  private val StateDdl = "kind STRING, bit BIGINT, batch_id BIGINT"

  /** The maintained set-bit relation. */
  def bits(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "s")

  /** Fold one micro-batch of documents into the filter at `stateDir`.
    * Returns false (state untouched) when `batchId` was already
    * applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      val newBits = batch
        .select(explode(tokens(col("text"))).as("t"))
        .distinct()
        .select(explode(graft.queries.Profiling.bloomBitArr(col("t"))).as("bit"))
      ofKind(st, "s")
        .unionByName(newBits)
        .distinct()
        .withColumn("kind", lit("s"))
    }

  /** Membership answers for a requested token list (control plane —
    * a probe list, like StreamingCountMin.estimate): hit ⟺ all k bit
    * coordinates present, exactly batch q221's probe. Never-inserted
    * tokens may false-positive (the Bloom contract) but an inserted
    * token always hits. */
  def mightContain(spark: SparkSession, stateDir: String,
      tokens: Seq[String]): DataFrame = {
    import spark.implicits._
    val probes = tokens.toDF("t")
      .select(col("t"),
        explode(graft.queries.Profiling.bloomBitArr(col("t"))).as("bit"))
    probes
      .join(broadcast(bits(spark, stateDir).withColumn("present", lit(1L))),
        Seq("bit"), "left")
      .groupBy("t")
      // k comes from the SAME constant that generated the bit
      // coordinates (Profiling.BloomHashes) — a hardcoded literal here
      // could drift from bloomBitArr's k and silently turn every probe
      // into a miss, voiding the no-false-negative guarantee
      .agg((sum(coalesce(col("present"), lit(0L)))
        === lit(graft.queries.Profiling.BloomHashes.toLong)).as("hit"))
      .select(col("t").as("token"), col("hit"))
  }
}
