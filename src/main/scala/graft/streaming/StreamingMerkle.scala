package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous Merkle partition fingerprints — q164's streaming twin,
  * and the PROOF of its "incrementally maintainable" claim: because
  * the leaf fingerprint is an XOR of row digests, folding a batch is
  * `fp ⊕= bit_xor(batch digests)` per touched bucket — no rescan of
  * history, and the XOR group structure extends to RETRACTIONS (XOR a
  * deleted row's digest back out), which a sum-based checksum cannot
  * do without exact arithmetic inverses colliding with overflow.
  *
  * State: one parquet relation of (bucket, n_rows, fp) leaf rows plus
  * applied-batch marker rows, folded exactly-once by
  * [[ParquetState.fold]]. The root folds the ≤256 leaves at READ time
  * ([[fingerprints]]), so the published state stays a single flat
  * relation.
  *
  * Per-batch cost: O(batch) digesting (narrow, codegen'd md5) + a
  * 256-group map-combined aggregate + a ≤256-row state merge. At
  * 100 TB/day the state is still 256 rows; replica comparison ships
  * those rows, not the table. */
object StreamingMerkle {

  import ParquetState.{fold, ofKind, rows}

  private val StateDdl = "kind STRING, bucket BIGINT, n_rows BIGINT, fp BIGINT, batch_id BIGINT"

  /** Per-bucket digest partials of a raw orders batch — the q164 leaf
    * computation SHARED verbatim (`Profiling.merkleLeaves`), applied
    * to the batch alone. */
  private[graft] def leafPartials(batch: DataFrame): DataFrame =
    graft.queries.Profiling.merkleLeaves(batch)

  /** Fold one micro-batch of appended orders into the leaf state.
    * Returns false (state untouched) when `batchId` was already
    * applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long, stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      ofKind(st, "c")
        .unionByName(leafPartials(batch))
        .groupBy(col("bucket"))
        .agg(sum(col("n_rows")).as("n_rows"), expr("bit_xor(fp)").as("fp"))
        .withColumn("kind", lit("c"))
    }

  /** The q164-shaped output (leaves + root) from the maintained state. */
  def fingerprints(spark: SparkSession, stateDir: String): DataFrame = {
    val leaves = rows(spark, stateDir, StateDdl, "c")
    val root = leaves
      .agg(sum(col("n_rows")).as("n_rows"), expr("bit_xor(fp)").as("fp"))
      .select(lit(-1L).as("bucket"), col("n_rows"), col("fp"))
    leaves.unionByName(root)
      .withColumn("level", when(col("bucket") === -1L, lit(0L)).otherwise(lit(1L)))
  }

  def start(spark: SparkSession, orders: DataFrame, stateDir: String,
      checkpoint: String): StreamingQuery =
    orders.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, stateDir)
        ()
      }
      .start()
}
