package graft.streaming

import graft.ops.LocalFs
import graft.queries.LlmPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Continuous NEAR-duplicate dedup: a MinHash-LSH index maintained
  * incrementally over a document stream — the dedup a continuous crawl
  * actually needs (StreamingCuration's content-hash anti-join only
  * catches EXACT duplicates).
  *
  * Per micro-batch (foreachBatch):
  *   1. MinHash signatures for the batch via the EXACT batch q21
  *      definitions (LlmPipeline.hashedShingles / minhashSignatures /
  *      bandSigArray — one code path, so the batch oracle transitively
  *      pins the streaming math);
  *   2. candidates = band-signature equi-join against the persisted
  *      index's bands PLUS in-batch band collisions — never an
  *      all-pairs join, same discipline as q21;
  *   3. exact verification: Jaccard ≥ 0.5 over the stored per-doc
  *      shingle-hash arrays (`array_intersect`, in-row);
  *   4. novel documents (no verified partner in the index, and not a
  *      duplicate of an earlier-id novel batch doc) are emitted; ALL
  *      batch docs' (bands, shingle-set) rows are appended to the
  *      index — indexing suppressed docs too keeps duplicate CHAINS
  *      suppressed (a future doc matching only a suppressed doc is
  *      still a duplicate), mirroring batch q21's pair graph.
  *
  * Semantics are FIRST-SEEN-WINS: the earliest-arriving member of a
  * duplicate group is the keeper. This equals batch q21's
  * earlier-doc_id-keeper rule whenever stream arrival order is
  * ascending doc_id (StreamingNearDupSpec's fixture and any id-ordered
  * replay); under out-of-order arrival the streaming keeper is the
  * first seen, which is the only causally consistent choice a stream
  * can make.
  *
  * Index layout (two parquet tables under `indexDir`):
  *   - `bands`: (doc_id, bsig) — the LSH buckets, 8 rows/doc;
  *   - `sigs`:  (doc_id, hs, n) — the shingle-hash set for exact
  *     verification.
  *
  * At scale: the per-batch work is |batch| signatures + a keyed join
  * on band signatures — batch cost grows with the batch and the number
  * of COLLIDING index docs, not with corpus size; the index is
  * append-only parquet (bucketable on bsig for a zero-exchange probe).
  * State lives in the index, not the state store, so the stream holds
  * no watermark state at all. foreachBatch may re-run a batch on
  * recovery: emissions are idempotent per doc_id (downstream readers
  * dedup on doc_id; index reads collapse duplicate rows via the
  * distinct in the probe, and the probe anti-joins out every
  * CURRENT-batch id from the index side, so a replayed batch never
  * matches its own previously indexed rows), the standard
  * exactly-once-by-key recipe.
  */
object StreamingNearDup {

  private val JaccardE6 = 500000L

  /** Jaccard-verified duplicate partners between `probe` (doc_id, hs, n)
    * and `against` (idx_id, hs_i, n_i) candidate pairs. */
  private def verified(cand: DataFrame): DataFrame =
    cand
      .select(col("doc_id"), col("idx_id"),
        size(array_intersect(col("hs"), col("hs_i"))).cast("long").as("ni"),
        col("n"), col("n_i"))
      .filter(round(lit(1e6) * col("ni").cast("double") /
        (col("n") + col("n_i") - col("ni")).cast("double"), 0).cast("long")
        >= JaccardE6)

  import ParquetState.readOrEmpty

  /** Process one batch of documents against the index at `indexDir`:
    * append the batch's novel docs to the index, write their ids to
    * `outDir`, return the novel count. No data row ever crosses the
    * driver — everything is distributed writes. Called by foreachBatch,
    * and directly testable. Documents too short to shingle (< 3
    * tokens) cannot near-duplicate anything; they are emitted as novel
    * but hold no index entry. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, indexDir: String, outDir: String): Long = {
    val sig = LlmPipeline.minhashSignatures(LlmPipeline.hashedShingles(batch))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bands = sig.select(col("doc_id"), explode(LlmPipeline.bandSigArray).as("bsig"))

      val idxBands = readOrEmpty(spark, s"$indexDir/bands", "doc_id BIGINT, bsig STRING")
      val idxSigs = readOrEmpty(spark, s"$indexDir/sigs",
        "doc_id BIGINT, hs ARRAY<BIGINT>, n BIGINT")

      // candidates vs the standing index. Index entries whose id is in
      // the CURRENT batch are excluded (anti-join): in-batch
      // relationships are candNew's earlier-id business, and after a
      // foreachBatch REPLAY (index write committed, output/checkpoint
      // not) the index already holds this batch's own rows — matching
      // against them would suppress the whole batch instead of
      // reproducing the first run's novel set (idempotent replay).
      val batchIds = sig.select(col("doc_id").as("idx_id"))
      val candIdx = bands
        .join(idxBands.select(col("doc_id").as("idx_id"), col("bsig")), "bsig")
        .join(batchIds, Seq("idx_id"), "left_anti")
        .select("doc_id", "idx_id").distinct()
        .join(sig.select(col("doc_id"), col("hs"), col("n")), "doc_id")
        .join(idxSigs.select(col("doc_id").as("idx_id"), col("hs").as("hs_i"),
          col("n").as("n_i")), "idx_id")
      // candidates within the batch: earlier doc_id is the keeper
      val candNew = bands.select(col("doc_id"), col("bsig"))
        .join(bands.select(col("doc_id").as("idx_id"), col("bsig")), "bsig")
        .filter(col("idx_id") < col("doc_id"))
        .select("doc_id", "idx_id").distinct()
        .join(sig.select(col("doc_id"), col("hs"), col("n")), "doc_id")
        .join(sig.select(col("doc_id").as("idx_id"), col("hs").as("hs_i"),
          col("n").as("n_i")), "idx_id")

      val dupIds = verified(candIdx).select("doc_id")
        .union(verified(candNew).select("doc_id")).distinct()

      // novel = every batch doc without a verified partner (including
      // sub-shingle-width docs, which have no sig row at all). An
      // eager localCheckpoint — NOT persist — because the plan reads
      // the index parquet paths we are about to append to: Spark's
      // recacheByPath invalidates and RECOMPUTES any cache whose plan
      // scans a written path, and the recomputation would re-read the
      // just-appended bands and classify every novel doc as a
      // duplicate of itself. Checkpointing truncates the lineage to
      // the materialized rows, so the subsequent index writes cannot
      // change the novel set mid-batch.
      val novelIds = batch.select(col("doc_id")).distinct()
        .join(dupIds, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // index EVERY batch doc (novel and suppressed): a future doc
      // whose only near-dup partner was itself suppressed must still
      // be caught — dropping suppressed sigs would break dup chains.
      // `sig` is persisted, so these writes read the cache, not the
      // index paths being appended.
      LocalFs.write(sig.select(col("doc_id"), explode(LlmPipeline.bandSigArray).as("bsig")))
        .mode("append").parquet(s"$indexDir/bands")
      LocalFs.write(sig.select(col("doc_id"), col("hs"), col("n")))
        .mode("append").parquet(s"$indexDir/sigs")
      LocalFs.write(novelIds).mode("append").parquet(outDir)
      novelIds.count()
    } finally sig.unpersist()
  }

  /** Wire a document stream through the index; novel doc ids append to
    * `outDir` as parquet. */
  def start(spark: SparkSession, docs: DataFrame, indexDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, indexDir, outDir)
        ()
      }
      .start()
}
