package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous per-source KMV bottom-k sketches — the streaming twin
  * of batch q223, the last sketch on the board without one: as
  * documents arrive, maintain each source's k smallest distinct
  * 5-gram hashes and answer pairwise source-overlap (Jaccard)
  * questions at any moment — the feed-governance monitor ("is this
  * new feed a mirror of one we already ingest?") running continuously
  * instead of per-batch-rebuild.
  *
  * Same decomposition contract as the other monitors: the maintained
  * state is the ≤k-row-per-source hash set, and bottom-k of a union
  * equals bottom-k of the merged bottom-k's (Beyer et al. 2007 — the
  * KMV mergeable property; dedup before rank makes re-seen grams
  * no-ops), so the folded state is bit-equal to the batch sketch over
  * the same rows. Gram hashes are EXACTLY batch q223's
  * ([[graft.queries.Curation.sourceGramRows]], shared verbatim) and
  * the estimate arithmetic is the shared
  * [[graft.queries.Curation.kmvPairEstimate]] — so the q223 DuckDB
  * oracle transitively verifies the streaming overlap answers.
  *
  * Exactly-once under at-least-once delivery: [[ParquetState.fold]].
  * Per-batch cost: O(batch grams) map-combined distinct + a
  * per-source TopK over state∪batch (≤k rows per source survive) —
  * bounded by |sources|·k, never by the stream.
  */
object StreamingKmv {

  import ParquetState.{fold, ofKind, rows}

  /** One relation, two row kinds, one atomic swap:
    * kind='h' → (source, gh) sketch hashes; kind='b' → markers. */
  private val StateDdl =
    "kind STRING, source STRING, gh BIGINT, batch_id BIGINT"

  /** The maintained per-source bottom-k sketches. */
  def sketches(spark: SparkSession, stateDir: String): DataFrame =
    rows(spark, stateDir, StateDdl, "h")

  /** Fold one micro-batch of documents into the sketches at
    * `stateDir`. Returns false (state untouched) when `batchId` was
    * already applied. */
  def processBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String): Boolean =
    fold(spark, stateDir, StateDdl, batchId) { st =>
      // union → distinct → bottom-k: dedup BEFORE the rank is what makes
      // a gram re-seen in a later chunk a no-op (KMV is a sketch of the
      // distinct gram SET, not the gram stream)
      ofKind(st, "h")
        .unionByName(graft.queries.Curation.sourceGramRows(batch))
        .distinct()
        .transform(graft.queries.Curation.kmvBottomK)
        .withColumn("kind", lit("h"))
    }

  /** Pairwise Jaccard estimates for a requested source-pair list
    * (control plane — the governance question names its suspects,
    * like StreamingCountMin.estimate's token list): batch q223's
    * bottom-k union estimate over the maintained sketches, via the
    * SHARED estimate leg. Columns (src_a, src_b, k_used, n_shared_k,
    * est_jaccard_e6); pairs where either source has no sketch yet are
    * absent. */
  def overlapEstimate(spark: SparkSession, stateDir: String,
      pairs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    graft.queries.Curation.kmvPairEstimate(
      sketches(spark, stateDir), pairs.toDF("src_a", "src_b"))
  }
}
