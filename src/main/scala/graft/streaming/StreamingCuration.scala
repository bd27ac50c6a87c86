package graft.streaming

import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Continuous corpus curation: the streaming twins of the q48/q43
  * batch operators, for a pipeline where crawl batches arrive as a
  * document stream and the standing corpus is a static (periodically
  * refreshed) table.
  *
  *  - [[novelAgainstCorpus]] is q48's incremental dedup as a
  *    STREAM-STATIC left-anti join: each micro-batch of incoming
  *    documents is anti-joined against the corpus content-hash set.
  *    Stream-static joins are stateless on the stream side — no
  *    watermark, no state store growth; the static side is re-read
  *    per micro-batch (and broadcast when small), so refreshing the
  *    corpus snapshot between batches is picked up automatically.
  *    Within-stream duplicates are NOT collapsed here (that is
  *    [[StreamingEvents.dedupByKey]]'s watermarked job); this stage
  *    guarantees "nothing already in the corpus re-enters".
  *  - [[qualityGate]] is the narrow per-document quality predicate
  *    (q22/q43 convention): token/char/punctuation bounds — a pure
  *    map, so it runs unchanged over batch and streaming inputs, and
  *    the batch oracle transitively verifies the streaming plan.
  *
  * At scale: the anti-join shuffles 16-byte content hashes (or skips
  * the shuffle entirely under a broadcast corpus snapshot ≤ the
  * autoBroadcast threshold); the quality gate is embarrassingly
  * parallel. Neither holds streaming state.
  */
object StreamingCuration {

  /** documents-table schema (TESTDATA.md); streaming sources don't infer. */
  val docSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** JSON-lines document stream over a landing-style directory. */
  def readDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).json(dir)

  /** Normalized content hash — MUST stay identical to the batch q20/
    * q48 definition so batch and streaming dedup agree. */
  def contentHash(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Distinct corpus hash set from a static documents table (the
    * standing-corpus snapshot the stream dedups against). */
  def corpusHashes(corpus: DataFrame): DataFrame =
    corpus.select(contentHash(col("text")).as("content_hash")).distinct()

  /** Stream-static anti-join: documents whose normalized content is
    * not already in the corpus snapshot. Works on batch inputs too. */
  def novelAgainstCorpus(docs: DataFrame, corpusHashSet: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", contentHash(col("text")))
      .join(corpusHashSet, Seq("content_hash"), "left_anti")

  /** Narrow quality predicate (q22's is_quality contract): enough
    * tokens, bounded length, bounded punctuation density. */
  def qualityGate(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    val lo = lower(col("text"))
    docs
      .withColumn("n_tokens_q", size(tk))
      .withColumn("n_punct_q",
        length(regexp_replace(lo, "[a-z0-9 ]", "")))
      .filter(col("n_tokens_q") >= 5 &&
        length(col("text")) <= 10000 &&
        col("n_punct_q") * 10 <= length(col("text")))
      .drop("n_tokens_q", "n_punct_q")
  }

  /** The composed continuous-ingest stage: quality gate → corpus
    * anti-join. One narrow map + one hash anti-join per micro-batch. */
  def curateStream(docs: DataFrame, corpus: DataFrame): DataFrame =
    novelAgainstCorpus(qualityGate(docs), corpusHashes(corpus))
}
