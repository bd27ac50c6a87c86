package graft

import graft.streaming.StreamingHeavyHitters
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The mergeable-Misra–Gries contract, measured: folding any chunking
  * of a token stream keeps every estimate within [true − N/(m+1),
  * true], keeps every token above the N/(m+1) bound present, and is
  * deterministic for a fixed chunking; markers make replay a no-op.
  * (Bit-equality with batch q169 is NOT the contract — a no-rescan
  * stream cannot offer it; the error bound is.)
  */
class StreamingHeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private val M = 4

  private def docs(texts: Seq[String]): DataFrame = texts.toDF("text")

  /** A skewed corpus: "the" dominates, "of" is mid, singletons pad. */
  private val chunks: Seq[Seq[String]] = Seq(
    Seq("the the the of", "the x1 x2 the"),
    Seq("the of x3 the", "the the of x4"),
    Seq("x5 x6 the of", "the the the x7"))

  private def exactCounts: Map[String, Long] =
    chunks.flatten.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def fold(dir: String): Unit =
    chunks.zipWithIndex.foreach { case (c, i) =>
      StreamingHeavyHitters.processBatch(spark, docs(c), i.toLong, dir, M) shouldBe true
    }

  test("estimates stay within the mergeable-MG error band; heavy tokens survive") {
    val dir = tmpDir("shh-bounds")
    fold(dir)
    val truth = exactCounts
    val n = truth.values.sum
    StreamingHeavyHitters.totalTokens(spark, dir) shouldBe n
    val est = StreamingHeavyHitters.summary(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.size should be <= M
    val slack = n / (M + 1)
    est.foreach { case (tok, e) =>
      e should be <= truth(tok)
      e should be >= truth(tok) - slack
    }
    // completeness: anything strictly above N/(m+1) must be present
    truth.filter(_._2 > slack).keySet.foreach(t => est.keySet should contain(t))
    // "the" dominates the fixture by construction
    est.keySet should contain("the")
  }

  test("candidates(thresh) is a superset of the true above-threshold set") {
    val dir = tmpDir("shh-cand")
    fold(dir)
    val truth = exactCounts
    val thresh = 5L
    val cands = StreamingHeavyHitters.candidates(spark, dir, M, thresh)
      .collect().map(_.getString(0)).toSet
    truth.filter(_._2 >= thresh).keySet.subsetOf(cands) shouldBe true
  }

  test("same chunking folds to an identical state; replayed batch is a no-op") {
    val d1 = tmpDir("shh-det1")
    val d2 = tmpDir("shh-det2")
    fold(d1); fold(d2)
    def state(d: String) = StreamingHeavyHitters.summary(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    state(d1) shouldBe state(d2)
    // replay batch 1: rejected, state unchanged
    StreamingHeavyHitters.processBatch(
      spark, docs(chunks(1)), 1L, d1, M) shouldBe false
    state(d1) shouldBe state(d2)
    StreamingHeavyHitters.totalTokens(spark, d1) shouldBe exactCounts.values.sum
  }

  private def stateOf(dir: String): (Set[(String, Long)], Long) =
    (StreamingHeavyHitters.summary(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      StreamingHeavyHitters.totalTokens(spark, dir))

  /** The summary and the token total of the given chunks folded
    * without a crash. */
  private def foldedState(cs: Seq[Seq[String]]): (Set[(String, Long)], Long) = {
    val dir = tmpDir("shh-ref")
    cs.zipWithIndex.foreach { case (c, i) =>
      StreamingHeavyHitters.processBatch(spark, docs(c), i.toLong, dir, M) shouldBe true
    }
    stateOf(dir)
  }

  /** State after folding chunk 0 as batch 0, left in the swap's crash
    * window. */
  private def crashedAfterBatch0(prefix: String): String = {
    val dir = tmpDir(prefix)
    StreamingHeavyHitters.processBatch(spark, docs(chunks(0)), 0L, dir, M) shouldBe true
    crashMidSwap(dir)
    dir
  }

  test("a fold inside the swap's crash window lands on the recovered state") {
    val dir = crashedAfterBatch0("shh-crash-fold")
    StreamingHeavyHitters.processBatch(spark, docs(chunks(1)), 1L, dir, M) shouldBe true
    stateOf(dir) shouldBe foldedState(chunks.take(2))
    markerRows(dir) shouldBe 2
  }

  test("a replay inside the swap's crash window is refused") {
    val dir = crashedAfterBatch0("shh-crash-replay")
    StreamingHeavyHitters.processBatch(spark, docs(chunks(0)), 0L, dir, M) shouldBe false
    stateOf(dir) shouldBe foldedState(chunks.take(1))
  }

  test("a read inside the swap's crash window returns the recovered state") {
    val dir = crashedAfterBatch0("shh-crash-read")
    val st = stateOf(dir)
    st._2 should be > 0L
    st shouldBe foldedState(chunks.take(1))
  }
}
