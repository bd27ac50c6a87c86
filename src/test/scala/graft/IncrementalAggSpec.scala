package graft

import graft.ops.IncrementalAgg
import graft.ops.IncrementalAgg.Metrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins incremental aggregate maintenance: batch-wise folds must equal
  * a full recompute regardless of how history is split into batches.
  */
class IncrementalAggSpec extends SparkSpec {

  import spark.implicits._

  private val m = Metrics("v")
  private val keys = Seq("k")

  private def raw(rows: (String, Long)*): DataFrame = rows.toDF("k", "v")

  private def asMap(state: DataFrame) =
    state.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("three batch folds equal the one-shot recompute") {
    val b1 = raw("a" -> 1L, "a" -> 5L, "b" -> 10L)
    val b2 = raw("a" -> 2L, "c" -> 7L)
    val b3 = raw("b" -> -4L, "c" -> 7L, "c" -> 9L)
    val folded = Seq(b2, b3).foldLeft(IncrementalAgg.aggregate(b1, keys, m)) {
      (st, b) => IncrementalAgg.merge(st, IncrementalAgg.aggregate(b, keys, m), keys, m)
    }
    val oneShot = IncrementalAgg.aggregate(b1.union(b2).union(b3), keys, m)
    asMap(folded) shouldBe asMap(oneShot)
    asMap(folded)("c") shouldBe ((3L, 23L, 7L, 9L))
  }

  test("fold order cannot change the state (commutative merge)") {
    val b1 = raw("x" -> 3L, "y" -> -1L)
    val b2 = raw("x" -> 8L)
    def fold(first: DataFrame, second: DataFrame) =
      IncrementalAgg.merge(IncrementalAgg.aggregate(first, keys, m),
        IncrementalAgg.aggregate(second, keys, m), keys, m)
    asMap(fold(b1, b2)) shouldBe asMap(fold(b2, b1))
  }

  test("random batch splits always equal the one-shot recompute (property)") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val rows = Seq.fill(rnd.nextInt(40) + 10)(
        (s"k${rnd.nextInt(5)}", rnd.nextLong() % 1000))
      val nSplits = rnd.nextInt(3) + 2
      val batches = rows.grouped(math.max(1, rows.size / nSplits)).toSeq
        .map(chunk => raw(chunk: _*))
      val folded = batches.tail.foldLeft(IncrementalAgg.aggregate(batches.head, keys, m)) {
        (st, b) => IncrementalAgg.merge(st, IncrementalAgg.aggregate(b, keys, m), keys, m)
      }
      val oneShot = IncrementalAgg.aggregate(raw(rows: _*), keys, m)
      withClue(s"trial $trial (${rows.size} rows, ${batches.size} batches):") {
        asMap(folded) shouldBe asMap(oneShot)
      }
    }
  }

  test("the batch pass partial-aggregates: one exchange, no join") {
    val plan = IncrementalAgg.aggregate(raw("a" -> 1L), keys, m)
      .queryExecution.executedPlan.toString
    plan should not include "Join"
    plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") should be <= 1
  }
}
