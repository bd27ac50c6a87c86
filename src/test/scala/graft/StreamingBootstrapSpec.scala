package graft

import graft.streaming.StreamingBootstrap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chunked-fold ≡ batch equality for the streaming Poisson bootstrap:
  * per-row independent weights make the replicate cells and the
  * exact-leg partials additive under any chunking, and the draws are
  * batch q244's, so the folded state must be BIT-EQUAL to the batch
  * partials over the same rows — plus replay no-op, chunk-order
  * independence, and a full-table pin of intervals() against q244.
  */
class StreamingBootstrapSpec extends SparkSpec {
  import spark.implicits._

  private val chunks: Seq[Seq[(Long, String, Double)]] = Seq(
    Seq((1L, "1-URGENT", 101.25), (2L, "2-HIGH", 55.10)),
    Seq((3L, "1-URGENT", 220.00), (4L, "1-URGENT", 17.77)),
    Seq((5L, "2-HIGH", 310.40)))

  private def df(rows: Seq[(Long, String, Double)]): DataFrame =
    rows.map { case (k, p, v) => (k, p, v) }
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")

  private def batchCells: Set[Seq[Any]] =
    graft.queries.Analytics.bootCellPartials(
      graft.queries.Analytics.bootBaseRows(df(chunks.flatten)))
      .collect().map(_.toSeq).toSet

  private def batchExact: Set[Seq[Any]] =
    graft.queries.Analytics.bootExactPartials(
      graft.queries.Analytics.bootBaseRows(df(chunks.flatten)))
      .collect().map(_.toSeq).toSet

  test("chunked fold lands on the bit-equal batch partials") {
    val dir = tmpDir("boot")
    chunks.zipWithIndex.foreach { case (c, i) =>
      StreamingBootstrap.processBatch(spark, df(c), i.toLong, dir) shouldBe true
    }
    StreamingBootstrap.cells(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe batchCells
    StreamingBootstrap.exactRows(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe batchExact
  }

  test("chunk order does not matter; replay is a no-op") {
    val dir = tmpDir("boot-order")
    chunks.reverse.zipWithIndex.foreach { case (c, i) =>
      StreamingBootstrap.processBatch(spark, df(c), i.toLong, dir) shouldBe true
    }
    StreamingBootstrap.cells(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe batchCells
    StreamingBootstrap.processBatch(spark, df(chunks(0)), 1L, dir) shouldBe false
    StreamingBootstrap.exactRows(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe batchExact
  }

  test("two-chunk fold of the orders table matches batch q244's intervals") {
    val dir = tmpDir("boot-full")
    val orders = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("half", (col("o_orderkey") % 2).cast("int"))
    (0 to 1).foreach { h =>
      StreamingBootstrap.processBatch(
        spark, orders.filter(col("half") === h).drop("half"), h.toLong,
        dir) shouldBe true
    }
    val want = graft.queries.Analytics
      .q244PoissonBootstrap(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    StreamingBootstrap.intervals(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe want
  }

  private def stateOf(dir: String): (Set[Seq[Any]], Set[Seq[Any]]) =
    (StreamingBootstrap.cells(spark, dir).collect().map(_.toSeq).toSet,
      StreamingBootstrap.exactRows(spark, dir).collect().map(_.toSeq).toSet)

  /** Both row kinds of the given chunks folded without a crash. */
  private def foldedState(
      cs: Seq[Seq[(Long, String, Double)]]): (Set[Seq[Any]], Set[Seq[Any]]) = {
    val dir = tmpDir("boot-ref")
    cs.zipWithIndex.foreach { case (c, i) =>
      StreamingBootstrap.processBatch(spark, df(c), i.toLong, dir) shouldBe true
    }
    stateOf(dir)
  }

  /** State after folding chunk 0 as batch 0, left in the swap's crash
    * window. */
  private def crashedAfterBatch0(prefix: String): String = {
    val dir = tmpDir(prefix)
    StreamingBootstrap.processBatch(spark, df(chunks(0)), 0L, dir) shouldBe true
    crashMidSwap(dir)
    dir
  }

  test("a fold inside the swap's crash window lands on the recovered state") {
    val dir = crashedAfterBatch0("boot-crash-fold")
    StreamingBootstrap.processBatch(spark, df(chunks(1)), 1L, dir) shouldBe true
    stateOf(dir) shouldBe foldedState(chunks.take(2))
    markerRows(dir) shouldBe 2
  }

  test("a replay inside the swap's crash window is refused") {
    val dir = crashedAfterBatch0("boot-crash-replay")
    StreamingBootstrap.processBatch(spark, df(chunks(0)), 0L, dir) shouldBe false
    stateOf(dir) shouldBe foldedState(chunks.take(1))
  }

  test("a read inside the swap's crash window returns the recovered state") {
    val dir = crashedAfterBatch0("boot-crash-read")
    val (cells, exact) = stateOf(dir)
    cells should not be empty
    (cells, exact) shouldBe foldedState(chunks.take(1))
  }
}
