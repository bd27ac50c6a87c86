package graft

import graft.streaming.StreamingHll
import org.apache.spark.sql.DataFrame

/** Chunked-fold ≡ batch equality for the streaming HyperLogLog:
  * registers merge by max under any chunking (HLL's mergeable
  * property) and the decomposition is batch q129's, so the folded
  * registers must be BIT-EQUAL to the single-batch registers over the
  * same rows — plus replay no-op, chunk-order independence, and an
  * events-table estimate cross-checked against the exact distinct
  * count within the m = 16 error envelope.
  */
class StreamingHllSpec extends SparkSpec {
  import spark.implicits._

  private val chunks: Seq[Seq[Long]] = Seq(
    Seq(1L, 2L, 3L), Seq(2L, 4L), Seq(5L, 1L, 6L, 7L))

  private def df(users: Seq[Long]): DataFrame = users.toDF("user_id")

  private def batchRegisters: Set[Seq[Any]] =
    StreamingHll.registerPartials(df(chunks.flatten))
      .collect().map(_.toSeq).toSet

  test("chunked fold lands on the bit-equal batch registers") {
    val dir = tmpDir("hll")
    chunks.zipWithIndex.foreach { case (c, i) =>
      StreamingHll.processBatch(spark, df(c), i.toLong, dir) shouldBe true
    }
    StreamingHll.registers(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe batchRegisters
  }

  test("chunk order does not matter; replay is a no-op") {
    val dir = tmpDir("hll-order")
    chunks.reverse.zipWithIndex.foreach { case (c, i) =>
      StreamingHll.processBatch(spark, df(c), i.toLong, dir) shouldBe true
    }
    StreamingHll.registers(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe batchRegisters
    StreamingHll.processBatch(spark, df(chunks(0)), 1L, dir) shouldBe false
    StreamingHll.registers(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe batchRegisters
  }

  test("estimate tracks the exact distinct count over the events table") {
    val dir = tmpDir("hll-est")
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id")
    StreamingHll.processBatch(spark, ev, 0L, dir) shouldBe true
    val est = StreamingHll.estimate(spark, dir)
    val exact = ev.distinct().count()
    // m = 16 ⇒ rsd ≈ 26%; this fixed hash realization must land
    // within a generous 3-sigma envelope of the truth
    est should be > (exact * 22 / 100)
    est should be < (exact * 280 / 100)
  }

  private def registersOf(dir: String): Set[Seq[Any]] =
    StreamingHll.registers(spark, dir).collect().map(_.toSeq).toSet

  private def batchRegistersOf(users: Seq[Long]): Set[Seq[Any]] =
    StreamingHll.registerPartials(df(users)).collect().map(_.toSeq).toSet

  /** State after folding users 1–20 as batch 0, left in the swap's
    * crash window. */
  private def crashedAfterBatch0(prefix: String): String = {
    val dir = tmpDir(prefix)
    StreamingHll.processBatch(spark, df(1L to 20L), 0L, dir) shouldBe true
    crashMidSwap(dir)
    dir
  }

  test("a fold inside the swap's crash window lands on the recovered state") {
    val dir = crashedAfterBatch0("hll-crash-fold")
    StreamingHll.processBatch(spark, df(21L to 40L), 1L, dir) shouldBe true
    registersOf(dir) shouldBe batchRegistersOf(1L to 40L)
    markerRows(dir) shouldBe 2
  }

  test("a replay inside the swap's crash window is refused") {
    val dir = crashedAfterBatch0("hll-crash-replay")
    StreamingHll.processBatch(spark, df(1L to 20L), 0L, dir) shouldBe false
    registersOf(dir) shouldBe batchRegistersOf(1L to 20L)
  }

  test("a read inside the swap's crash window returns the recovered state") {
    val dir = crashedAfterBatch0("hll-crash-read")
    registersOf(dir) shouldBe batchRegistersOf(1L to 20L)
  }
}
