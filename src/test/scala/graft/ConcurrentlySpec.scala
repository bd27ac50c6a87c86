package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Concurrently

/** The independent-thunk runner behind the medallion's concurrent
  * table work: submission-order results, a width capped at
  * `defaultParallelism`, run-everything-then-rethrow failures, and
  * Spark local properties inherited from the caller. */
class ConcurrentlySpec extends SparkSpec {

  private def width = spark.sparkContext.defaultParallelism

  test("results come back in submission order") {
    // later tasks finish first; the result order must not follow them
    val n = 3 * width
    val tasks = (0 until n).map(i => () => { Thread.sleep(5L * (n - i)); i })
    Concurrently.run(spark)(tasks) shouldBe (0 until n)
    Concurrently.run(spark)(Seq.empty[() => Int]) shouldBe empty
  }

  test("no more than defaultParallelism tasks run at once") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    // the first `width` tasks hold each other at the latch: it opens
    // only if `width` of them are in flight together
    val allIn = new CountDownLatch(width)
    val opened = Concurrently.run(spark)((0 until 3 * width).map(_ => () => {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      allIn.countDown()
      val ok = allIn.await(30, TimeUnit.SECONDS)
      Thread.sleep(20)
      running.decrementAndGet()
      ok
    }))
    opened.forall(identity) shouldBe true
    peak.get shouldBe width
  }

  test("with two failing tasks every task finishes and the earlier failure is thrown") {
    val finished = new AtomicInteger()
    val tasks = (0 until 6).map(i => () => {
      // task 2 fails late, task 4 fails at once: submission order
      // decides which is thrown, not finishing order
      if (i == 2) { Thread.sleep(200); finished.incrementAndGet(); sys.error("task 2") }
      if (i == 4) { finished.incrementAndGet(); sys.error("task 4") }
      Thread.sleep(50)
      finished.incrementAndGet()
      i
    })
    val e = intercept[RuntimeException](Concurrently.run(spark)(tasks))
    e.getMessage shouldBe "task 2"
    e.getSuppressed.map(_.getMessage).toSeq shouldBe Seq("task 4")
    finished.get shouldBe 6
  }

  test("a worker sees a Spark local property set by the caller") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.concurrently.tag", "caller")
    try {
      val seen = Concurrently.run(spark)((0 until 2 * width).map(_ => () =>
        sc.getLocalProperty("graft.concurrently.tag")))
      seen.distinct shouldBe Seq("caller")
    } finally sc.setLocalProperty("graft.concurrently.tag", null)
  }
}
