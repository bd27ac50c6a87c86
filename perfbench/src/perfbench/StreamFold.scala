package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.streaming.{StreamingHll, StreamingUpliftBucketed}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming folds: the `events` table cut into event-time
  * micro-batches and delivered in order through StreamingHll (the
  * whole-state TableSwap protocol) and StreamingUpliftBucketed
  * (BucketedState). A seeded share of deliveries re-send an earlier
  * batch id, which both twins must refuse.
  */
object StreamFold {
  val Batches = 3
  val Redeliveries = 1

  private def cutFile(env: Env): Path = env.dir.resolve("batch-cut.txt")

  /** Event-time cut: `Batches` windows of equal length over the ts
    * range, shifted by a seeded phase. The cut (origin, width) is
    * written beside the inputs; each delivery reads its window of
    * `events`, as a micro-batch source would hand it over. */
  def setup(env: Env): Unit = {
    val ev = graft.Tables.events(env.spark, env.dataDir.toString)
    val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val width = (hi - lo) / Batches + 1
    val phase = new java.util.SplittableRandom(env.seed).nextLong(width)
    Files.write(cutFile(env), s"${lo - phase} $width\n".getBytes(StandardCharsets.UTF_8))
  }

  /** Delivery order: every batch id once, in order, plus `Redeliveries`
    * re-sends of seeded ids at seeded points after their first send. */
  def deliveries(seed: Long): Seq[Long] = {
    val r = new java.util.SplittableRandom(seed)
    (1 to Redeliveries).foldLeft((0L until Batches.toLong).toVector) { (order, _) =>
      val id = r.nextLong(Batches - 1L)
      val first = order.indexOf(id)
      order.patch(first + 1 + r.nextInt(order.length - first), Seq(id), 0)
    }
  }

  /** Batch `id`: the events in window `id` of the cut (the last window
    * is open-ended). */
  def batch(env: Env, id: Long): DataFrame = {
    val Array(origin, width) = new String(Files.readAllBytes(cutFile(env)), StandardCharsets.UTF_8)
      .trim.split(" ").map(_.toLong)
    val w = least(lit(Batches - 1L), ((unix_micros(col("ts")) - lit(origin)) / lit(width)).cast("long"))
    graft.Tables.events(env.spark, env.dataDir.toString).filter(w === id)
  }

  /** Fold every delivery; returns per-delivery timings. */
  def run(env: Env, out: Outcome): Seq[Timing] = {
    import env.spark
    val hllDir = env.dir.resolve("state-hll").toString
    val upliftDir = env.dir.resolve("state-uplift").toString
    Util.deleteTree(env.dir.resolve("state-hll"))
    Util.deleteTree(env.dir.resolve("state-uplift"))
    val seen = scala.collection.mutable.Set[Long]()
    var resent, refused = 0
    val times = deliveries(env.seed).map { id =>
      val b = batch(env, id)
      val ((h, u), took) = Timing.of(env.span("stream.delivery") {
        (env.span("stream.hll")(StreamingHll.processBatch(spark, b, id, hllDir)),
          env.span("stream.uplift")(StreamingUpliftBucketed.processBatch(spark, b, id, upliftDir)))
      })
      val fresh = seen.add(id)
      if (!fresh) { resent += 1; if (!h && !u) refused += 1 }
      out.op(h == fresh && u == fresh, s"delivery of batch $id (fresh=$fresh) returned hll=$h uplift=$u")
      took
    }
    check(env, out, hllDir, upliftDir)
    if (env.tracer.isDefined) {
      out.perLayer("stream.dup_skip_rate", refused.toDouble / math.max(1, resent), "count")
      out.perLayer("stream.state_mb", Util.mb(Util.bytesUnder(env.dir.resolve("state-hll")) +
        Util.bytesUnder(env.dir.resolve("state-uplift"))), "MB")
      out.perLayer("stream.marker_rows", Seq(hllDir, upliftDir)
        .map(d => spark.read.parquet(d).filter(col("kind") === "b").count()).sum.toDouble, "count")
    }
    times
  }

  /** Per-delivery layer figures from the traced spans. */
  def layers(t: Tracer, out: Outcome): Unit = {
    val spans = t.all
    val deliveries = spans.filter(_.name == "stream.delivery")
    val n = math.max(1, deliveries.size).toDouble
    def busy(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    val w = new SpanWork
    deliveries.foreach(s => w.add(t.totalWork(s.id)))
    out.perLayer("stream.hll.busy_s", busy("stream.hll"), "s")
    out.perLayer("stream.uplift.busy_s", busy("stream.uplift"), "s")
    out.perLayer("stream.jobs_per_delivery", w.jobs / n, "count")
    out.perLayer("stream.output_mb_per_delivery", Util.mb(w.outputBytes) / n, "MB")
  }

  /** The folded state against its batch counterpart over all rows. */
  private def check(env: Env, out: Outcome, hllDir: String, upliftDir: String): Unit = {
    import env.spark
    val all = (0L until Batches.toLong).map(batch(env, _)).reduce(_ unionByName _)
    // q129's register decomposition, restated: 48-bit salted md5,
    // 4-bit bucket, rho = leading-zero rank of the 44-bit suffix
    val h48 = conv(substring(md5(concat(lit("hll"), col("user_id").cast("string"))), 1, 12), 16, 10)
      .cast("long")
    val batchRegs = all.select(h48.as("h"))
      .select(shiftright(col("h"), 44).as("bucket"), (col("h") % (1L << 44)).as("w"))
      .groupBy("bucket")
      .agg(max(when(col("w") === 0, 45L).otherwise(lit(45L) - length(bin(col("w"))))).as("r"))
    val regs = StreamingHll.registers(spark, hllDir)
    out.op(same(regs.select("bucket", "r"), batchRegs), "folded HLL registers differ from the batch registers")

    val batchCells = all
      .select(col("user_id"), (col("user_id") % 2 === 1).as("treat"),
        (datediff(col("ts"), lit("1970-01-01")) % 2 === 0).as("pre"),
        round(col("value") * 100, 0).cast("long").as("v"), col("event_type"))
      .groupBy("user_id", "treat")
      .agg(sum(when(col("pre"), col("v")).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val cells = StreamingUpliftBucketed.cells(spark, upliftDir)
      .select("user_id", "treat", "score", "conv")
    out.op(same(cells, batchCells), "folded uplift cells differ from the batch cells")
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}
