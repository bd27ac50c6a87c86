package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload gets for one benchmark run. */
final class Env(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val tracer: Option[Tracer],
    val dir: Path,
    val dataDir: Path,
    val cores: Int) {

  /** Open a span when tracing, else just run `body`. */
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** What a workload reports back: its printed end-to-end metrics, the
  * two gated figures, per-layer metrics (traced runs), notes, and the
  * count of operations attempted and failed. */
final class Outcome {
  val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val layer = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val notes = scala.collection.mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  /** The gated end-to-end figures, steal-adjusted: all measured work
    * in one round, and the median operation. */
  var totalS = Double.NaN
  var opP50S = Double.NaN

  /** Set the gated figures from one round's operations (`ops`) and the
    * ones the median is over (`medianOver`), noting the raw wall time
    * and the steal share beside them. */
  def gate(ops: Seq[Timing], medianOver: Seq[Timing]): Unit = {
    totalS = ops.map(_.adjusted).sum
    opP50S = Util.median(medianOver.map(_.adjusted))
    val wall = ops.map(_.wall).sum
    notes += f"round: $wall%.3f s wall, steal share ${100 * (1 - totalS / wall)}%.1f%%, " +
      f"$totalS%.3f s steal-adjusted"
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def perLayer(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)

  /** Count one operation; a false `ok` counts it failed. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"FAILED: $what" }
  }
}

/** Wall time of an interval and the host's CPU steal share over it:
  * stolen ticks / (busy + stolen ticks) of all CPUs, from /proc/stat.
  * On a virtual machine the hypervisor's steal stretches every step of
  * a run; `adjusted` removes that share, and equals the wall time on a
  * host without steal (or without /proc/stat). */
final case class Timing(wall: Double, steal: Double) {
  def adjusted: Double = wall * (1 - steal)
}

object Timing {
  private def ticks(): (Long, Long) = try {
    val v = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (v(0) + v(1) + v(2) + v(5) + v(6), v(7)) // user nice system irq softirq; steal
  } catch { case _: Exception => (0L, 0L) }

  def of[T](body: => T): (T, Timing) = {
    val (b0, s0) = ticks()
    val (r, wall) = Util.timed(body)
    val (b1, s1) = ticks()
    val (busy, stolen) = (b1 - b0, s1 - s0)
    (r, Timing(wall, if (busy + stolen > 0) stolen.toDouble / (busy + stolen) else 0.0))
  }
}

object Util {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `body`'s result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, secs(t0))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile p (in whole percent) with at least 10
    * samples above it, and its value; None when fewer than 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    (99 to 1 by -1).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt // nearest-rank percentile
      (p, rank)
    }.collectFirst { case (p, rank) if rank >= 1 && n - rank >= 10 => (p, s(rank - 1)) }
  }

  /** "p<k> = v s over n samples", or why there is no tail figure. */
  def tailNote(what: String, xs: Seq[Double]): String = tail(xs) match {
    case Some((p, v)) => f"$what tail: p$p = $v%.4f s over ${xs.size} samples"
    case None => s"$what tail: none, ${xs.size} samples leave fewer than 10 beyond any percentile"
  }

  /** Content digest of a relation: xxhash64 over every column of every
    * row, summed (wrapping). Independent of row order and partitioning. */
  def digest(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).as("h"))
      .agg(sum("h")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  def mb(bytes: Long): Double = bytes / 1048576.0
}
