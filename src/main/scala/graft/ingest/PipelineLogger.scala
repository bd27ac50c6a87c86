package graft.ingest

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Structured pipeline logging (SURVEY §2.7 C5; reference
  * hospitalA_mysqlToLanding.py:54-90). Events are buffered on the
  * driver and appended in one write at `flush()` — the reference's
  * per-event remote insert (:84-90) is a designed-out anti-pattern
  * (SURVEY §4.3 #3).
  *
  * Safe to call from several threads (concurrent table loads log into
  * one logger): appends, snapshots and the flush's take-and-clear all
  * hold the buffer's lock, so no event is lost or written twice. A
  * failed flush puts its events back ahead of any logged meanwhile.
  */
final class PipelineLogger(spark: SparkSession, path: String, clock: () => Timestamp) {
  import spark.implicits._

  private val buf = ArrayBuffer.empty[LogEvent]

  def log(eventType: String, message: String, step: String,
      table: String = "", errorTrace: String = ""): Unit = {
    val e = LogEvent(clock(), eventType, message, step, table, errorTrace)
    buf.synchronized { buf += e }
    ()
  }

  def info(msg: String, step: String, table: String = ""): Unit =
    log("INFO", msg, step, table)
  def success(msg: String, step: String, table: String = ""): Unit =
    log("SUCCESS", msg, step, table)
  def error(msg: String, step: String, table: String, trace: String): Unit =
    log("ERROR", msg, step, table, trace)

  def pending: Seq[LogEvent] = buf.synchronized(buf.toSeq)

  /** Append all buffered events as one write of one file (without
    * the coalesce a flush writes up to `defaultParallelism` small
    * files); clears the buffer. */
  def flush(): Unit = {
    val batch = buf.synchronized { val b = buf.toSeq; buf.clear(); b }
    if (batch.nonEmpty)
      try graft.ops.LocalFs.write(batch.toDS().coalesce(1)).mode(SaveMode.Append).parquet(path)
      catch {
        case e: Throwable =>
          buf.synchronized { buf.prependAll(batch) }
          throw e
      }
  }
}
