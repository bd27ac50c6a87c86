package graft.ingest

import java.sql.Timestamp
import graft.ops.LocalFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only audit trail + watermark lookups (SURVEY §2.7 C6 / §2.3
  * J5; reference hospitalA_mysqlToLanding.py:199-216 append,
  * :124-137 watermark `MAX(load_timestamp)` with default `1900-01-01`
  * at :134).
  *
  * Stored as parquet at `path`. An ingest run appends all its tables'
  * rows in one write, so each append adds one small file, and nothing
  * compacts the log: the file count, and with it the watermark scan,
  * grows with the number of runs (bounding it is ROADMAP D9). Appends are
  * never issued concurrently into `path`: concurrent `SaveMode.Append`
  * jobs into one parquet directory share its `_temporary` commit
  * directory and can clobber each other's commit.
  *
  * [[all]] reads the log with the schema of its first file's footer
  * ([[LocalFs.parquet]]), so a watermark lookup runs its scan job
  * only, not a schema-inference job before it.
  */
final class AuditLog(spark: SparkSession, path: String) {
  import spark.implicits._

  /** The reference's epoch default for never-loaded tables (:134). */
  val DefaultWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  private def exists: Boolean = LocalFs.fsOf(spark, path).exists(new Path(path))

  /** S11: append audit rows as one single-file write (none: no write). */
  def append(recs: AuditRecord*): Unit =
    if (recs.nonEmpty)
      LocalFs.write(recs.toDS().coalesce(1)).mode(SaveMode.Append).parquet(path)

  def all(): org.apache.spark.sql.DataFrame =
    if (exists) LocalFs.parquet(spark, path)
    else spark.emptyDataset[AuditRecord].toDF()

  /** J5/A6: latest successful load watermark of every table of
    * `datasource` that has one. A table never loaded successfully is
    * absent (its watermark is [[DefaultWatermark]]). One filtered scan
    * of `(tablename, load_timestamp)`, reduced to a per-table max on
    * the driver: the log holds one row per table per run, and a
    * grouped aggregate would run its map stage as a second job. */
  def latestWatermarks(datasource: String): Map[String, Timestamp] =
    all()
      .filter(col("data_source") === datasource && col("status") === "SUCCESS")
      .select(col("tablename"), col("load_timestamp"))
      .as[(String, Option[Timestamp])]
      .collect()
      .collect { case (table, Some(ts)) => table -> ts }
      .groupMapReduce(_._1)(_._2)((a, b) => if (a.after(b)) a else b)

  /** J5/A6: latest successful load watermark for (datasource, table). */
  def latestWatermark(datasource: String, table: String): Timestamp =
    latestWatermarks(datasource).getOrElse(table, DefaultWatermark)
}
