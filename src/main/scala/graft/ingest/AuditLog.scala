package graft.ingest

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only audit trail + watermark lookups (SURVEY §2.7 C6 / §2.3
  * J5; reference hospitalA_mysqlToLanding.py:199-216 append,
  * :124-137 watermark `MAX(load_timestamp)` with default `1900-01-01`
  * at :134).
  *
  * Stored as parquet at `path`. An ingest run appends all its tables'
  * rows in one write, so the log grows by one small file per run
  * (compaction is a maintenance concern, not a hot path). Appends are
  * never issued concurrently into `path`: concurrent `SaveMode.Append`
  * jobs into one parquet directory share its `_temporary` commit
  * directory and can clobber each other's commit.
  */
final class AuditLog(spark: SparkSession, path: String) {
  import spark.implicits._

  /** The reference's epoch default for never-loaded tables (:134). */
  val DefaultWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  private def exists: Boolean =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(path))

  /** S11: append audit rows as one single-file write (none: no write). */
  def append(recs: AuditRecord*): Unit =
    if (recs.nonEmpty) recs.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(path)

  def all(): org.apache.spark.sql.DataFrame =
    if (exists) spark.read.parquet(path)
    else spark.emptyDataset[AuditRecord].toDF()

  /** J5/A6: latest successful load watermark for (datasource, table). */
  def latestWatermark(datasource: String, table: String): Timestamp =
    all()
      .filter(col("data_source") === datasource && col("tablename") === table &&
        col("status") === "SUCCESS")
      .agg(max(col("load_timestamp")))
      .as[Option[Timestamp]]
      .head()
      .getOrElse(DefaultWatermark)
}
