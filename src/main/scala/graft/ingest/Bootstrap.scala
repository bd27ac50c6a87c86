package graft.ingest

import graft.ops.LocalFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Idempotent metadata init (SURVEY §2.7 C7; reference
  * init_bq_tables.py:24-75): ensure the audit and pipeline-log stores
  * exist with their schemas, without touching existing data.
  */
object Bootstrap {

  private def ensure[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, path: String): Boolean = {
    if (LocalFs.fsOf(spark, path).exists(new Path(path))) false
    else {
      LocalFs.write(spark.emptyDataset[T]).mode(SaveMode.ErrorIfExists).parquet(path)
      true
    }
  }

  /** @return (auditCreated, logsCreated) — false = already existed. */
  def ensureTables(spark: SparkSession, auditPath: String, logsPath: String): (Boolean, Boolean) = {
    import spark.implicits._
    (ensure[AuditRecord](spark, auditPath), ensure[LogEvent](spark, logsPath))
  }
}
