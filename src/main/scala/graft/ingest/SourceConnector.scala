package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pluggable source abstraction replacing the reference's JDBC extract
  * (SURVEY §2.1 S1, hospitalA_mysqlToLanding.py:155-163). The
  * incremental path reproduces the pushdown sub-select
  * (`WHERE {watermark_col} > '{last_watermark}'`, :149-152) as a
  * `Column` predicate on the scan — for parquet/CSV sources Catalyst
  * pushes it into the reader (PushedFilters), which is the same
  * engine-side pruning the JDBC sub-select achieves; a real JDBC impl
  * would get it via the `dbtable` sub-select automatically.
  *
  * [[fingerprint]] lets the loader recognize a full-load snapshot it
  * has already landed: a source that can name its content returns a
  * digest of it, and a table whose digest matches the one recorded in
  * its landing dir is not re-landed ([[IngestionRunner]]). The default
  * is None: such a source is always re-landed.
  */
trait SourceConnector {

  /** Full-table scan (S1 full-load branch). */
  def read(spark: SparkSession, table: String): DataFrame

  /** Incremental scan: rows strictly newer than `since` (P8). */
  def readIncremental(
      spark: SparkSession, table: String, watermarkCol: String, since: Timestamp): DataFrame =
    read(spark, table).filter(col(watermarkCol) > lit(since))

  /** A digest of `table`'s full content, computed without a Spark job,
    * or None when the source cannot name it. Equal digests must mean
    * that [[read]] returns the same rows. */
  def fingerprint(spark: SparkSession, table: String): Option[String] = None
}

/** Header-CSV source — stringly-typed like the reference's claims/CPT
  * reads (S2, claims.py:16, cpt_codes.py:15: `header=True`, no schema).
  * The all-string schema comes from the header line, read on the
  * driver ([[graft.ops.LocalFs.csv]]), so a read starts no Spark job.
  * Its fingerprint is a SHA-256 of the file's bytes, read on the
  * driver: the full-load tables it serves are small snapshots.
  */
final class CsvSource(dir: String) extends SourceConnector {
  private def path(table: String) = s"$dir/$table.csv"

  def read(spark: SparkSession, table: String): DataFrame =
    graft.ops.LocalFs.csv(spark, path(table))

  override def fingerprint(spark: SparkSession, table: String): Option[String] =
    graft.ops.Fingerprint.files(graft.ops.LocalFs.fsOf(spark, path(table)),
      Seq(s"$table.csv" -> new org.apache.hadoop.fs.Path(path(table))))
}

/** Real JDBC source (S1; reference hospitalA_mysqlToLanding.py:155-163,
  * query built :148-152). The incremental path pushes the watermark
  * predicate down as a `dbtable` sub-select, exactly like the
  * reference's `(SELECT * FROM t WHERE wm > '…') AS t` — the database
  * scans only post-watermark rows, nothing streams to Spark first.
  * The watermark literal uses the JDBC `{ts '…'}` escape so the same
  * sub-select runs on MySQL, Derby, Postgres, … (a bare quoted string
  * fails on engines that don't implicitly cast to TIMESTAMP).
  *
  * Tested against embedded Derby (JdbcSourceSpec), including an
  * IngestionRunner run-over-run watermark cycle; the CSV connector
  * remains the driver-testdata substitute behind the same trait.
  * Derby has no sub-select alias keyword quirks, and Spark wraps
  * `dbtable` as `SELECT * FROM <dbtable> WHERE 1=0` for schema
  * probing, so the alias is mandatory.
  *
  * @param url   JDBC URL, e.g. jdbc:mysql://host:3306/db
  * @param props connection properties (user/password/driver)
  */
final class JdbcSource(url: String, props: java.util.Properties) extends SourceConnector {

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.jdbc(url, table, props)

  override def readIncremental(
      spark: SparkSession, table: String, watermarkCol: String, since: Timestamp): DataFrame = {
    val sub = s"(SELECT * FROM $table WHERE $watermarkCol > {ts '$since'}) AS ${table}_inc"
    spark.read.jdbc(url, sub, props)
  }
}
