package graft.ingest

import org.apache.spark.sql.SparkSession

/** Control-plane config read + active-row filter (SURVEY §2.2 P7;
  * reference hospitalA_mysqlToLanding.py:222-231 reads
  * `configs/load_config.csv` with header, then :242 filters
  * `is_active == "1" && datasource == <source>`).
  *
  * The config is O(#tables) rows — parsing it on the driver is the
  * correct plan at any scale (it parameterizes the run; it is not data).
  */
object LoadConfig {

  /** S2: header-CSV read of the load config, parsed on the driver
    * ([[graft.ops.LocalFs.csvRows]]: the rows and nulls Spark's header
    * read gives, without its schema and collect jobs). A missing
    * column fails the read. */
  def read(spark: SparkSession, path: String): Seq[LoadConfigEntry] =
    graft.ops.LocalFs.csvRows(spark, path).map { r =>
      LoadConfigEntry(
        database = r("database"),
        datasource = r("datasource"),
        tablename = r("tablename"),
        loadtype = r("loadtype"),
        watermark = Option(r("watermark")).getOrElse(""),
        isActive = r("is_active") == "1",
        targetpath = Option(r("targetpath")).getOrElse(""))
    }

  /** P7: the reference's `is_active == "1" and datasource == …` gate. */
  def active(entries: Seq[LoadConfigEntry], datasource: String): Seq[LoadConfigEntry] =
    entries.filter(e => e.isActive && e.datasource == datasource)
}
