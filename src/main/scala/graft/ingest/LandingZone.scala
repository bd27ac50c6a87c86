package graft.ingest

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import graft.ops.LocalFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The landing-zone contract: JSON-lines files per
  * `<root>/<datasource>/<table>/`, with prior files archived to
  * `<root>/<datasource>/archive/<table>/yyyy/MM/dd/` before a new load
  * (SURVEY §2.1 S4/S10/S3; reference
  * hospitalA_mysqlToLanding.py:168,178-185 write, :96-118 archive,
  * bronze.sql:3-63 schema-on-read).
  *
  * The write is distributed (`df.write.json`) — the reference's
  * `toPandas()` driver-collect anti-pattern is designed out
  * (SURVEY §4.3) while the JSON-lines + ISO-dates file contract is
  * kept (`timestampFormat` below).
  */
final class LandingZone(spark: SparkSession, root: String) {

  private val fs = LocalFs.fsOf(spark, root)

  def tableDir(datasource: String, table: String): String = s"$root/$datasource/$table"

  /** S4: distributed JSON-lines write (overwrite = the per-run file). */
  def write(df: DataFrame, datasource: String, table: String): Unit =
    LocalFs.write(df).mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(tableDir(datasource, table))

  /** Staged one-scan write support: the extract lands in a SIBLING
    * temp directory first, and only a non-empty result is promoted
    * into the real table dir — so the landing contract ("no file for
    * an empty extract") holds in EVERY crash interleaving: a crash
    * before publish leaves the table dir untouched (the stray staging
    * dir is overwritten by the next run and is invisible to archive/
    * read, which only address the table dir). */
  def stagedDir(datasource: String, table: String): String =
    tableDir(datasource, table) + "__staged"

  def writeStaged(df: DataFrame, datasource: String, table: String): Unit =
    LocalFs.write(df).mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(stagedDir(datasource, table))

  /** Promote a non-empty staged extract into the table dir. */
  def publishStaged(datasource: String, table: String): Unit =
    graft.ops.TableSwap.publish(fs,
      new Path(tableDir(datasource, table)),
      new Path(stagedDir(datasource, table)))

  /** Drop a zero-row staged extract; the table dir never existed. */
  def discardStaged(datasource: String, table: String): Unit = {
    val p = new Path(stagedDir(datasource, table))
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** S3: schema-on-read bronze scan over the landing JSON. An explicit
    * schema skips the inference pass (one fewer full read at scale). */
  def read(datasource: String, table: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    schema.fold(r)(r.schema).json(tableDir(datasource, table))
  }

  /** S10: move current landing files to the dated archive prefix
    * (yyyy/MM/dd path per hospitalA_mysqlToLanding.py:109-114);
    * rename-based, no data copy.
    *
    * Destination collisions (a second run on the same day archives
    * files with the same names) are uniquified with a numeric suffix,
    * and every rename's result is checked BEFORE the source dir is
    * deleted — an unmoved file must never be silently dropped. */
  def archive(datasource: String, table: String, runDate: LocalDate): Int = {
    val src = new Path(tableDir(datasource, table))
    if (!fs.exists(src)) return 0
    val datePath = runDate.format(DateTimeFormatter.ofPattern("yyyy/MM/dd"))
    val dst = new Path(s"$root/$datasource/archive/$table/$datePath")
    fs.mkdirs(dst)
    val files = fs.listStatus(src).filter(_.isFile)
    files.foreach { f =>
      val name = f.getPath.getName
      val dest = Iterator.single(new Path(dst, name))
        .concat(Iterator.from(1).map(i => new Path(dst, s"$name.$i")))
        .find(!fs.exists(_)).get
      if (!fs.rename(f.getPath, dest))
        throw new java.io.IOException(
          s"archive: rename ${f.getPath} -> $dest failed; aborting before source delete")
    }
    fs.delete(src, true)
    files.length
  }
}
