package graft.ingest

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import graft.ops.{Fingerprint, LocalFs}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

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
  *
  * The schema travels with the data. A write of an all-string frame
  * (what [[CsvSource]] lands) records the bronze schema in the landing
  * dir as `_schema.json` (Spark's file listing skips `_` names): the
  * written columns in name order, all nullable strings, the order and
  * types JSON inference gives them. It moves with the dir on publish
  * and archive, and [[read]] uses it, so a bronze read starts no
  * inference job. It also keeps a column that is null in every row:
  * the JSON writer omits null fields, so inference never sees such a
  * column and a bronze read without the recorded schema drops it. A
  * dir without `_schema.json` (a landing with a typed column, from a
  * JDBC source, or one written before schemas were recorded) is read
  * with inference.
  *
  * A staged extract can also record where it came from: `_source`
  * holds the source's fingerprint ([[SourceConnector.fingerprint]])
  * combined with [[LandingZone.Derivation]], written into the staged
  * dir before publish, so it moves with the dir as `_schema.json` does
  * and names exactly the files beside it.
  * [[landedSource]] reads it back. A full-load snapshot whose source
  * still has that fingerprint stays in place: the loader neither
  * archives nor re-lands it ([[IngestionRunner]]).
  */
final class LandingZone(spark: SparkSession, root: String) {

  private val fs = LocalFs.fsOf(spark, root)

  def tableDir(datasource: String, table: String): String = s"$root/$datasource/$table"

  private val SchemaMarker = "_schema.json"

  /** JSON-lines write of `df` into `dir`, recording its schema when
    * every column is a string, and its source's fingerprint if given. */
  private def land(df: DataFrame, dir: String, source: Option[String] = None): Unit = {
    LocalFs.write(df).mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
      .json(dir)
    if (df.schema.forall(_.dataType == StringType)) {
      val schema = StructType(df.schema.map(f => StructField(f.name, StringType)).sortBy(_.name))
      Fingerprint.write(fs, dir, SchemaMarker, schema.json)
    }
    source.foreach(Fingerprint.write(fs, dir, Fingerprint.SourceMarker, _))
  }

  /** The schema recorded in a landing dir, if any. */
  private def recordedSchema(dir: String): Option[StructType] =
    Fingerprint.read(fs, dir, SchemaMarker).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** S4: distributed JSON-lines write (overwrite = the per-run file). */
  def write(df: DataFrame, datasource: String, table: String): Unit =
    land(df, tableDir(datasource, table))

  /** Staged one-scan write support: the extract lands in a SIBLING
    * temp directory first, and only a non-empty result is promoted
    * into the real table dir — so the landing contract ("no file for
    * an empty extract") holds in EVERY crash interleaving: a crash
    * before publish leaves the table dir untouched (the stray staging
    * dir is overwritten by the next run and is invisible to archive/
    * read, which only address the table dir). */
  def stagedDir(datasource: String, table: String): String =
    tableDir(datasource, table) + "__staged"

  def writeStaged(df: DataFrame, datasource: String, table: String,
      source: Option[String]): Unit =
    land(df, stagedDir(datasource, table), source)

  /** The source fingerprint recorded in a table's landing dir, if any. */
  def landedSource(datasource: String, table: String): Option[String] =
    Fingerprint.read(fs, tableDir(datasource, table), Fingerprint.SourceMarker)

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

  /** S3: schema-on-read bronze scan over the landing JSON, with an
    * explicit schema, else the dir's recorded one, else inference. */
  def read(datasource: String, table: String, schema: Option[StructType] = None): DataFrame = {
    val dir = tableDir(datasource, table)
    val r = spark.read.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    schema.orElse(recordedSchema(dir)).fold(r)(r.schema).json(dir)
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

object LandingZone {

  /** The version of the code that lands an extract (the JSON-lines
    * write and its `_schema.json`), part of every `_source` marker.
    * Bump it with that code: a landing recorded under another version
    * does not match, so the next run re-lands it. */
  val Derivation = "landing-derivation-1"
}
