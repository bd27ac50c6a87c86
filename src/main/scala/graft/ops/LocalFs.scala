package graft.ops

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Hadoop's checksummed local filesystem, setting permissions without
  * a process fork.
  *
  * Why it exists: without libhadoop (`NativeIO` unavailable),
  * `RawLocalFileSystem.setPermission` runs `Shell.execCommand("chmod")`
  * as a child process, and the raw layer calls it for every file it
  * creates (each data file and its `.crc`) and every directory it
  * makes. A parquet write of a few small files therefore forks dozens
  * of `chmod`s, each costing milliseconds, so a local write's cost
  * grows with the paths it creates rather than with its bytes. This
  * class applies the same mode bits with
  * `java.nio.file.Files.setPosixFilePermissions` (one syscall).
  *
  * What stays the same: the files and directories created, the `.crc`
  * checksum files, and the permission bits of each (the raw layer still
  * applies the umask and the defaults; only the last step, setting the
  * computed bits, changes). Bits NIO cannot express (sticky, setuid,
  * setgid) and a default filesystem that is not POSIX take the stock
  * path.
  *
  * The companion is the one entry point for program-owned local I/O:
  * [[write]] for path-based DataFrame writes and [[fsOf]] for
  * FileSystem handles. Both select this class for `file:` paths
  * through per-write options and a per-handle conf, never through the
  * session conf, so writes the program does not own keep the stock
  * filesystem. Other URI schemes are untouched.
  *
  * Its readers [[parquet]] and [[csv]] hand Spark a schema they read
  * on the driver, so a read starts no Spark job to infer one. Each
  * runs the code Spark's own inference job runs and returns the schema
  * that job would return; where that cannot be known without the job,
  * the read keeps Spark's inference. [[csvRows]] parses a small
  * control file on the driver outright.
  */
class LocalFs extends LocalFileSystem(new LocalFs.NioRawLocalFs)

object LocalFs {

  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission.values is ordered owner rwx, group rwx, others
  // rwx: value i is mode bit 8 - i
  private val permBits = PosixFilePermission.values.toIndexedSeq.zipWithIndex

  private[ops] final class NioRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = new java.util.HashSet[PosixFilePermission]()
        permBits.foreach { case (perm, i) => if ((mode & (1 << (8 - i))) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }

  /** Hadoop conf entries that select [[LocalFs]] for `file:` paths.
    * Hadoop caches one filesystem per scheme and the stock instance
    * exists from session start, so the cache is bypassed too. */
  private val Conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `ds.write` with [[Conf]] among its options. Spark copies a write's
    * options into that write's Hadoop conf, which reaches both the
    * driver (committer, `_SUCCESS`) and the tasks (part files, `.crc`).
    * For path-based writes only: `saveAsTable` persists write options
    * into the catalog. */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(Conf)

  /** The FileSystem of `path` under the session's Hadoop conf plus
    * [[Conf]]: a fresh, uncached handle. */
  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(hadoopConf(spark))

  private def hadoopConf(spark: SparkSession) = spark.sessionState.newHadoopConfWithOptions(Conf)

  /** `spark.read.parquet(path)` for an unpartitioned table directory,
    * with the schema read on the driver. Spark's inference (schema
    * merging off) runs a one-task job that reads the footer of the
    * table's first data file in path order (Spark's file index skips
    * `_` and `.` names: `_SUCCESS`, `.crc` files); this reads the same
    * footer with the same `ParquetFileFormat.readSchemaFromFooter`. A
    * partitioned table, a directory with no data file, or a session
    * that merges parquet schemas keeps the inference read. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val data = fsOf(spark, path).listStatus(new Path(path))
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)
    if (conf.isParquetSchemaMergingEnabled || data.isEmpty || data.exists(_.isDirectory))
      spark.read.parquet(path)
    else {
      val footer = new Footer(data.head.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(data.head, hadoopConf(spark)),
        ParquetMetadataConverter.SKIP_ROW_GROUPS))
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
        footer, new ParquetToSparkSchemaConverter(conf))).parquet(path)
    }
  }

  /** The CSV options of a header read, as Spark builds them. */
  private def headerOptions(spark: SparkSession): CSVOptions = {
    val conf = spark.sessionState.conf
    new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning, conf.sessionLocalTimeZone)
  }

  /** The column names of a header line: Spark's univocity settings and
    * `makeSafeHeader` (empty names become `_c<i>`, duplicates get their
    * index). A leading byte-order mark is dropped, as Hadoop's line
    * reader drops it from the lines Spark's inference reads. */
  private def headerNames(spark: SparkSession, options: CSVOptions, line: String): Array[String] =
    CSVUtils.makeSafeHeader(
      new CsvParser(options.asParserSettings).parseLine(line.stripPrefix("\uFEFF")),
      spark.sessionState.conf.caseSensitiveAnalysis, options)

  /** `spark.read.option("header", "true").csv(path)` with the schema
    * read on the driver: every column a string, named by the header
    * line. Spark's inference reads the first non-empty line of the
    * largest matched file, so a glob whose files do not all have the
    * same header (or a path matching no file or a directory, or a file
    * with no line) keeps the inference read. The read takes the paths
    * the glob matched, so Spark never looks up the glob itself as a
    * path (its metadata-directory check would log a missing file); a
    * path matching nothing is read as given, and fails with Spark's
    * error for a missing path. */
  def csv(spark: SparkSession, path: String): DataFrame = {
    val options = headerOptions(spark)
    val matched = Option(fsOf(spark, path).globStatus(new Path(path))).map(_.toSeq).getOrElse(Nil)
    val headers =
      if (matched.isEmpty || matched.exists(!_.isFile)) Nil
      else matched.map(s => CSVUtils.readHeaderLine(s.getPath, options, hadoopConf(spark))
        .map(headerNames(spark, options, _).toSeq))
    val read = spark.read.option("header", "true")
    val paths = if (matched.isEmpty) Seq(path) else matched.map(_.getPath.toString)
    headers.distinct match {
      case Seq(Some(names)) =>
        read.schema(StructType(names.map(StructField(_, StringType)))).csv(paths: _*)
      case _ => read.csv(paths: _*)
    }
  }

  /** A small header CSV file parsed on the driver, as Spark's header
    * read parses it: header names as in [[csv]], one row per further
    * non-empty line (short rows padded, long rows cut to the header),
    * an empty field read as null. Each row maps column name to value.
    * For control files of a few rows. */
  def csvRows(spark: SparkSession, path: String): Seq[Map[String, String]] = {
    val options = headerOptions(spark)
    val in = new BufferedReader(new InputStreamReader(
      fsOf(spark, path).open(new Path(path)), StandardCharsets.UTF_8))
    val lines =
      try Iterator.continually(in.readLine()).takeWhile(_ != null).toList finally in.close()
    lines.filter(_.trim.nonEmpty) match {
      case Nil => Nil
      case header :: rows =>
        val names = headerNames(spark, options, header).toSeq
        val parser = new CsvParser(options.asParserSettings)
        rows.map { line =>
          val tokens = parser.parseLine(line)
          names.indices.map { i =>
            val t = if (i < tokens.length) tokens(i) else null
            names(i) -> (if (t == options.nullValue) null else t)
          }.toMap
        }
    }
  }
}
