package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.health.HealthPipeline
import graft.ops.LocalFs
import graft.streaming.{StreamingHll, StreamingUpliftBucketed}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[LocalFs]]: the same files and permission bits as Hadoop's stock
  * local filesystem, without a forked `chmod` per created path, and
  * without touching the session's conf.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  /** Every path under `root` (root included), relative, with part-file
    * job and task ids stripped, mapped to its permission string and
    * full mode (the mode also carries the sticky bit). */
  private def perms(root: String): Map[String, (String, Int)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.map { p =>
      val rel = base.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1")
      rel -> (PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
  }

  private def rows: DataFrame = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(3)

  for (umask <- Seq(None, Some("077"))) {
    val label = umask.getOrElse("default")

    test(s"a write through LocalFs gets the stock write's files and permissions (umask $label)") {
      val root = tmpDir("localfs-perm")
      val umaskOpt = umask.map("fs.permissions.umask-mode" -> _).toMap
      LocalFs.write(rows).options(umaskOpt).parquet(s"$root/nio")
      // the session's cached filesystem was built before this write and
      // ignores a per-write umask: the stock class gets a fresh instance
      val stockOpts = if (umask.isEmpty) Map.empty[String, String]
        else umaskOpt + ("fs.file.impl.disable.cache" -> "true")
      rows.write.options(stockOpts).parquet(s"$root/stock")
      val nio = perms(s"$root/nio")
      nio.keys.count(_.endsWith(".crc")) should be >= 4 // 3 parts + _SUCCESS
      nio.keySet should contain("_SUCCESS")
      nio("_SUCCESS")._1 shouldBe (if (umask.isEmpty) "rw-r--r--" else "rw-------")
      nio shouldBe perms(s"$root/stock")
    }

    test(s"LocalFs mkdirs/create/setPermission match LocalFileSystem's (umask $label)") {
      val root = tmpDir("localfs-ops")
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      def exercise(fs: FileSystem, dir: String): Map[String, (String, Int)] = {
        fs.initialize(URI.create("file:///"), conf)
        val d = new Path(dir)
        fs.mkdirs(new Path(d, "a/b/c")) shouldBe true
        fs.create(new Path(d, "a/b/c/f")).close()
        fs.mkdirs(new Path(d, "g"), new FsPermission("750")) shouldBe true
        FileSystem.create(fs, new Path(d, "g/h"), new FsPermission("600")).close()
        fs.mkdirs(new Path(d, "sticky")) shouldBe true
        fs.setPermission(new Path(d, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        fs.close()
        perms(dir)
      }
      val nio = exercise(new LocalFs, s"$root/nio")
      nio("sticky")._2 shouldBe Integer.parseInt("1777", 8) // the forking fallback ran
      nio.keySet should contain("a/b/c/.f.crc")
      nio shouldBe exercise(new LocalFileSystem, s"$root/stock")
    }
  }

  /** The commands of the processes forked while `body` ran. */
  private def forkedCommands(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("localfs-forks", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.delete(out) }
  }

  /** A one-table incremental medallion over `root`: ingest, then silver. */
  private def medallionRun(root: String): Unit = {
    val srcDir = s"$root/emr/hospital-a"
    Files.createDirectories(Paths.get(srcDir))
    Files.write(Paths.get(s"$srcDir/patients.csv"), Seq(
      "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate",
      "P1,Ann,Ray,A,s1,ph1,F,1990-01-01,Addr1,2024-01-05",
      "P2,Bob,Lee,B,s2,ph2,M,1991-02-02,Addr2,2024-02-06").mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    val cfg = s"$root/load_config.csv"
    Files.write(Paths.get(cfg),
      ("database,datasource,tablename,loadtype,watermark,is_active,targetpath\n" +
        "db,hospital_a_db,patients,Incremental,ModifiedDate,1,hospital-a")
        .getBytes(StandardCharsets.UTF_8))
    val pipe = new HealthPipeline(spark, root, cfg, s"$root/work",
      () => Timestamp.valueOf("2025-01-01 00:00:00"))
    pipe.ingest("hospital_a_db", srcDir, LocalDate.of(2025, 1, 1))
    pipe.runSilver()
    pipe.silver("patients").count() shouldBe 2
  }

  test("program writes fork no chmod; a stock write does") {
    assume(!NativeIO.isAvailable, "libhadoop sets permissions without forking")
    val root = new File(tmpDir("localfs-fork")).getCanonicalPath
    val events = (1L to 30L).map(i => (i, i % 7, if (i % 3 == 0) "purchase" else "view",
      i.toDouble, s"2024-01-0${1 + i % 5} 01:00:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .withColumn("ts", to_timestamp(col("ts")))
    val commands = forkedCommands {
      for (b <- 0L to 1L) {
        StreamingUpliftBucketed.processBatch(
          spark, events.filter(col("event_id") % 2 === b), b, s"$root/uplift") shouldBe true
        StreamingHll.processBatch(
          spark, Seq(b, b + 1, b + 2).toDF("user_id"), b, s"$root/hll") shouldBe true
      }
      medallionRun(s"$root/medallion")
      rows.write.parquet(s"$root/stock")
    }
    val under = commands.filter(_.contains(root))
    under.filterNot(_.contains(s"$root/stock")) shouldBe empty
    under.count(c => c.startsWith("chmod") && c.contains(s"$root/stock")) should be > 0
  }

  test("a fold leaves the session's filesystem settings untouched") {
    val before = spark.sparkContext.hadoopConfiguration.get("fs.file.impl")
    StreamingHll.processBatch(spark, Seq(1L, 2L).toDF("user_id"), 0L, tmpDir("localfs-session")) shouldBe true
    spark.conf.getOption("fs.file.impl") shouldBe None
    spark.sparkContext.hadoopConfiguration.get("fs.file.impl") shouldBe before
    new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration) should not be a[LocalFs]
  }
}
