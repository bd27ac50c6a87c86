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

  private def put(path: String, lines: String*): String = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    path
  }

  private def sparkCsv(path: String): DataFrame = spark.read.option("header", "true").csv(path)

  test("LocalFs.csv reads the schema Spark infers, and the same rows") {
    val dir = tmpDir("localfs-csv")
    val quirky = put(s"$dir/quirky.csv",
      "\uFEFFCode Status,\"Name, Full\",,dup,Dup,dup",
      "",
      "a,\"x, y\",1,2,3,4",
      "b,,\"\",5",
      "c,z,7,8,9,10,11")
    LocalFs.csv(spark, quirky).schema shouldBe sparkCsv(quirky).schema
    LocalFs.csv(spark, quirky).collect() shouldBe sparkCsv(quirky).collect()

    // a glob whose files share a header reads it; one whose headers
    // differ keeps inference, which takes the largest file's header
    put(s"$dir/same/one.csv", "k,v", "1,a")
    put(s"$dir/same/two.csv", "k,v", "2,b", "3,c")
    put(s"$dir/drift/small.csv", "k,v", "1,a")
    put(s"$dir/drift/large.csv", "key,value", "2,b", "3,c", "4,d")
    put(s"$dir/empty/e.csv")
    for (glob <- Seq(s"$dir/same/*.csv", s"$dir/drift/*.csv", s"$dir/empty/*.csv")) {
      LocalFs.csv(spark, glob).schema shouldBe sparkCsv(glob).schema
      LocalFs.csv(spark, glob).collect().sortBy(_.toString) shouldBe
        sparkCsv(glob).collect().sortBy(_.toString)
    }
    sparkCsv(s"$dir/drift/*.csv").columns.toSeq shouldBe Seq("key", "value")
    // a missing path fails as Spark's read does
    val missing = intercept[org.apache.spark.sql.AnalysisException](sparkCsv(s"$dir/absent.csv"))
    intercept[org.apache.spark.sql.AnalysisException](LocalFs.csv(spark, s"$dir/absent.csv"))
      .getCondition shouldBe missing.getCondition
  }

  test("LocalFs.csv reads a two-file glob as Spark does, file names included") {
    val dir = tmpDir("localfs-glob")
    put(s"$dir/one.csv", "k,v", "1,a", "2,b")
    put(s"$dir/two.csv", "k,v", "3,c")
    val glob = s"$dir/*.csv"
    def withFile(df: DataFrame) =
      df.withColumn("file", input_file_name()).collect().sortBy(_.toString).toSeq
    val rows = withFile(LocalFs.csv(spark, glob))
    rows shouldBe withFile(sparkCsv(glob))
    rows.map(_.getString(2)).distinct.map(_.split('/').last) shouldBe Seq("one.csv", "two.csv")
  }

  test("LocalFs.csvRows parses a control file as Spark's header read does") {
    val path = put(s"${tmpDir("localfs-rows")}/cfg.csv",
      "a,b,,a",
      "1,\"x, y\",3,4",
      "",
      "5,,\"\"",
      "  ",
      "6,7,8,9,10")
    val want = sparkCsv(path)
    want.columns.toSeq shouldBe Seq("a0", "b", "_c2", "a3")
    LocalFs.csvRows(spark, path) shouldBe
      want.collect().toSeq.map(r => want.columns.map(c => c -> r.getAs[String](c)).toMap)
  }

  test("LocalFs.parquet reads the schema Spark infers, and falls back where it must") {
    val dir = tmpDir("localfs-parquet")
    rows.withColumn("d", lit(1.5)).write.parquet(s"$dir/multi")
    spark.emptyDataset[(Long, String)].toDF("k", "v").write.parquet(s"$dir/empty")
    rows.write.partitionBy("v").parquet(s"$dir/partitioned")
    for (t <- Seq("multi", "empty", "partitioned")) {
      LocalFs.parquet(spark, s"$dir/$t").schema shouldBe spark.read.parquet(s"$dir/$t").schema
      LocalFs.parquet(spark, s"$dir/$t").count() shouldBe spark.read.parquet(s"$dir/$t").count()
    }
    LocalFs.parquet(spark, s"$dir/partitioned").columns.toSeq shouldBe Seq("k", "v")
  }
}
