package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate

import graft.ingest._
import org.apache.spark.sql.functions._

/** Unit coverage for the ingestion spine: audit watermarks, landing
  * archive semantics, the config-driven loader's failure isolation and
  * zero-row short-circuit, and the stage orchestrator's retry/halt
  * behavior (reference hospitalA_mysqlToLanding.py:96-257,
  * parent_dag.py/bq_dag.py retry defaults).
  */
class BootstrapSpec extends SparkSpec {

  test("ensureTables creates both stores once and never clobbers existing data") {
    val audit = tmpDir("boot") + "/audit"
    val logs = tmpDir("boot") + "/logs"
    Bootstrap.ensureTables(spark, audit, logs) shouldBe ((true, true))
    // seed a row, then re-init: second call reports existing and keeps it
    new AuditLog(spark, audit)
      .append(AuditRecord("db", "t", "Full", 1, Timestamp.valueOf("2024-01-01 00:00:00"), "SUCCESS"))
    Bootstrap.ensureTables(spark, audit, logs) shouldBe ((false, false))
    spark.read.parquet(audit).count() shouldBe 1
  }
}

class AuditLogSpec extends SparkSpec {

  private def fixed(s: String) = Timestamp.valueOf(s)

  test("latestWatermark defaults to 1900-01-01 when nothing was loaded") {
    val audit = new AuditLog(spark, tmpDir("audit") + "/none")
    audit.latestWatermark("src", "t") shouldBe fixed("1900-01-01 00:00:00")
  }

  test("latestWatermark takes the max SUCCESS row for the exact (datasource, table)") {
    val audit = new AuditLog(spark, tmpDir("audit") + "/log")
    audit.append(AuditRecord("src", "t", "Incremental", 5, fixed("2024-01-01 00:00:00"), "SUCCESS"))
    audit.append(AuditRecord("src", "t", "Incremental", 7, fixed("2024-03-01 00:00:00"), "SUCCESS"))
    audit.append(AuditRecord("src", "t", "Incremental", 0, fixed("2024-06-01 00:00:00"), "FAILED"))
    audit.append(AuditRecord("src", "other", "Full", 1, fixed("2024-09-01 00:00:00"), "SUCCESS"))
    audit.append(AuditRecord("src2", "t", "Full", 1, fixed("2024-09-01 00:00:00"), "SUCCESS"))
    // FAILED rows and other tables/datasources must not advance it
    audit.latestWatermark("src", "t") shouldBe fixed("2024-03-01 00:00:00")
  }
}

class LandingZoneSpec extends SparkSpec {
  import spark.implicits._

  private val day = LocalDate.of(2025, 2, 3)

  test("JSON-lines write/read roundtrip") {
    val lz = new LandingZone(spark, tmpDir("lz"))
    lz.write(Seq(("a", "1"), ("b", "2")).toDF("k", "v"), "src", "t")
    val back = lz.read("src", "t")
    back.count() shouldBe 2
    back.columns.sorted shouldBe Array("k", "v")
  }

  test("archive moves files to the dated prefix and removes the source dir") {
    val root = tmpDir("lz")
    val lz = new LandingZone(spark, root)
    lz.write(Seq(("a", "1")).toDF("k", "v"), "src", "t")
    val n = lz.archive("src", "t", day)
    n should be > 0
    Files.exists(Paths.get(s"$root/src/t")) shouldBe false
    val archived = new java.io.File(s"$root/src/archive/t/2025/02/03").listFiles()
    // exclude Hadoop LocalFileSystem's hidden .crc shadow files
    archived.count(f => f.isFile && !f.getName.startsWith(".")) shouldBe n
  }

  test("same-day re-archive uniquifies colliding names instead of losing files") {
    val root = tmpDir("lz")
    val lz = new LandingZone(spark, root)
    lz.write(Seq(("a", "1")).toDF("k", "v"), "src", "t")
    val n1 = lz.archive("src", "t", day)
    lz.write(Seq(("b", "2"), ("c", "3")).toDF("k", "v"), "src", "t")
    val n2 = lz.archive("src", "t", day)
    val archived = new java.io.File(s"$root/src/archive/t/2025/02/03").listFiles()
    archived.count(f => f.isFile && !f.getName.startsWith(".")) shouldBe
      (n1 + n2) // nothing silently dropped
  }

  test("archive of a missing table dir is a zero no-op") {
    new LandingZone(spark, tmpDir("lz")).archive("src", "absent", day) shouldBe 0
  }
}

class IngestionRunnerSpec extends SparkSpec {

  private val day = LocalDate.of(2025, 2, 3)
  private def fixed(s: String) = Timestamp.valueOf(s)

  private def writeCsv(dir: String, table: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/$table.csv"),
      rows.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private def mkRunner(srcDir: String, work: String, clock: Timestamp) = {
    val audit = new AuditLog(spark, s"$work/audit")
    val landing = new LandingZone(spark, s"$work/landing")
    val logger = new PipelineLogger(spark, s"$work/logs", () => clock)
    (new IngestionRunner(spark, new CsvSource(srcDir), landing, audit, logger, () => clock),
      audit, landing, logger)
  }

  private def entry(table: String, loadtype: String = "Full", wm: String = "") =
    LoadConfigEntry("db", "src", table, loadtype, wm, isActive = true, "p")

  test("full load writes landing and a SUCCESS audit row with the count") {
    val src = tmpDir("ing-src")
    writeCsv(src, "alpha", Seq("id,ModifiedDate", "1,2024-01-01", "2,2024-02-01"))
    val (runner, audit, landing, _) = mkRunner(src, tmpDir("ing-work"), fixed("2025-01-01 00:00:00"))
    val res = runner.run(Seq(entry("alpha")), "src", day)
    res.map(r => (r.status, r.records)) shouldBe Seq(("SUCCESS", 2L))
    landing.read("src", "alpha").count() shouldBe 2
    val a = audit.all().collect()
    a should have length 1
    a.head.getAs[String]("status") shouldBe "SUCCESS"
    a.head.getAs[Long]("record_count") shouldBe 2L
  }

  test("zero-row incremental short-circuits: no landing write, audit still SUCCESS") {
    val src = tmpDir("ing-src")
    writeCsv(src, "alpha", Seq("id,ModifiedDate", "1,2024-01-01"))
    val work = tmpDir("ing-work")
    val (runner, audit, landing, logger) = mkRunner(src, work, fixed("2025-01-01 00:00:00"))
    // pre-seed a watermark AFTER every source row
    audit.append(AuditRecord("src", "alpha", "Incremental", 1, fixed("2024-12-31 00:00:00"), "SUCCESS"))
    val res = runner.loadTable(entry("alpha", "Incremental", "ModifiedDate"), day)
    res.status shouldBe "SUCCESS"
    res.records shouldBe 0L
    Files.exists(Paths.get(s"$work/landing/src/alpha")) shouldBe false
    logger.pending.exists(e => e.event_type == "WARNING" && e.tablename == "alpha") shouldBe true
    audit.all().filter(col("record_count") === 0).count() shouldBe 1
  }

  test("a failing table is audited FAILED and does not stop the run") {
    val src = tmpDir("ing-src")
    writeCsv(src, "beta", Seq("id,ModifiedDate", "9,2024-01-01"))
    val (runner, audit, _, _) = mkRunner(src, tmpDir("ing-work"), fixed("2025-01-01 00:00:00"))
    val res = runner.run(Seq(entry("missing"), entry("beta")), "src", day)
    res.map(_.status) shouldBe Seq("FAILED", "SUCCESS")
    res.head.error should not be empty
    audit.all().filter(col("status") === "FAILED").count() shouldBe 1
    audit.all().filter(col("status") === "SUCCESS").count() shouldBe 1
  }

  test("a run over three tables, one failing, appends its audit rows as one file") {
    val src = tmpDir("ing-src")
    writeCsv(src, "alpha", Seq("id,ModifiedDate", "1,2024-01-01"))
    writeCsv(src, "beta", Seq("id,ModifiedDate", "2,2024-01-01", "3,2024-02-01"))
    val work = tmpDir("ing-work")
    val (runner, audit, _, _) = mkRunner(src, work, fixed("2025-01-01 00:00:00"))
    audit.append(AuditRecord("src", "older", "Full", 1, fixed("2024-01-01 00:00:00"), "SUCCESS"))
    def parts = Option(new java.io.File(s"$work/audit").listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
    val before = parts
    val res = runner.run(Seq(entry("alpha"), entry("missing"), entry("beta")), "src", day)
    res.map(r => (r.table, r.status, r.records)) shouldBe
      Seq(("alpha", "SUCCESS", 1L), ("missing", "FAILED", 0L), ("beta", "SUCCESS", 2L))
    val added = parts -- before
    added should have size 1
    val rows = spark.read.parquet(s"$work/audit/${added.head}")
      .select("tablename", "status", "record_count").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    rows.toSeq shouldBe
      Seq(("alpha", "SUCCESS", 1L), ("beta", "SUCCESS", 2L), ("missing", "FAILED", 0L))
  }

  test("inactive and other-datasource config rows are skipped") {
    val src = tmpDir("ing-src")
    writeCsv(src, "alpha", Seq("id,ModifiedDate", "1,2024-01-01"))
    val (runner, _, _, _) = mkRunner(src, tmpDir("ing-work"), fixed("2025-01-01 00:00:00"))
    val cfg = Seq(
      entry("alpha"),
      entry("alpha").copy(isActive = false, tablename = "inactive"),
      entry("alpha").copy(datasource = "other", tablename = "foreign"))
    runner.run(cfg, "src", day).map(_.table) shouldBe Seq("alpha")
  }
}

class PipelineLoggerSpec extends SparkSpec {

  test("8 threads logging 100 events each: one flush writes exactly 800 rows") {
    val path = tmpDir("plog") + "/logs"
    val logger = new PipelineLogger(spark, path, () => Timestamp.valueOf("2025-01-01 00:00:00"))
    val threads = (0 until 8).map(t => new Thread(() =>
      (0 until 100).foreach(i => logger.info(s"event $i", "step", s"t$t"))))
    threads.foreach(_.start())
    threads.foreach(_.join())
    logger.pending should have size 800
    logger.flush()
    logger.pending shouldBe empty
    logger.flush() // nothing left: no second write
    val written = spark.read.parquet(path)
    written.count() shouldBe 800
    written.groupBy("tablename").count().collect().map(_.getLong(1)).toSet shouldBe Set(100L)
  }
}

class PipelineRunnerSpec extends SparkSpec {

  private def logger(work: String) =
    new PipelineLogger(spark, s"$work/logs", () => Timestamp.valueOf("2025-01-01 00:00:00"))

  /** Recording sleeper: delays are asserted, never waited out. */
  private class Sleeps {
    val ms = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fn: Long => Unit = ms += _
  }

  test("a stage that fails once succeeds on the retry, after the 5-min delay") {
    var calls = 0
    val sleeps = new Sleeps
    val res = PipelineRunner.run(Seq(
      Stage("flaky", () => { calls += 1; if (calls == 1) sys.error("boom") })),
      logger(tmpDir("pr")), sleep = sleeps.fn)
    res.map(r => (r.name, r.status, r.attempts)) shouldBe Seq(("flaky", "SUCCESS", 2))
    // retry_delay parity: one sleep of 5 min between the attempts
    // (parent_dag.py:16-17)
    sleeps.ms.toSeq shouldBe Seq(PipelineRunner.DefaultRetryDelayMs)
  }

  test("a stage that exhausts retries halts the run; downstream stages are skipped") {
    var downstream = 0
    val sleeps = new Sleeps
    val res = PipelineRunner.run(Seq(
      Stage("bad", () => sys.error("always")),
      Stage("after", () => downstream += 1)),
      logger(tmpDir("pr")), sleep = sleeps.fn)
    res.map(r => (r.name, r.status)) shouldBe
      Seq(("bad", "FAILED"), ("after", "SKIPPED"))
    res.head.attempts shouldBe 2 // 1 try + 1 retry (bq_dag.py:39-40)
    res.head.error should not be empty
    downstream shouldBe 0
    // delay precedes the retry but NOT the terminal failure
    sleeps.ms.toSeq shouldBe Seq(PipelineRunner.DefaultRetryDelayMs)
  }

  test("an all-green chain runs every stage once, in order, with no delays") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val sleeps = new Sleeps
    val res = PipelineRunner.run(Seq(
      Stage("a", () => order += "a"),
      Stage("b", () => order += "b")),
      logger(tmpDir("pr")), sleep = sleeps.fn)
    res.map(_.status).distinct shouldBe Seq("SUCCESS")
    order.toSeq shouldBe Seq("a", "b")
    sleeps.ms shouldBe empty
  }

  test("millisUntilNext targets today's 05:00 UTC before it, tomorrow's after") {
    import java.time.Instant
    PipelineRunner.millisUntilNext(5, 0, Instant.parse("2025-01-01T03:00:00Z")) shouldBe
      2 * 3600 * 1000L
    PipelineRunner.millisUntilNext(5, 0, Instant.parse("2025-01-01T06:30:00Z")) shouldBe
      (24 - 1) * 3600 * 1000L - 30 * 60 * 1000L
    // exactly on the tick: schedule the NEXT day's run, never a 0-sleep
    PipelineRunner.millisUntilNext(5, 0, Instant.parse("2025-01-01T05:00:00Z")) shouldBe
      24 * 3600 * 1000L
  }

  test("runDaily sleeps to the daily 05:00 tick, runs the chain, repeats") {
    import java.time.Instant
    var runs = 0
    val sleeps = new Sleeps
    // injected clock: advances one day per tick, starting 04:00 UTC
    var t = Instant.parse("2025-01-01T04:00:00Z")
    PipelineRunner.runDaily(
      Seq(Stage("s", () => runs += 1)), logger(tmpDir("pr")),
      hour = 5, rounds = 2,
      now = () => { val cur = t; t = cur.plusSeconds(24 * 3600); cur },
      sleep = sleeps.fn)
    runs shouldBe 2
    // one cadence sleep of 1h per round (04:00 -> 05:00), no retry sleeps
    sleeps.ms.toSeq shouldBe Seq(3600 * 1000L, 3600 * 1000L)
  }
}
