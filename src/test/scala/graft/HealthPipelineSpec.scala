package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate

import graft.health.HealthPipeline
import graft.ingest.{LoadConfig, PipelineRunner, Stage}
import graft.ops.LocalFs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType, TimestampType}

/** End-to-end medallion over the reference's own seed data (gold row
  * counts, quarantine counts, audit trail), plus a synthetic multi-run
  * spec pinning watermark-incremental extraction and the SCD2
  * close-then-insert run-over-run semantics (SURVEY §5.2 items 2-3,
  * §7.4 item 4), and a synthetic twin of the decimal-mode drift
  * refusal that runs without the reference data. A generated-fixture
  * twin of the reference run ([[MedallionFixtures]]) runs a full load
  * and a daily run everywhere, and pins that every table the pipeline
  * reads gets Spark's inferred schema without a Spark job.
  */
class HealthPipelineSpec extends SparkSpec {

  private val fixtures = "/root/reference/data"
  private val configCsv = "/root/reference/configs/load_config.csv"
  private def haveFixtures = new java.io.File(fixtures).isDirectory

  private val runDate = LocalDate.of(2025, 1, 15)

  test("full pipeline over the reference fixtures: ingestion, silver, gold") {
    assume(haveFixtures, "reference fixtures not present")
    val t1 = Timestamp.valueOf("2025-01-15 05:00:00")
    val pipe = new HealthPipeline(spark, fixtures, configCsv, tmpDir("health"), () => t1)

    val results = pipe.run(runDate)
    results.map(_.status).distinct shouldBe Seq("SUCCESS")
    results should have length 7

    // audit: one SUCCESS row per (hospital, table) = 2 x 5
    val audit = pipe.audit.all()
    audit.filter(col("status") === "SUCCESS").count() shouldBe 10
    audit.filter(col("status") === "FAILED").count() shouldBe 0

    // silver row counts against the seed data volumes (SURVEY §6)
    val patients = pipe.silver("patients").cache()
    patients.count() shouldBe 10000
    patients.filter(col("is_current")).count() shouldBe 10000
    patients.groupBy("Patient_Key").count().filter(col("count") > 1).count() shouldBe 0
    patients.schema("DOB").dataType shouldBe TimestampType
    patients.select(min(col("inserted_date"))).head().getTimestamp(0) shouldBe t1

    pipe.silver("encounters").count() shouldBe 20000
    pipe.silver("transactions").count() shouldBe 20000
    // claims: both files share the full ClaimID range and silver tags
    // everything 'hosa' (silver.sql:564) -> two current rows per key;
    // faithful to the reference's own first run
    val claims = pipe.silver("claims").cache()
    claims.count() shouldBe 20000
    claims.select(countDistinct(col("Claim_Key"))).head().getLong(0) shouldBe 10000
    pipe.silver("cpt_codes").count() shouldBe 1161

    // quarantine counts vs an independent restatement of the raw rules
    val rawHa = spark.read.option("header", "true").csv(s"$fixtures/emr/hospital-a/patients.csv")
    val rawHb = spark.read.option("header", "true").csv(s"$fixtures/emr/hospital-b/patients.csv")
    val expectQuarantined =
      rawHa.filter(col("PatientID").isNull || col("DOB").isNull ||
        col("FirstName").isNull || lower(col("FirstName")) === "null").count() +
      rawHb.filter(col("ID").isNull || col("DOB").isNull ||
        col("F_Name").isNull || lower(col("F_Name")) === "null").count()
    patients.filter(col("is_quarantined")).count() shouldBe expectQuarantined

    // gold marts. NOTE a seed-data quirk the pipeline must reproduce,
    // not repair: providers carry 'H1-'/'H2-'-prefixed IDs while the
    // fact tables reference bare 'PROV####', so every provider join
    // matches nothing — provider_charge_summary is EMPTY (all rows
    // fail the d.Name IS NOT NULL filter) and provider_performance
    // keeps all providers with zero/NULL KPIs. Department joins DO
    // match (DepartmentID/DeptID are unprefixed).
    val pcs = pipe.gold("provider_charge_summary")
    pcs.columns.toSeq shouldBe Seq("Provider_Name", "Dept_Name", "Amount")
    pcs.count() shouldBe 0

    pipe.gold("patient_history").count() should be > 0L

    val perf = pipe.gold("provider_performance").cache()
    perf.count() shouldBe pipe.silver("providers").count() // left-preserved
    perf.filter(col("TotalEncounters") =!= 0).count() shouldBe 0
    perf.filter(col("ClaimApprovalRate").isNotNull).count() shouldBe 0 // 0 claims -> NULL rate
    perf.unpersist()

    val dp = pipe.gold("department_performance").cache()
    dp.count() shouldBe 40 // 20 depts x 2 datasources, none quarantined
    // independent same-shape restatement of the billed total
    pipe.silver("transactions").createOrReplaceTempView("hs_tx")
    pipe.silver("encounters").createOrReplaceTempView("hs_enc")
    pipe.silver("departments").createOrReplaceTempView("hs_dept")
    val expectTotal = spark.sql(
      """SELECT sum(coalesce(t.Amount, 0.0)) AS total
        |FROM hs_dept d
        |LEFT JOIN hs_enc e ON split(d.Dept_Id, '-')[0] = e.DepartmentID
        |LEFT JOIN hs_tx t ON split(d.Dept_Id, '-')[0] = t.DeptID
        |WHERE d.is_quarantined = false""".stripMargin).head().getDouble(0)
    val gotTotal = dp.agg(sum(col("TotalBilledAmount"))).head().getDouble(0)
    math.abs(gotTotal - expectTotal) / math.abs(expectTotal) should be < 1e-9
    dp.unpersist()
    patients.unpersist(); claims.unpersist()
  }

  test("multi-run watermark incremental + SCD2 close-then-insert over three runs") {
    // synthetic single-table fixture so each run's delta is controlled
    val root = tmpDir("health-runs")
    val srcDir = s"$root/emr/hospital-a"
    Files.createDirectories(Paths.get(srcDir))
    val header = "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate"
    def writePatients(rows: String*): Unit =
      Files.write(Paths.get(s"$srcDir/patients.csv"),
        (header +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
    val cfg = s"$root/load_config.csv"
    Files.write(Paths.get(cfg),
      ("database,datasource,tablename,loadtype,watermark,is_active,targetpath\n" +
        "db,hospital_a_db,patients,Incremental,ModifiedDate,1,hospital-a")
        .getBytes(StandardCharsets.UTF_8))

    var now = Timestamp.valueOf("2025-01-01 00:00:00")
    val pipe = new HealthPipeline(spark, root, cfg, s"$root/work", () => now)
    def silverPatients = pipe.silver("patients")
    def ingestAndSilver(): Unit = {
      pipe.ingest("hospital_a_db", srcDir, runDate)
      pipe.runSilver()
    }

    // run 1: empty audit -> watermark 1900-01-01 -> everything extracts
    writePatients(
      "P1,Ann,Ray,A,s1,ph1,F,1990-01-01,Addr1,2024-01-05",
      "P2,Bob,Lee,B,s2,ph2,M,1991-02-02,Addr2,2024-02-06",
      "P3,Cal,Kim,C,s3,ph3,F,1992-03-03,Addr3,2024-03-07")
    ingestAndSilver()
    silverPatients.count() shouldBe 3
    silverPatients.filter(col("is_current")).count() shouldBe 3

    // run 2: P2 changed after the run-1 watermark -> ONLY P2 extracts;
    // SCD2 closes its current row and does NOT re-insert in the same
    // run (reference MERGE quirk b, silver.sql:142-199)
    now = Timestamp.valueOf("2025-07-01 00:00:00")
    writePatients(
      "P1,Ann,Ray,A,s1,ph1,F,1990-01-01,Addr1,2024-01-05",
      "P2,Bob,Lee,B,s2,ph2,M,1991-02-02,Addr2-NEW,2025-06-01",
      "P3,Cal,Kim,C,s3,ph3,F,1992-03-03,Addr3,2024-03-07")
    ingestAndSilver()
    val audit2 = pipe.audit.all()
      .filter(col("tablename") === "patients" && col("status") === "SUCCESS")
    audit2.count() shouldBe 2
    audit2.orderBy(col("load_timestamp").desc).select("record_count")
      .head().getLong(0) shouldBe 1 // only the delta row extracted
    val afterRun2 = silverPatients.cache()
    afterRun2.count() shouldBe 3
    afterRun2.filter(col("is_current")).select("SRC_PatientID")
      .collect().map(_.getString(0)).sorted shouldBe Array("P1", "P3")
    val closed = afterRun2.filter(!col("is_current")).collect()
    closed should have length 1
    closed.head.getAs[String]("SRC_PatientID") shouldBe "P2"
    closed.head.getAs[String]("Address") shouldBe "Addr2" // old version kept
    closed.head.getAs[Timestamp]("modified_date") shouldBe now
    afterRun2.unpersist()

    // run 3: P2 touched again -> extracts, key has no current row ->
    // NOT MATCHED insert of the new version
    now = Timestamp.valueOf("2025-10-01 00:00:00")
    writePatients(
      "P1,Ann,Ray,A,s1,ph1,F,1990-01-01,Addr1,2024-01-05",
      "P2,Bob,Lee,B,s2,ph2,M,1991-02-02,Addr2-NEW,2025-09-01",
      "P3,Cal,Kim,C,s3,ph3,F,1992-03-03,Addr3,2024-03-07")
    ingestAndSilver()
    val afterRun3 = silverPatients.cache()
    afterRun3.count() shouldBe 4
    afterRun3.filter(col("is_current")).count() shouldBe 3
    val p2cur = afterRun3.filter(col("is_current") && col("SRC_PatientID") === "P2").collect()
    p2cur should have length 1
    p2cur.head.getAs[String]("Address") shouldBe "Addr2-NEW"
    p2cur.head.getAs[Timestamp]("inserted_date") shouldBe now
    afterRun3.unpersist()

    // run 4: nothing changed -> zero-row short-circuit (no landing
    // write, audit records 0, silver untouched)
    now = Timestamp.valueOf("2025-11-01 00:00:00")
    ingestAndSilver()
    val audit4 = pipe.audit.all()
      .filter(col("tablename") === "patients" && col("status") === "SUCCESS")
    audit4.count() shouldBe 4
    audit4.orderBy(col("load_timestamp").desc).select("record_count")
      .head().getLong(0) shouldBe 0
    silverPatients.count() shouldBe 4
    silverPatients.filter(col("is_current")).count() shouldBe 3
  }

  test("flipping decimalMoney over standing history fails silver; other entities still publish") {
    val root = tmpDir("health-drift")
    val srcDir = s"$root/emr/hospital-a"
    Files.createDirectories(Paths.get(srcDir))
    Files.createDirectories(Paths.get(s"$root/cptcodes"))
    def write(path: String, lines: String*): Unit =
      Files.write(Paths.get(path), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    def writeDay(p2Address: String, p2Modified: String, t1Amount: String,
        t1Modified: String, cpt: String*): Unit = {
      write(s"$srcDir/patients.csv",
        "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate",
        "P1,Ann,Ray,A,s1,ph1,F,1990-01-01,Addr1,2024-01-05",
        s"P2,Bob,Lee,B,s2,ph2,M,1991-02-02,$p2Address,$p2Modified")
      write(s"$srcDir/transactions.csv",
        "TransactionID,EncounterID,PatientID,ProviderID,DeptID,VisitDate,ServiceDate,PaidDate," +
          "VisitType,Amount,AmountType,PaidAmount,ClaimID,PayorID,ProcedureCode,ICDCode," +
          "LineOfBusiness,MedicaidID,MedicareID,InsertDate,ModifiedDate",
        s"T1,E1,P1,PROV1,DEPT1,2024-01-02,2024-01-02,2024-01-09,Outpatient,$t1Amount,Co-pay," +
          s"10.00,C1,PAY1,99213,I10,Commercial,MC1,MR1,2024-01-02,$t1Modified",
        "T2,E2,P2,PROV1,DEPT1,2024-02-03,2024-02-03,2024-02-10,Inpatient,250.75,Insurance," +
          "200.00,C2,PAY1,99214,E11,Medicare,MC2,MR2,2024-02-03,2024-02-03")
      write(s"$root/cptcodes/cptcodes.csv",
        "Procedure Code Category,CPT Codes,Procedure Code Descriptions,Code Status" +: cpt: _*)
    }
    val cfg = s"$root/load_config.csv"
    write(cfg, "database,datasource,tablename,loadtype,watermark,is_active,targetpath",
      "db,hospital_a_db,patients,Incremental,ModifiedDate,1,hospital-a",
      "db,hospital_a_db,transactions,Incremental,ModifiedDate,1,hospital-a")

    var now = Timestamp.valueOf("2025-01-01 00:00:00")
    val pipe = new HealthPipeline(spark, root, cfg, s"$root/work", () => now)
    def silverRun(): Seq[graft.ingest.StageResult] = {
      pipe.ingest("hospital_a_db", srcDir, runDate)
      pipe.loadBronzeCpt()
      PipelineRunner.run(Seq(Stage("silver", () => pipe.runSilver())), pipe.logger,
        retries = 0)
    }

    // day 1, default (double) mode: standing float history
    writeDay("Addr2", "2024-02-06", "120.50", "2024-01-02",
      "Medicine,99213,Office visit,Active", "Medicine,99214,Office visit,Active")
    silverRun().map(r => (r.status, r.error)) shouldBe Seq(("SUCCESS", None))
    pipe.silver("transactions").schema("Amount").dataType shouldBe DoubleType

    // day 2 in decimal mode: P2, T1 and the CPT list change
    now = Timestamp.valueOf("2025-02-01 00:00:00")
    writeDay("Addr2-NEW", "2025-01-20", "130.50", "2025-01-20",
      "Medicine,99213,Office visit,Active", "Medicine,99214,Office visit,Active",
      "Surgery,10060,Drainage,Active")
    spark.conf.set(HealthPipeline.DecimalMoneyKey, "true")
    try {
      val silverStage = silverRun().find(_.name == "silver").get
      silverStage.status shouldBe "FAILED"
      silverStage.error.get should include("decimalMoney")
    } finally spark.conf.unset(HealthPipeline.DecimalMoneyKey)

    // transactions: the refused merge left the float history untouched
    val tx = pipe.silver("transactions")
    tx.schema("Amount").dataType shouldBe DoubleType
    tx.count() shouldBe 2
    tx.filter(col("Amount") === 120.5).count() shouldBe 1
    // patients (before transactions in entity order) and cpt_codes
    // (after it) both merged day 2 and published readable tables
    val patients = pipe.silver("patients")
    patients.filter(col("is_current")).select("SRC_PatientID")
      .collect().map(_.getString(0)).toSeq shouldBe Seq("P1")
    patients.filter(!col("is_current")).select("Address")
      .collect().map(_.getString(0)).toSeq shouldBe Seq("Addr2")
    val cpt = pipe.silver("cpt_codes")
    cpt.count() shouldBe 3
    cpt.filter(col("cpt_codes") === "10060" && col("is_current")).count() shouldBe 1
  }

  test("a delta whose column is empty in every row keeps that column through bronze and silver") {
    // the JSON writer omits null fields, so JSON inference over such a
    // landing loses the column and silver's projection cannot resolve it
    val root = tmpDir("health-allnull")
    val srcDir = s"$root/emr/hospital-a"
    Files.createDirectories(Paths.get(srcDir))
    def writeTransactions(rows: String*): Unit =
      Files.write(Paths.get(s"$srcDir/transactions.csv"), (
        ("TransactionID,EncounterID,PatientID,ProviderID,DeptID,VisitDate,ServiceDate,PaidDate," +
          "VisitType,Amount,AmountType,PaidAmount,ClaimID,PayorID,ProcedureCode,ICDCode," +
          "LineOfBusiness,MedicaidID,MedicareID,InsertDate,ModifiedDate") +: rows)
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    def row(id: String, amount: String, medicaid: String, modified: String) =
      s"$id,E1,P1,PROV1,DEPT1,2024-01-02,2024-01-02,2024-01-09,Outpatient,$amount,Co-pay," +
        s"10.00,C1,PAY1,99213,I10,Commercial,$medicaid,MR1,2024-01-02,$modified"
    val cfg = s"$root/load_config.csv"
    Files.write(Paths.get(cfg),
      ("database,datasource,tablename,loadtype,watermark,is_active,targetpath\n" +
        "db,hospital_a_db,transactions,Incremental,ModifiedDate,1,hospital-a")
        .getBytes(StandardCharsets.UTF_8))
    var now = Timestamp.valueOf("2025-01-01 00:00:00")
    val pipe = new HealthPipeline(spark, root, cfg, s"$root/work", () => now)
    def ingestAndSilver(): Seq[graft.ingest.StageResult] = {
      pipe.ingest("hospital_a_db", srcDir, runDate)
      PipelineRunner.run(Seq(Stage("silver", () => pipe.runSilver())), pipe.logger, retries = 0)
    }

    writeTransactions(row("T1", "120.50", "MC1", "2024-01-02"), row("T2", "80.25", "MC2", "2024-01-03"))
    ingestAndSilver().map(r => (r.status, r.error)) shouldBe Seq(("SUCCESS", None))

    // the delta: T1 changed and T3 new, MedicaidID empty in both rows
    now = Timestamp.valueOf("2025-02-01 00:00:00")
    writeTransactions(row("T1", "130.50", "", "2025-01-20"), row("T2", "80.25", "MC2", "2024-01-03"),
      row("T3", "55.00", "", "2025-01-21"))
    ingestAndSilver().map(r => (r.status, r.error)) shouldBe Seq(("SUCCESS", None))
    pipe.landing.read("hospital_a_db", "transactions").columns should contain("MedicaidID")

    val tx = pipe.silver("transactions")
    tx.count() shouldBe 3 // T1 closed (close-then-insert), T2 and T3 current
    tx.filter(col("is_current")).select("SRC_TransactionID", "MedicaidID").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).sortBy(_._1).toSeq shouldBe
      Seq(("T2", Some("MC2")), ("T3", None))
    tx.filter(!col("is_current")).select("MedicaidID").head().getString(0) shouldBe "MC1"
  }

  test("generated fixtures: full load and daily run, SCD2 counts, and every read's schema without a job") {
    val gen = MedallionFixtures(seed = 11)
    val root = Paths.get(tmpDir("health-gen"))
    val work = root.resolve("work").toString
    def pipeline(d: Int): HealthPipeline = {
      val src = root.resolve(s"day-$d")
      gen.write(src, d)
      new HealthPipeline(spark, src.toString, s"$src/load_config.csv", work,
        () => MedallionFixtures.clock(d))
    }
    for (d <- 0 to 1) {
      val results = pipeline(d).run(MedallionFixtures.runDate(d), retryDelayMs = 0L)
      results.map(r => (r.name, r.status, r.error)).filter(_._2 != "SUCCESS") shouldBe empty
      results should have length 7
    }
    val src = root.resolve("day-1").toString
    val pipe = new HealthPipeline(spark, src, s"$src/load_config.csv", work,
      () => MedallionFixtures.clock(1))

    val audit = pipe.audit.all()
    audit.filter(col("status") === "SUCCESS").count() shouldBe 20 // 2 runs x 2 hospitals x 5
    audit.filter(col("status") === "FAILED").count() shouldBe 0
    audit.filter(col("load_timestamp") === MedallionFixtures.clock(1) &&
      col("load_type") === "Incremental").agg(sum("record_count")).head().getLong(0) shouldBe
      6L * gen.changed // the re-stamped rows of 3 tables x 2 hospitals

    // SCD2 after the daily run: each re-stamped row closed its current
    // version (close-then-insert); hospital B's NULL names quarantined
    def scd2(t: String): (Long, Long, Long, Long) = {
      val r = pipe.silver(t).agg(count(lit(1)), count(when(col("is_current"), 1)),
        count(when(!col("is_current"), 1)), count(when(col("is_quarantined"), 1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val (p, f, k) = (gen.patients.toLong, gen.facts.toLong, gen.changed.toLong)
    val nullNamed = (0 until gen.patients).count(gen.nullNamed).toLong
    scd2("patients") shouldBe ((2 * p, 2 * p - 2 * k, 2 * k, nullNamed))
    scd2("encounters") shouldBe ((2 * f, 2 * f - 2 * k, 2 * k, 0L))
    scd2("transactions") shouldBe ((2 * f, 2 * f - 2 * k, 2 * k, 0L))
    // both claims files share the ClaimID range: two current rows per
    // key, one duplicate of each closed per later run
    val claims = pipe.silver("claims").agg(count(lit(1)), count(when(col("is_current"), 1)),
      countDistinct(col("Claim_Key"))).head()
    (claims.getLong(0), claims.getLong(1), claims.getLong(2)) shouldBe ((4 * f, 2 * f, f))
    pipe.silver("cpt_codes").count() shouldBe gen.cptRows
    pipe.silver("cpt_codes").columns should contain("procedure_code_descriptions")

    // gold: provider ids never match the facts' (the seed data's quirk)
    pipe.gold("provider_charge_summary").count() shouldBe 0
    pipe.gold("provider_performance").count() shouldBe pipe.silver("providers").count()
    pipe.gold("department_performance").count() shouldBe 2 * gen.depts

    // every table the pipeline reads: the helpers' schema is the one
    // Spark infers from the same path, and reading starts no job
    val ts = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
    val landed = for {
      ds <- Seq("hospital_a_db", "hospital_b_db")
      t <- Seq("patients", "encounters", "transactions", "providers", "departments")
    } yield (ds, t)
    landed.foreach { case (ds, t) =>
      Files.isDirectory(Paths.get(pipe.landing.tableDir(ds, t))) shouldBe true
    }
    val parquetTables = Seq("bronze/claims", "bronze/cpt_codes", "audit_log", "pipeline_logs") ++
      Seq("patients", "encounters", "transactions", "claims", "cpt_codes", "providers",
        "departments").map("silver/" + _) ++
      Seq("provider_charge_summary", "patient_history", "provider_performance",
        "department_performance").map("gold/" + _)
    val csvSources = (for {
      h <- Seq("hospital-a", "hospital-b")
      t <- Seq("patients", "encounters", "transactions", "providers", "departments")
    } yield s"$src/emr/$h/$t.csv") ++ Seq(s"$src/claims/*.csv", s"$src/cptcodes/cptcodes.csv")

    var read = Seq.empty[(String, StructType)]
    jobsStartedBy {
      read = landed.map { case (ds, t) => s"$ds/$t" -> pipe.landing.read(ds, t).schema } ++
        parquetTables.map(t => t -> LocalFs.parquet(spark, s"$work/$t").schema) ++
        csvSources.map(c => c -> LocalFs.csv(spark, c).schema)
      LoadConfig.read(spark, s"$src/load_config.csv")
    } shouldBe 0
    val inferred: Seq[StructType] =
      landed.map { case (ds, t) =>
        spark.read.option("timestampFormat", ts).json(pipe.landing.tableDir(ds, t)).schema } ++
        parquetTables.map(t => spark.read.parquet(s"$work/$t").schema) ++
        csvSources.map(c => spark.read.option("header", "true").csv(c).schema)
    read.map(_._1).zip(read.map(_._2).zip(inferred)).foreach {
      case ("hospital_b_db/transactions", (got, want)) =>
        // the documented difference: MedicaidID is null in every row of
        // this delta, so inference drops it and the recorded schema keeps it
        got.fieldNames should contain("MedicaidID")
        want.fieldNames should not contain "MedicaidID"
        StructType(got.filterNot(_.name == "MedicaidID")) shouldBe want
      case (name, (got, want)) => withClue(name)(got shouldBe want)
    }

    // the load config parsed on the driver is the one Spark's read gives
    val cfgRows = spark.read.option("header", "true").csv(s"$src/load_config.csv").collect()
    LoadConfig.read(spark, s"$src/load_config.csv").map(e =>
      Seq(e.database, e.datasource, e.tablename, e.loadtype, e.watermark,
        if (e.isActive) "1" else "0", e.targetpath)) shouldBe
      cfgRows.toSeq.map(r => Seq("database", "datasource", "tablename", "loadtype", "watermark",
        "is_active", "targetpath").map(c => Option(r.getAs[String](c)).getOrElse("")))
  }
}
