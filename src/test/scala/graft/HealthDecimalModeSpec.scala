package graft

import java.nio.file.Paths
import java.sql.Timestamp
import java.time.LocalDate

import graft.health.HealthPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The opt-in DECIMAL monetary mode (SURVEY §7.4 extension): with
  * `spark.graft.decimalMoney=true` the medallion types every monetary
  * column DECIMAL(18,2) end-to-end — exact, order-independent cents
  * arithmetic — while the DEFAULT stays reference-faithful FLOAT64
  * (silver.sql:218,220,502-508). Values are pinned against an
  * independent decimal restatement straight off the raw seed CSVs, so
  * the mode is verified to change the TYPE and nothing else. The two
  * tests over the reference data have twins over generated fixtures
  * ([[MedallionFixtures]]), which run in every environment.
  */
class HealthDecimalModeSpec extends SparkSpec {

  private val fixtures = "/root/reference/data"
  private val configCsv = "/root/reference/configs/load_config.csv"
  private def haveFixtures = new java.io.File(fixtures).isDirectory

  test("decimal mode: DECIMAL(18,2) through silver and gold, values exact vs raw CSVs") {
    assume(haveFixtures, "reference fixtures not present")
    val t1 = Timestamp.valueOf("2025-01-15 05:00:00")
    spark.conf.set(HealthPipeline.DecimalMoneyKey, "true")
    try {
      val pipe = new HealthPipeline(spark, fixtures, configCsv, tmpDir("healthdec"), () => t1)
      val results = pipe.run(LocalDate.of(2025, 1, 15))
      results.map(_.status).distinct shouldBe Seq("SUCCESS")

      // silver: monetary columns are DECIMAL(18,2); keys/dates untouched
      val tx = pipe.silver("transactions")
      tx.schema("Amount").dataType shouldBe DecimalType(18, 2)
      tx.schema("PaidAmount").dataType shouldBe DecimalType(18, 2)
      val cl = pipe.silver("claims")
      Seq("ClaimAmount", "PaidAmount", "Deductible", "Coinsurance", "Copay")
        .foreach(c => cl.schema(c).dataType shouldBe DecimalType(18, 2))

      // values: exact equality with an independent decimal restatement
      // over the raw seed CSVs (staging conciliates but drops no rows —
      // quarantine only flags), proving the mode changes type, not data
      val rawSum = Seq("hospital-a", "hospital-b").map { h =>
        spark.read.option("header", "true")
          .csv(s"$fixtures/emr/$h/transactions.csv")
          .select(sum(expr("try_cast(Amount AS DECIMAL(18,2))")).as("s"))
          .head().getDecimal(0)
      }.reduce(_ add _)
      val silverSum = tx.select(sum(col("Amount")).as("s")).head().getDecimal(0)
      silverSum.compareTo(rawSum) shouldBe 0

      // gold: the marts preserve decimal through COALESCE + SUM/AVG
      // (sum widens precision but stays decimal — never silently double)
      val dp = pipe.gold("department_performance")
      dp.schema("TotalBilledAmount").dataType shouldBe a[DecimalType]
      dp.schema("AvgPaymentPerTransaction").dataType shouldBe a[DecimalType]
      val ph = pipe.gold("patient_history")
      ph.schema("BilledAmount").dataType shouldBe DecimalType(18, 2)
      ph.schema("ClaimAmount").dataType shouldBe DecimalType(18, 2)
    } finally spark.conf.unset(HealthPipeline.DecimalMoneyKey)
  }

  test("default mode stays double; flipping the mode over standing history is refused") {
    assume(haveFixtures, "reference fixtures not present")
    val t1 = Timestamp.valueOf("2025-01-15 05:00:00")
    val pipe = new HealthPipeline(spark, fixtures, configCsv, tmpDir("healthflt"), () => t1)
    pipe.run(LocalDate.of(2025, 1, 15)).map(_.status).distinct shouldBe Seq("SUCCESS")
    pipe.silver("transactions").schema("Amount").dataType shouldBe DoubleType
    pipe.gold("patient_history").schema("BilledAmount").dataType shouldBe DoubleType

    // flip decimalMoney over the float history: the SCD2 merge would
    // silently widen decimal staging back to double — the silver stage
    // must REFUSE instead (type drift is a migration, not a merge)
    spark.conf.set(HealthPipeline.DecimalMoneyKey, "true")
    try {
      val res = pipe.run(LocalDate.of(2025, 1, 16), sleep = _ => ())
      val silverStage = res.find(_.name == "silver").get
      silverStage.status shouldBe "FAILED"
      silverStage.error.get should include("decimalMoney")
      // standing history untouched — still the float-mode schema
      pipe.silver("transactions").schema("Amount").dataType shouldBe DoubleType
    } finally spark.conf.unset(HealthPipeline.DecimalMoneyKey)
  }

  private val gen = MedallionFixtures(seed = 29)

  /** A pipeline over generated snapshot `day` with day `d`'s clock. */
  private def generated(root: java.nio.file.Path, day: Int, d: Int): HealthPipeline = {
    val src = root.resolve(s"day-$day")
    if (!java.nio.file.Files.isDirectory(src)) gen.write(src, day)
    new HealthPipeline(spark, src.toString, s"$src/load_config.csv", root.resolve("work").toString,
      () => MedallionFixtures.clock(d))
  }

  test("generated fixtures: decimal mode is exact through silver and gold vs the raw CSVs") {
    val root = Paths.get(tmpDir("healthdec-gen"))
    spark.conf.set(HealthPipeline.DecimalMoneyKey, "true")
    try {
      for (d <- 0 to 1) generated(root, d, d).run(MedallionFixtures.runDate(d), retryDelayMs = 0L)
        .filter(_.status != "SUCCESS") shouldBe empty
      val pipe = generated(root, 1, 1)
      val tx = pipe.silver("transactions")
      Seq("Amount", "PaidAmount").foreach(c => tx.schema(c).dataType shouldBe DecimalType(18, 2))
      val cl = pipe.silver("claims")
      Seq("ClaimAmount", "PaidAmount", "Deductible", "Coinsurance", "Copay")
        .foreach(c => cl.schema(c).dataType shouldBe DecimalType(18, 2))

      // the daily run closes re-stamped rows without inserting their new
      // versions (close-then-insert), so silver holds day 0's rows
      val day0 = root.resolve("day-0")
      def raw(table: String) = Seq("hospital-a", "hospital-b")
        .map(h => spark.read.option("header", "true").csv(s"$day0/emr/$h/$table.csv"))
        .reduce(_ unionByName _)
      val rawTx = raw("transactions").select(col("DeptID"),
        expr("try_cast(Amount AS DECIMAL(18,2))").as("Amount"))
      tx.agg(sum("Amount")).head().getDecimal(0)
        .compareTo(rawTx.agg(sum("Amount")).head().getDecimal(0)) shouldBe 0

      // gold: each department row bills its key's transactions once per
      // encounter row of that key (the reference's fan-out), exactly
      val encRows = raw("encounters").groupBy(col("DepartmentID").as("k")).agg(count(lit(1)).as("n"))
      val billed = rawTx.groupBy(col("DeptID").as("k")).agg(sum("Amount").as("amt"))
        .join(encRows, Seq("k"), "left")
        .select(col("k"), (col("amt") * coalesce(col("n"), lit(1L))).as("amt"))
        .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
      val dp = pipe.gold("department_performance")
      dp.schema("TotalBilledAmount").dataType shouldBe a[DecimalType]
      dp.schema("AvgPaymentPerTransaction").dataType shouldBe a[DecimalType]
      val got = dp.select("Dept_Id", "TotalBilledAmount").collect()
      got should have length 2L * gen.depts
      got.foreach { r =>
        val k = r.getString(0).split("-")(0)
        withClue(k)(r.getDecimal(1).compareTo(billed(k)) shouldBe 0)
      }
      val ph = pipe.gold("patient_history")
      Seq("BilledAmount", "PaidAmount", "ClaimAmount", "ClaimPaidAmount")
        .foreach(c => ph.schema(c).dataType shouldBe DecimalType(18, 2))
    } finally spark.conf.unset(HealthPipeline.DecimalMoneyKey)
  }

  test("generated fixtures: a mode flip is refused by a daily run whose claims and CPT inputs are unchanged") {
    val root = Paths.get(tmpDir("healthflt-gen"))
    generated(root, 0, 0).run(MedallionFixtures.runDate(0), retryDelayMs = 0L)
      .filter(_.status != "SUCCESS") shouldBe empty
    val claimsBefore = generated(root, 0, 0).silver("claims").count()

    // the same snapshot again: no incremental delta, and the claims
    // and CPT files the bronze loads skip on; only claims carries money
    spark.conf.set(HealthPipeline.DecimalMoneyKey, "true")
    try {
      val pipe = generated(root, 0, 1)
      val res = pipe.run(MedallionFixtures.runDate(1), retryDelayMs = 0L)
      res.filter(_.status != "SUCCESS").map(_.name) shouldBe Seq("silver", "gold")
      val silverStage = res.find(_.name == "silver").get
      silverStage.status shouldBe "FAILED"
      silverStage.error.get should include("silver.claims")
      silverStage.error.get should include("decimalMoney")
      spark.read.parquet(root.resolve("work/pipeline_logs").toString)
        .filter(col("step") === "skip" && col("log_timestamp") === MedallionFixtures.clock(1))
        .select("tablename").collect().map(_.getString(0)).toSet should contain allOf
        ("claims", "cpt_codes")
      // standing history untouched
      val cl = pipe.silver("claims")
      cl.schema("ClaimAmount").dataType shouldBe DoubleType
      cl.count() shouldBe claimsBefore
    } finally spark.conf.unset(HealthPipeline.DecimalMoneyKey)
  }
}
