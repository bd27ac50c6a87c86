package graft

import graft.health.{HealthGold, HealthSilver}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `department_performance` restates the reference's fan-out
  * (gold.sql:135-162) from per-key aggregates. This spec pins it
  * against the fan-out form itself (kept below as
  * `DepartmentPerformanceSpec.fanOut`) over small silver-shaped
  * frames, in both money modes, without the reference data: same
  * schema, exact counts, exact decimal values, and double values
  * within 1e-9 relative (the tolerance `HealthPipelineSpec` uses for
  * this mart).
  */
class DepartmentPerformanceSpec extends SparkSpec {

  import spark.implicits._

  private def dept: DataFrame = Seq[(String, String, String, String, Boolean)](
    ("D1-hosa", "D1", "Cardiology", "hosa", false),
    ("D1-hosa", "D1", "Cardiology", "hosa", false), // a second row in one group
    ("D1-hosb", "D1", "Cardiology", "hosb", false), // hosb shares hosa's split key
    ("D2-hosa", "D2", "Oncology", "hosa", false),   // encounters, no transactions
    ("D3-hosa", "D3", "Radiology", "hosa", false),  // transactions, no encounters
    ("D4-hosa", "D4", "Pediatrics", "hosa", false), // neither
    ("D5-hosa", "D5", "Neurology", "hosa", true),   // quarantined
    (null, null, "Unknown", "hosa", false))         // NULL key matches nothing
    .toDF("Dept_Id", "SRC_Dept_Id", "Name", "datasource", "is_quarantined")

  private def encounters: DataFrame = Seq[(String, String)](
    ("E1-hosa", "D1"), ("E2-hosa", "D1"), ("E2-hosa", "D1"), // a repeated key
    (null, "D1"),                                             // NULL Encounter_Key
    ("E3-hosa", "D2"), ("E4-hosb", "D2"),
    ("E5-hosa", "D5"),
    ("E6-hosa", null))
    .toDF("Encounter_Key", "DepartmentID")

  private def transactions(money: DataType): DataFrame = Seq[(String, String, String, String)](
    ("T1-hosa", "D1", "100.10", "80.05"),
    ("T2-hosa", "D1", "250.99", null),      // NULL PaidAmount
    ("T3-hosb", "D1", null, "12.34"),       // NULL Amount
    ("T3-hosb", "D1", "0.01", "0.02"),      // a repeated key
    ("T4-hosa", "D3", "19.99", "19.99"),
    ("T5-hosa", "D3", null, null),
    ("T6-hosa", "D5", "999.99", "999.99"),
    ("T7-hosa", null, "5.00", "5.00"))
    .toDF("Transaction_Key", "DeptID", "Amount", "PaidAmount")
    .withColumn("Amount", col("Amount").cast(money))
    .withColumn("PaidAmount", col("PaidAmount").cast(money))

  private def check(money: DataType): Unit = {
    val tx = transactions(money)
    val got = HealthGold.departmentPerformance(dept, encounters, tx)
    val want = DepartmentPerformanceSpec.fanOut(dept, encounters, tx)
    got.schema.map(f => f.name -> f.dataType) shouldBe want.schema.map(f => f.name -> f.dataType)

    def byGroup(df: DataFrame): Map[(String, String), Row] =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val g = byGroup(got)
    val w = byGroup(want)
    g.keySet shouldBe w.keySet
    g.size shouldBe 6 // D1-hosa, D1-hosb, D2, D3, D4, NULL; D5 quarantined
    w.foreach { case (k, wr) =>
      val gr = g(k)
      withClue(s"$money $k: ") {
        gr.getLong(2) shouldBe wr.getLong(2)
        gr.getLong(3) shouldBe wr.getLong(3)
        (4 to 6).foreach { i =>
          if (money == DoubleType) {
            val (a, b) = (gr.getDouble(i), wr.getDouble(i))
            if (b == 0.0) a shouldBe 0.0
            else math.abs(a - b) / math.abs(b) should be < 1e-9
          } else gr.getDecimal(i) shouldBe wr.getDecimal(i)
        }
      }
    }
    // the fan-out multiplicity is really exercised: D1-hosa's two dept
    // rows × four encounter rows carry each D1 transaction eight times
    w(("D1-hosa", "Cardiology")).get(4).toString.toDouble shouldBe 8 * 351.10 +- 1e-6
  }

  test("department_performance equals the fan-out form in double mode") {
    check(DoubleType)
  }

  test("department_performance equals the fan-out form in decimal mode") {
    check(HealthSilver.MoneyDecimal)
  }
}

object DepartmentPerformanceSpec {

  /** The mart as the reference's join shape defines it: dept ⟕
    * encounters ⟕ transactions on the split key, aggregated over the
    * fan-out. Kept only as the reference the restated form must equal. */
  def fanOut(dept: DataFrame, e: DataFrame, t: DataFrame): DataFrame = {
    def z(df: DataFrame, c: String) = lit(0).cast(df.schema(c).dataType)
    dept.filter(col("is_quarantined") === false)
      .join(e, split(dept("Dept_Id"), "-").getItem(0) === e("DepartmentID"), "left")
      .join(t, split(dept("Dept_Id"), "-").getItem(0) === t("DeptID"), "left")
      .groupBy(dept("Dept_Id"), dept("Name").as("DepartmentName"))
      .agg(
        countDistinct(e("Encounter_Key")).as("TotalEncounters"),
        countDistinct(t("Transaction_Key")).as("TotalTransactions"),
        sum(coalesce(t("Amount"), z(t, "Amount"))).as("TotalBilledAmount"),
        sum(coalesce(t("PaidAmount"), z(t, "PaidAmount"))).as("TotalPaidAmount"),
        avg(coalesce(t("PaidAmount"), z(t, "PaidAmount"))).as("AvgPaymentPerTransaction"))
  }
}
