package graft.health

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's four gold marts
  * (/root/reference/src/pipelines/transforms/gold.sql) over the health
  * silver tables, column-for-column.
  *
  * Scale notes: providers/departments are dim-sized and broadcast. The
  * two "performance" marts are defined by the reference's fan-out
  * join shapes (gold.sql:121-127, 157-160): encounters × transactions
  * multiply per provider/department before aggregation, so the sums
  * count each transaction once per matching encounter row while the
  * COUNT DISTINCTs do not. `department_performance` keeps those
  * numbers but restates them from per-key aggregates — each fact is
  * reduced to one row per department key, then joined — so it never
  * materializes the product. `provider_performance` keeps the
  * fan-out shape: its provider ids ('H1-'/'H2-' prefixed) match no
  * fact row in the reference data or its generated twins, so its
  * joins stay empty and a restatement would buy nothing there.
  */
object HealthGold {

  /** Type-preserving zero for a COALESCE default (gold.sql's
    * `IFNULL(x, 0)`): a bare 0.0 literal would widen decimal-mode
    * amounts back to double, silently undoing the exact-cents
    * contract; casting 0 to the column's own type keeps float mode
    * bit-identical and decimal mode exact. */
  private def z(df: DataFrame, c: String) =
    lit(0).cast(df.schema(c).dataType)

  /** provider_charge_summary (gold.sql:5-25): tx ⟕ providers ⟕
    * departments on the split composite key, quarantine + null-name
    * filters, grouped SUM. */
  def providerChargeSummary(tx: DataFrame, prov: DataFrame, dept: DataFrame): DataFrame =
    tx.filter(col("is_quarantined") === false)
      .join(broadcast(prov), prov("ProviderID") === tx("ProviderID"), "left")
      .join(broadcast(dept), split(dept("Dept_Id"), "-").getItem(0) === prov("DeptID"), "left")
      .filter(dept("Name").isNotNull)
      .groupBy(
        concat(coalesce(prov("FirstName"), lit("")), lit(" "),
          coalesce(prov("LastName"), lit(""))).as("Provider_Name"),
        dept("Name").as("Dept_Name"))
      .agg(sum(coalesce(tx("Amount"), z(tx, "Amount"))).as("Amount"))

  /** patient_history (gold.sql:32-82): current patients ⟕ encounters ⟕
    * transactions (both on the SOURCE PatientID, gold.sql:76-79) ⟕
    * claims on SRC_TransactionID — the denormalized fan-out view. */
  def patientHistory(p: DataFrame, e: DataFrame, t: DataFrame, c: DataFrame): DataFrame =
    p.filter(col("is_current"))
      .join(e, p("SRC_PatientID") === e("PatientID"), "left")
      .join(t, p("SRC_PatientID") === t("PatientID"), "left")
      .join(c, t("SRC_TransactionID") === c("TransactionID"), "left")
      .select(
        p("Patient_Key"), p("SRC_PatientID"), p("FirstName"), p("LastName"),
        p("Gender"), p("DOB"), p("Address"),
        e("EncounterDate"), e("EncounterType"),
        t("Transaction_Key"), t("VisitDate"), t("ServiceDate"),
        coalesce(t("Amount"), z(t, "Amount")).as("BilledAmount"),
        coalesce(t("PaidAmount"), z(t, "PaidAmount")).as("PaidAmount"),
        c("ClaimStatus"),
        coalesce(c("ClaimAmount"), z(c, "ClaimAmount")).as("ClaimAmount"),
        coalesce(c("PaidAmount"), z(c, "PaidAmount")).as("ClaimPaidAmount"),
        c("PayorType"))

  /** provider_performance (gold.sql:89-128): 7 KPIs per provider with
    * conditional distinct counts and the ROUND(SAFE_DIVIDE(…,
    * NULLIF(…,0))*100, 2) approval rate (gold.sql:118-120). */
  def providerPerformance(pr: DataFrame, e: DataFrame, t: DataFrame, c: DataFrame): DataFrame = {
    val approved = countDistinct(when(c("ClaimStatus") === "Approved", c("Claim_Key")))
    val total = countDistinct(c("Claim_Key"))
    pr.join(e, pr("ProviderID") === e("ProviderID"), "left")
      .join(t, pr("ProviderID") === t("ProviderID"), "left")
      .join(c, t("SRC_TransactionID") === c("TransactionID"), "left")
      .groupBy(pr("ProviderID"), pr("FirstName"), pr("LastName"), pr("Specialization"))
      .agg(
        countDistinct(e("Encounter_Key")).as("TotalEncounters"),
        countDistinct(t("Transaction_Key")).as("TotalTransactions"),
        sum(coalesce(t("Amount"), z(t, "Amount"))).as("TotalBilledAmount"),
        sum(coalesce(t("PaidAmount"), z(t, "PaidAmount"))).as("TotalPaidAmount"),
        approved.as("ApprovedClaims"),
        total.as("TotalClaims"),
        round(approved.cast("double") /
          when(total === 0, lit(null)).otherwise(total.cast("double")) * 100, 2)
          .as("ClaimApprovalRate"))
  }

  /** department_performance (gold.sql:135-162): split-key joins to both
    * facts, quarantine filter on the dim, AVG KPI (gold.sql:155).
    *
    * The reference's fan-out is restated, not materialized: a dept
    * row with key k meets every encounter row of k (or one NULL row)
    * times every transaction row of k, so each transaction appears
    * `dept rows × max(encounter rows of k, 1)` times in its group.
    * The sums scale by that multiplicity; the distinct counts and the
    * average are the per-key ones (repetition changes neither, and one
    * group's dept rows share its key). The products are cast back to
    * the plain SUM's type, so decimal mode keeps its exact cents at
    * the reference's precision. */
  def departmentPerformance(dept: DataFrame, e: DataFrame, t: DataFrame): DataFrame = {
    val enc = e.groupBy(col("DepartmentID").as("e_key"))
      .agg(countDistinct(col("Encounter_Key")).as("e_keys"), count(lit(1)).as("e_rows"))
    val paid = coalesce(t("PaidAmount"), z(t, "PaidAmount"))
    val tx = t.groupBy(col("DeptID").as("t_key"))
      .agg(
        countDistinct(col("Transaction_Key")).as("t_keys"),
        sum(coalesce(t("Amount"), z(t, "Amount"))).as("t_billed"),
        sum(paid).as("t_paid"),
        avg(paid).as("t_avg_paid"))
    val d = dept.filter(col("is_quarantined") === false)
      .groupBy(col("Dept_Id"), col("Name").as("DepartmentName"))
      .agg(count(lit(1)).as("d_rows"))
    val copies = col("d_rows") * coalesce(col("e_rows"), lit(1L))
    def restated(c: String) =
      coalesce((col(c) * copies).cast(tx.schema(c).dataType), z(tx, c))
    val key = split(d("Dept_Id"), "-").getItem(0)
    d.join(enc, key === enc("e_key"), "left")
      .join(tx, key === tx("t_key"), "left")
      .select(
        col("Dept_Id"),
        col("DepartmentName"),
        coalesce(col("e_keys"), lit(0L)).as("TotalEncounters"),
        coalesce(col("t_keys"), lit(0L)).as("TotalTransactions"),
        restated("t_billed").as("TotalBilledAmount"),
        restated("t_paid").as("TotalPaidAmount"),
        coalesce(col("t_avg_paid"), z(tx, "t_avg_paid")).as("AvgPaymentPerTransaction"))
  }
}
