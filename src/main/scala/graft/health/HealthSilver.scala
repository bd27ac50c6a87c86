package graft.health

import graft.ops.{QualityStage, Scd2Merge}
import graft.ops.QualityStage.{EntitySpec, Source}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, TimestampType}

/** The reference's silver layer over its own entities
  * (/root/reference/src/pipelines/transforms/silver.sql), re-expressed
  * as [[QualityStage]] specs + [[Scd2Merge]] configs: two type-1
  * truncate/reload dims (departments silver.sql:6-31, providers
  * :35-65) and five SCD2 entities (patients :70-199, transactions
  * :207-363, encounters :370-482, claims :491-648, cpt_codes
  * :655-729).
  *
  * Fidelity notes:
  *  - hospital-B patients arrive with drifted column names; the rename
  *    map follows silver.sql:126-138 (`ID→SRC_PatientID`,
  *    `F_Name→FirstName`, …). The seed CSV additionally says
  *    `Updated_Date` where the hospital-B DDL says `ModifiedDate`
  *    (SURVEY §1.3) — conciliated to `SRC_ModifiedDate` either way.
  *  - quarantine rules are the per-entity CASE blocks verbatim:
  *    departments/providers/transactions check plain NULLs only;
  *    patients add the `LOWER(FirstName)='null'` sentinel
  *    (silver.sql:105-108); encounters sentinel EncounterType
  *    (:399-402); claims sentinel ClaimStatus (:540-543); cpt sentinel
  *    code_status (:676-679).
  *  - claims are tagged `'hosa'` wholesale at silver (silver.sql:564)
  *    even though bronze carries per-file hosa/hosb tags — reproduced
  *    as-is. Since the two claim files share the full ClaimID range,
  *    run 1 inserts two current rows per Claim_Key, and later runs
  *    close a duplicate of each ([[Scd2Merge]]'s duplicate-key note);
  *    this is the reference's own behavior (its BigQuery MERGE would
  *    error on the SECOND daily run — an upstream defect, documented,
  *    not repaired).
  *  - SCD2 compare-column lists mirror each MERGE's predicate,
  *    including the quirk that claims omit SRC_InsertDate from change
  *    detection (silver.sql:568-592) while transactions include it
  *    (:283-300).
  */
object HealthSilver {

  private val Ts = TimestampType
  private val F64 = DoubleType
  private val I64 = LongType

  /** One SCD2 silver entity: how to stage it and how to merge it.
    * `stage` receives the bronze tables that actually landed this run
    * (a source with no new rows is simply absent — the reference's
    * bronze external tables read an empty prefix the same way) and
    * unions whichever of its inputs are present. */
  final case class Entity(
      table: String,
      keyCol: String,
      compareCols: Seq[String],
      bronzeTables: Seq[String],
      stage: Map[String, DataFrame] => DataFrame) {
    def merge(clock: Column): Scd2Merge = Scd2Merge(Seq(keyCol), compareCols, clock)
  }

  // ------------------------------------------------------------------
  // Type-1 dims (truncate/reload every run)
  // ------------------------------------------------------------------

  /** departments (silver.sql:6-31). */
  def departments(ha: DataFrame, hb: DataFrame): DataFrame =
    QualityStage(EntitySpec(
      sources = Seq(
        Source(ha, "hosa", renames = Map("DeptID" -> "SRC_Dept_Id")),
        Source(hb, "hosb", renames = Map("DeptID" -> "SRC_Dept_Id"))),
      naturalKey = "SRC_Dept_Id",
      surrogateKeyCol = "Dept_Id",
      keep = Seq("SRC_Dept_Id", "Name"),
      quarantineRule = Some(col("SRC_Dept_Id").isNull || col("Name").isNull)))
      .select("Dept_Id", "SRC_Dept_Id", "Name", "datasource", "is_quarantined")

  /** providers (silver.sql:35-65) — NO surrogate key (raw ProviderID). */
  def providers(ha: DataFrame, hb: DataFrame): DataFrame =
    QualityStage(EntitySpec(
      sources = Seq(Source(ha, "hosa"), Source(hb, "hosb")),
      naturalKey = "ProviderID",
      mintKey = false,
      keep = Seq("ProviderID", "FirstName", "LastName", "Specialization", "DeptID", "NPI"),
      casts = Map("NPI" -> I64),
      quarantineRule = Some(col("ProviderID").isNull || col("DeptID").isNull)))
      .select("ProviderID", "FirstName", "LastName", "Specialization", "DeptID", "NPI",
        "datasource", "is_quarantined")

  // ------------------------------------------------------------------
  // SCD2 entities
  // ------------------------------------------------------------------

  /** patients (silver.sql:70-199). */
  val patients: Entity = Entity(
    table = "patients",
    keyCol = "Patient_Key",
    compareCols = Seq("SRC_PatientID", "FirstName", "LastName", "MiddleName", "SSN",
      "PhoneNumber", "Gender", "DOB", "Address", "SRC_ModifiedDate",
      "datasource", "is_quarantined"),
    bronzeTables = Seq("patients_ha", "patients_hb"),
    stage = bronze => QualityStage(EntitySpec(
      sources = Seq(
        bronze.get("patients_ha").map(df => Source(df, "hosa", renames = Map(
          "PatientID" -> "SRC_PatientID", "ModifiedDate" -> "SRC_ModifiedDate"))),
        bronze.get("patients_hb").map(df => Source(df, "hosb", renames = Map(
          "ID" -> "SRC_PatientID", "F_Name" -> "FirstName", "L_Name" -> "LastName",
          "M_Name" -> "MiddleName", "Updated_Date" -> "SRC_ModifiedDate",
          "ModifiedDate" -> "SRC_ModifiedDate")))).flatten,
      naturalKey = "SRC_PatientID",
      surrogateKeyCol = "Patient_Key",
      keep = Seq("SRC_PatientID", "FirstName", "LastName", "MiddleName", "SSN",
        "PhoneNumber", "Gender", "DOB", "Address", "SRC_ModifiedDate"),
      casts = Map("DOB" -> Ts, "SRC_ModifiedDate" -> Ts),
      quarantineRule = Some(col("SRC_PatientID").isNull || col("DOB").isNull ||
        col("FirstName").isNull || QualityStage.nullText(col("FirstName"))))))

  /** encounters (silver.sql:370-482); hosa's InsertedDate is dropped
    * (not in the staging SELECT, silver.sql:404-417). */
  val encounters: Entity = Entity(
    table = "encounters",
    keyCol = "Encounter_Key",
    compareCols = Seq("SRC_EncounterID", "PatientID", "ProviderID", "DepartmentID",
      "EncounterDate", "EncounterType", "ProcedureCode", "SRC_ModifiedDate",
      "datasource", "is_quarantined"),
    bronzeTables = Seq("encounters_ha", "encounters_hb"),
    stage = bronze => QualityStage(EntitySpec(
      sources = Seq("encounters_ha" -> "hosa", "encounters_hb" -> "hosb").flatMap {
        case (tbl, tag) => bronze.get(tbl).map(df => Source(df, tag, renames = Map(
          "EncounterID" -> "SRC_EncounterID", "ModifiedDate" -> "SRC_ModifiedDate")))
      },
      naturalKey = "SRC_EncounterID",
      surrogateKeyCol = "Encounter_Key",
      keep = Seq("SRC_EncounterID", "PatientID", "ProviderID", "DepartmentID",
        "EncounterDate", "EncounterType", "ProcedureCode", "SRC_ModifiedDate"),
      casts = Map("EncounterDate" -> Ts, "SRC_ModifiedDate" -> Ts, "ProcedureCode" -> I64),
      quarantineRule = Some(col("SRC_EncounterID").isNull || col("PatientID").isNull ||
        col("EncounterDate").isNull || QualityStage.nullText(col("EncounterType"))))))

  /** transactions (silver.sql:207-363). Monetary columns type to
    * `money` — DoubleType for reference fidelity (the default), or
    * [[MoneyDecimal]] in the opt-in decimal mode (§7.4 extension). */
  private def transactionsEntity(money: DataType): Entity = Entity(
    table = "transactions",
    keyCol = "Transaction_Key",
    compareCols = Seq("SRC_TransactionID", "EncounterID", "PatientID", "ProviderID",
      "DeptID", "VisitDate", "ServiceDate", "PaidDate", "VisitType", "Amount",
      "AmountType", "PaidAmount", "ClaimID", "PayorID", "ProcedureCode", "ICDCode",
      "LineOfBusiness", "MedicaidID", "MedicareID", "SRC_InsertDate",
      "SRC_ModifiedDate", "datasource", "is_quarantined"),
    bronzeTables = Seq("transactions_ha", "transactions_hb"),
    stage = bronze => QualityStage(EntitySpec(
      sources = Seq("transactions_ha" -> "hosa", "transactions_hb" -> "hosb").flatMap {
        case (tbl, tag) => bronze.get(tbl).map(df => Source(df, tag, renames = Map(
          "TransactionID" -> "SRC_TransactionID", "InsertDate" -> "SRC_InsertDate",
          "ModifiedDate" -> "SRC_ModifiedDate")))
      },
      naturalKey = "SRC_TransactionID",
      surrogateKeyCol = "Transaction_Key",
      keep = Seq("SRC_TransactionID", "EncounterID", "PatientID", "ProviderID", "DeptID",
        "VisitDate", "ServiceDate", "PaidDate", "VisitType", "Amount", "AmountType",
        "PaidAmount", "ClaimID", "PayorID", "ProcedureCode", "ICDCode",
        "LineOfBusiness", "MedicaidID", "MedicareID", "SRC_InsertDate", "SRC_ModifiedDate"),
      casts = Map("VisitDate" -> Ts, "ServiceDate" -> Ts, "PaidDate" -> Ts,
        "SRC_InsertDate" -> Ts, "SRC_ModifiedDate" -> Ts,
        "Amount" -> money, "PaidAmount" -> money, "ProcedureCode" -> I64),
      quarantineRule = Some(col("EncounterID").isNull || col("PatientID").isNull ||
        col("SRC_TransactionID").isNull || col("VisitDate").isNull))))

  val transactions: Entity = transactionsEntity(F64)

  /** claims (silver.sql:491-648); single bronze source, force-tagged
    * 'hosa' (silver.sql:564) — bronze's per-file tag is dropped.
    * Monetary columns type to `money`, as with transactions. */
  private def claimsEntity(money: DataType): Entity = Entity(
    table = "claims",
    keyCol = "Claim_Key",
    compareCols = Seq("SRC_ClaimID", "TransactionID", "PatientID", "EncounterID",
      "ProviderID", "DeptID", "ServiceDate", "ClaimDate", "PayorID", "ClaimAmount",
      "PaidAmount", "ClaimStatus", "PayorType", "Deductible", "Coinsurance", "Copay",
      "SRC_ModifiedDate", "datasource", "is_quarantined"),
    bronzeTables = Seq("claims"),
    stage = bronze => QualityStage(EntitySpec(
      sources = bronze.get("claims").map(df =>
        Source(df.drop("datasource"), "hosa", renames = Map(
          "ClaimID" -> "SRC_ClaimID", "InsertDate" -> "SRC_InsertDate",
          "ModifiedDate" -> "SRC_ModifiedDate"))).toSeq,
      naturalKey = "SRC_ClaimID",
      surrogateKeyCol = "Claim_Key",
      keep = Seq("SRC_ClaimID", "TransactionID", "PatientID", "EncounterID", "ProviderID",
        "DeptID", "ServiceDate", "ClaimDate", "PayorID", "ClaimAmount", "PaidAmount",
        "ClaimStatus", "PayorType", "Deductible", "Coinsurance", "Copay",
        "SRC_InsertDate", "SRC_ModifiedDate"),
      casts = Map("ServiceDate" -> Ts, "ClaimDate" -> Ts, "SRC_InsertDate" -> Ts,
        "SRC_ModifiedDate" -> Ts, "ClaimAmount" -> money, "PaidAmount" -> money,
        "Deductible" -> money, "Coinsurance" -> money, "Copay" -> money),
      quarantineRule = Some(col("SRC_ClaimID").isNull || col("PatientID").isNull ||
        col("TransactionID").isNull || QualityStage.nullText(col("ClaimStatus"))))))

  val claims: Entity = claimsEntity(F64)

  /** cpt_codes (silver.sql:655-729); expects bronze columns already
    * rename-folded (space→underscore, lowercase — cpt_codes.py:18-20). */
  val cptCodes: Entity = Entity(
    table = "cpt_codes",
    keyCol = "CP_Code_Key",
    compareCols = Seq("procedure_code_category", "cpt_codes",
      "procedure_code_descriptions", "code_status", "datasource", "is_quarantined"),
    bronzeTables = Seq("cpt_codes"),
    stage = bronze => QualityStage(EntitySpec(
      sources = bronze.get("cpt_codes").map(df => Source(df, "hosa")).toSeq,
      naturalKey = "cpt_codes",
      surrogateKeyCol = "CP_Code_Key",
      keep = Seq("procedure_code_category", "cpt_codes", "procedure_code_descriptions",
        "code_status"),
      quarantineRule = Some(col("cpt_codes").isNull || QualityStage.nullText(col("code_status"))))))

  val scd2Entities: Seq[Entity] = Seq(patients, encounters, transactions, claims, cptCodes)

  /** Exact monetary type for the opt-in decimal mode (§7.4 extension):
    * DECIMAL(18,2) spans any healthcare amount with exact cents
    * arithmetic (sums widen to DECIMAL(28,2) — still exact, still
    * order-independent, unlike float summation). The DEFAULT stays
    * DoubleType because the reference is faithful-FLOAT64
    * (silver.sql:218,220,502-508) and the oracle gate hashes float
    * bit patterns. */
  val MoneyDecimal: DataType = org.apache.spark.sql.types.DecimalType(18, 2)

  /** The SCD2 entity chain with monetary columns typed `money` —
    * pass [[MoneyDecimal]] for the decimal mode; `scd2Entities` is
    * the float-fidelity default. */
  def scd2EntitiesWith(money: DataType): Seq[Entity] =
    Seq(patients, encounters, transactionsEntity(money), claimsEntity(money), cptCodes)
}
