package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

/** A small seeded source snapshot in the reference medallion's layout
  * (`emr/hospital-{a,b}`, `claims/`, `cptcodes/`, `load_config.csv`),
  * so the pipeline runs end to end without the reference data.
  *
  * It keeps the reference data's quirks: hospital B's drifted patient
  * header (`ID, F_Name, …, Updated_Date`), CPT headers with spaces,
  * two claims files over one ClaimID range, quoted fields with
  * embedded commas, literal "NULL" first names in hospital B, and
  * `H1-`/`H2-` provider ids that no fact row references.
  *
  * Day 0 is the full load. On day 1, `changed` rows of each
  * patients, encounters and transactions file are re-stamped between
  * the two runs' clocks with one changed value; hospital B's re-stamped
  * transactions carry an empty `MedicaidID`, so that column is null in
  * every row of that day's delta.
  */
final case class MedallionFixtures(seed: Long, patients: Int = 60, changed: Int = 6) {
  import MedallionFixtures._

  val facts: Int = 2 * patients // encounters, transactions and claims per file
  val depts = 4
  val providers = 3
  val cptRows = 24

  private def rng(parts: Int*) = new scala.util.Random(parts.foldLeft(seed)(_ * 1000003L + _))

  /** Row indices re-stamped on day 1 in one table of one hospital. */
  def changedIn(table: Int, h: Int): Set[Int] =
    rng(100, table, h).shuffle((0 until (if (table == TPatients) patients else facts)).toList)
      .take(changed).toSet

  /** Hospital-B patients whose first name is the literal "NULL". */
  def nullNamed(i: Int): Boolean = i % 10 == 2

  private def stamp(day: Int, r: scala.util.Random): String =
    if (day == 0) f"20${20 + r.nextInt(4)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d 08:00:00"
    else f"2025-01-15 ${6 + r.nextInt(18)}%02d:${r.nextInt(60)}%02d:00" // between the clocks

  private def date(r: scala.util.Random, year: Int): String =
    LocalDate.of(year, 1, 1).plusDays(r.nextInt(700)).toString

  private def pick(r: scala.util.Random, xs: Seq[String]) = xs(r.nextInt(xs.length))

  private def patientsCsv(h: Int, d: Int): Seq[String] = {
    val hit = if (d == 0) Set.empty[Int] else changedIn(TPatients, h)
    (if (h == 0) "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate"
     else "ID,F_Name,L_Name,M_Name,SSN,PhoneNumber,Gender,DOB,Address,Updated_Date") +:
      (0 until patients).map { i =>
        val r = rng(1, h, i)
        val v = if (hit(i)) 1 else 0
        val first = if (h == 1 && nullNamed(i)) "NULL" else pick(r, Names)
        Seq(f"HOSP${h + 1}-${i + 1}%06d", first, pick(r, Names), pick(r, Names),
          f"${100 + i}%03d-45-6789", f"(312)555-${r.nextInt(10000)}%04d", pick(r, Seq("M", "F")),
          date(r, 1950), s"\"${10 + i + 1000 * v} Oak St, Springfield, IL 6${r.nextInt(10000)}\"",
          stamp(v, rng(2, h, i, v))).mkString(",")
      }
  }

  private def encountersCsv(h: Int, d: Int): Seq[String] = {
    val hit = if (d == 0) Set.empty[Int] else changedIn(TEncounters, h)
    "EncounterID,PatientID,EncounterDate,EncounterType,ProviderID,DepartmentID,ProcedureCode,InsertedDate,ModifiedDate" +:
      (0 until facts).map { i =>
        val r = rng(3, h, i)
        val v = if (hit(i)) 1 else 0
        Seq(f"ENC${h * facts + i + 1}%06d", f"HOSP${h + 1}-${1 + r.nextInt(patients)}%06d",
          date(r, 2022), EncounterTypes((r.nextInt(4) + v) % EncounterTypes.length),
          f"PROV${1 + r.nextInt(providers)}%04d", f"DEPT${1 + r.nextInt(depts)}%03d",
          (10000 + 7 * r.nextInt(cptRows)).toString, date(r, 2022), stamp(v, rng(4, h, i, v)))
          .mkString(",")
      }
  }

  private def transactionsCsv(h: Int, d: Int): Seq[String] = {
    val hit = if (d == 0) Set.empty[Int] else changedIn(TTransactions, h)
    ("TransactionID,EncounterID,PatientID,ProviderID,DeptID,VisitDate,ServiceDate,PaidDate," +
      "VisitType,Amount,AmountType,PaidAmount,ClaimID,PayorID,ProcedureCode,ICDCode," +
      "LineOfBusiness,MedicaidID,MedicareID,InsertDate,ModifiedDate") +:
      (0 until facts).map { i =>
        val r = rng(5, h, i)
        val v = if (hit(i)) 1 else 0
        val visit = date(r, 2022)
        val medicaid = if (h == 1 && (v == 1 || i % 2 == 0)) "" else f"MCD${r.nextInt(100000)}%05d"
        Seq(f"TRANS${h * facts + i + 1}%06d", f"ENC${h * facts + 1 + r.nextInt(facts)}%06d",
          f"HOSP${h + 1}-${1 + r.nextInt(patients)}%06d", f"PROV${1 + r.nextInt(providers)}%04d",
          f"DEPT${1 + r.nextInt(depts)}%03d", visit, visit, date(r, 2023), pick(r, EncounterTypes),
          (r.nextInt(200000) / 100.0 + v).toString, pick(r, Seq("Co-pay", "Insurance")),
          (r.nextInt(100000) / 100.0).toString, f"CLAIM${1 + r.nextInt(facts)}%06d",
          f"PAYER${1 + r.nextInt(5)}%04d", (10000 + 7 * r.nextInt(cptRows)).toString,
          s"I${r.nextInt(100)}.${r.nextInt(10)}", pick(r, Payors), medicaid,
          f"MCR${r.nextInt(100000)}%05d", date(r, 2022), stamp(v, rng(6, h, i, v))).mkString(",")
      }
  }

  private def providersCsv(h: Int): Seq[String] =
    "ProviderID,FirstName,LastName,Specialization,DeptID,NPI" +: (0 until providers).map { i =>
      val r = rng(7, h, i)
      Seq(f"H${h + 1}-PROV${i + 1}%04d", pick(r, Names), pick(r, Names), pick(r, DeptNames),
        f"DEPT${1 + r.nextInt(depts)}%03d", (1000000000L + r.nextInt(1000000)).toString).mkString(",")
    }

  private def departmentsCsv: Seq[String] =
    "DeptID,Name" +: (0 until depts).map(i => f"DEPT${i + 1}%03d,${DeptNames(i)}")

  private def claimsCsv(h: Int): Seq[String] =
    ("ClaimID,TransactionID,PatientID,EncounterID,ProviderID,DeptID,ServiceDate,ClaimDate," +
      "PayorID,ClaimAmount,PaidAmount,ClaimStatus,PayorType,Deductible,Coinsurance,Copay," +
      "InsertDate,ModifiedDate") +: (0 until facts).map { i =>
      val r = rng(8, h, i)
      Seq(f"CLAIM${i + 1}%06d", f"TRANS${h * facts + 1 + r.nextInt(facts)}%06d",
        f"HOSP${h + 1}-${1 + r.nextInt(patients)}%06d", f"ENC${h * facts + 1 + r.nextInt(facts)}%06d",
        f"PROV${1 + r.nextInt(providers)}%04d", f"DEPT${1 + r.nextInt(depts)}%03d", date(r, 2022),
        date(r, 2023), pick(r, Payors), (r.nextInt(200000) / 100.0).toString,
        (r.nextInt(100000) / 100.0).toString, pick(r, Seq("Approved", "Denied", "Paid")),
        pick(r, Seq("Private", "Government")), (r.nextInt(50000) / 100.0).toString,
        (r.nextInt(20000) / 100.0).toString, (r.nextInt(5000) / 100.0).toString, date(r, 2022),
        stamp(0, r)).mkString(",")
    }

  private def cptCsv: Seq[String] =
    "Procedure Code Category,CPT Codes,Procedure Code Descriptions,Code Status" +:
      (0 until cptRows).map { i =>
        val r = rng(9, i)
        Seq(pick(r, DeptNames), (10000 + 7 * i).toString,
          s"\"${pick(r, Procedures)}, ${pick(r, Procedures).toLowerCase}\"",
          if (i % 5 == 3) "Added" else "No Change").mkString(",")
      }

  private def loadConfigCsv: Seq[String] =
    "database,datasource,tablename,loadtype,watermark,is_active,targetpath" +: (for {
      (ds, dir) <- Seq("hospital_a_db" -> "hospital-a", "hospital_b_db" -> "hospital-b")
      t <- Seq("encounters", "patients", "transactions", "providers", "departments")
    } yield {
      val incr = Set("encounters", "patients", "transactions")(t)
      Seq(ds, ds, t, if (incr) "Incremental" else "Full", if (incr) "ModifiedDate" else "", "1", dir)
        .mkString(",")
    })

  /** Write day `d`'s snapshot under `root`, `root/load_config.csv` included. */
  def write(root: Path, d: Int): Unit = {
    def put(rel: String, lines: Seq[String]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    for (h <- 0 to 1) {
      val dir = s"emr/hospital-${"ab"(h)}"
      put(s"$dir/patients.csv", patientsCsv(h, d))
      put(s"$dir/encounters.csv", encountersCsv(h, d))
      put(s"$dir/transactions.csv", transactionsCsv(h, d))
      put(s"$dir/providers.csv", providersCsv(h))
      put(s"$dir/departments.csv", departmentsCsv)
      put(s"claims/hospital${h + 1}_claim_data.csv", claimsCsv(h))
    }
    put("cptcodes/cptcodes.csv", cptCsv)
    put("load_config.csv", loadConfigCsv)
  }
}

object MedallionFixtures {
  val TPatients = 0
  val TEncounters = 1
  val TTransactions = 2

  /** The pipeline clock of day `d`: 05:00 UTC, the reference DAG's schedule. */
  def clock(d: Int): Timestamp = Timestamp.valueOf(LocalDateTime.of(2025, 1, 15, 5, 0).plusDays(d))
  def runDate(d: Int): LocalDate = LocalDate.of(2025, 1, 15).plusDays(d)

  private val Names = Seq("Ann", "Bob", "Cal", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jon")
  private val EncounterTypes = Seq("Emergency", "Inpatient", "Outpatient", "Telemedicine", "Routine Checkup")
  private val Payors = Seq("Medicare", "BlueCross", "Aetna", "Cigna")
  private val DeptNames = Seq("Emergency", "Cardiology", "Neurology", "Oncology", "Pediatrics")
  private val Procedures = Seq("Office visit", "Blood panel", "X-ray", "Biopsy", "MRI scan")
}
