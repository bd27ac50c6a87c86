package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded generator of the reference medallion's source layout:
  *
  *  - `emr/hospital-a` and `emr/hospital-b`: patients, encounters,
  *    transactions, providers, departments as header CSVs;
  *  - `claims/hospital{1,2}_claim_data.csv` sharing one ClaimID range;
  *  - `cptcodes/cptcodes.csv` with space-bearing headers;
  *  - `load_config.csv` (10 rows, the reference's control table).
  *
  * Quirks kept from the reference data: byte-identical departments
  * files in both hospitals; hospital-B's drifted patient header
  * (`ID, F_Name, …, Updated_Date`); literal "NULL" first names in
  * hospital B; free-form phones; float32-origin amounts; quoted
  * addresses with embedded commas; `H1-`/`H2-`-prefixed provider ids
  * that no fact row references, so provider joins match nothing.
  *
  * Every dimension scales with the facts, so per-key fan-out (about
  * 1,000 encounters and 1,000 transactions per department id, two of
  * each per patient) stays at the reference's shape at every `scale`;
  * gold therefore grows linearly with `scale`, not quadratically.
  *
  * Daily deltas: snapshot `day` d ≥ 1 is the day-0 source with, for
  * each of d runs j = 1..d, an exact `changedShare` of the patients,
  * encounters and transactions rows (per hospital) re-stamped with a
  * ModifiedDate inside (clock(j-1), clock(j)) and one changed value.
  * Claims, CPT codes, providers and departments never change, so the
  * watermark extraction picks up exactly the changed rows.
  */
final case class MedallionGen(seed: Long, scale: Double, changedShare: Double) {
  import MedallionGen._

  val patients: Int = math.max(50, math.round(5000 * scale).toInt)
  val facts: Int = 2 * patients // encounters = transactions = claims per file
  val depts: Int = math.max(1, math.round(20 * scale).toInt)
  val providers: Int = math.max(1, math.round(24 * scale).toInt)
  val cptRows: Int = math.max(20, math.round(1161 * scale).toInt)
  val changedPerRun: Int = math.max(1, math.round(changedShare * patients).toInt)
  val changedFactsPerRun: Int = math.max(1, math.round(changedShare * facts).toInt)

  /** Rows of hospital B whose first name is the literal "NULL". */
  def nullNamed(i: Int): Boolean = i % NullNameEvery == 2

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 31) * 0x94D049BB133111EBL))

  /** Row indices (0-based) re-stamped by run `run` in one hospital table. */
  def changedIn(table: Int, hospital: Int, run: Int): Set[Int] = {
    val n = if (table == TPatients) patients else facts
    val k = if (table == TPatients) changedPerRun else changedFactsPerRun
    val idx = Array.tabulate(n)(identity)
    val r = rng(101, table, hospital, run)
    for (i <- 0 until k) { // partial Fisher–Yates: exactly k distinct rows
      val j = i + r.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(k).toSet
  }

  /** For each row, the last run in 1..day that re-stamped it (0 = never). */
  private def versions(table: Int, hospital: Int, day: Int): Array[Int] = {
    val v = new Array[Int](if (table == TPatients) patients else facts)
    for (run <- 1 to day; i <- changedIn(table, hospital, run)) v(i) = run
    v
  }

  private def stamp(version: Int, r: SplittableRandom): String =
    if (version == 0) Ts.format(LocalDateTime.of(2020, 1, 1, 0, 0).plusMinutes(r.nextInt(4 * 365 * 24 * 60)))
    else Ts.format(clock(version).toLocalDateTime.minusMinutes(60 + r.nextInt(19 * 60)))

  private def money(r: SplittableRandom, max: Int): String =
    (r.nextInt(max * 100) / 100.0).toFloat.toDouble.toString // float32 origin, as in the seed CSVs

  private def phone(r: SplittableRandom): String = r.nextInt(3) match {
    case 0 => f"+1-${200 + r.nextInt(800)}%03d-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04dx${r.nextInt(10000)}%04d"
    case 1 => f"${200 + r.nextInt(800)}%03d.${r.nextInt(1000)}%03d.${r.nextInt(10000)}%04dx${r.nextInt(100000)}%d"
    case _ => f"(${200 + r.nextInt(800)}%03d)${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
  }

  private def day(r: SplittableRandom, fromYear: Int, years: Int): String =
    LocalDate.of(fromYear, 1, 1).plusDays(r.nextInt(years * 365)).toString

  private def pick(r: SplittableRandom, xs: IndexedSeq[String]): String = xs(r.nextInt(xs.length))

  private def patientId(h: Int, i: Int) = f"HOSP${h + 1}-${i + 1}%06d"
  private def factId(prefix: String, h: Int, i: Int) = f"$prefix${h * facts + i + 1}%06d"
  private def deptId(i: Int) = f"DEPT${i + 1}%03d"
  private def cptCode(i: Int) = (10000 + i * 7).toString

  private def patientsCsv(h: Int, d: Int): String = {
    val sb = new StringBuilder(
      if (h == 0) "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate\n"
      else "ID,F_Name,L_Name,M_Name,SSN,PhoneNumber,Gender,DOB,Address,Updated_Date\n")
    val ver = versions(TPatients, h, d)
    for (i <- 0 until patients) {
      val r = rng(1, h, i)
      val first = if (h == 1 && nullNamed(i)) "NULL" else pick(r, FirstNames)
      val rv = rng(2, h, i, ver(i))
      val addr = s"\"${1 + rv.nextInt(9999)} ${pick(r, Streets)} St, ${pick(r, Cities)}, IL ${60000 + r.nextInt(3000)}\""
      sb ++= Seq(patientId(h, i), first, pick(r, LastNames), pick(r, FirstNames),
        f"${100 + r.nextInt(800)}%03d-${10 + r.nextInt(90)}%02d-${1000 + r.nextInt(9000)}%04d",
        phone(r), if (r.nextBoolean()) "M" else "F", day(r, 1930, 80), addr,
        stamp(ver(i), rv)).mkString(",") += '\n'
    }
    sb.result()
  }

  private def encountersCsv(h: Int, d: Int): String = {
    val sb = new StringBuilder(
      "EncounterID,PatientID,EncounterDate,EncounterType,ProviderID,DepartmentID,ProcedureCode,InsertedDate,ModifiedDate\n")
    val ver = versions(TEncounters, h, d)
    for (i <- 0 until facts) {
      val r = rng(3, h, i)
      val rv = rng(4, h, i, ver(i))
      sb ++= Seq(factId("ENC", h, i), patientId(h, r.nextInt(patients)), day(r, 2022, 2),
        pick(rv, EncounterTypes), f"PROV${1 + r.nextInt(providers)}%04d", deptId(r.nextInt(depts)),
        cptCode(r.nextInt(cptRows)), day(r, 2022, 2), stamp(ver(i), rv)).mkString(",") += '\n'
    }
    sb.result()
  }

  private def transactionsCsv(h: Int, d: Int): String = {
    val sb = new StringBuilder("TransactionID,EncounterID,PatientID,ProviderID,DeptID,VisitDate," +
      "ServiceDate,PaidDate,VisitType,Amount,AmountType,PaidAmount,ClaimID,PayorID,ProcedureCode," +
      "ICDCode,LineOfBusiness,MedicaidID,MedicareID,InsertDate,ModifiedDate\n")
    val ver = versions(TTransactions, h, d)
    for (i <- 0 until facts) {
      val r = rng(5, h, i)
      val rv = rng(6, h, i, ver(i))
      val visit = day(r, 2022, 2)
      val medicaid = if (r.nextInt(3) == 0) f"MCD${r.nextInt(100000)}%05d" else ""
      sb ++= Seq(factId("TRANS", h, i), factId("ENC", h, r.nextInt(facts)),
        patientId(h, r.nextInt(patients)), f"PROV${1 + r.nextInt(providers)}%04d",
        deptId(r.nextInt(depts)), visit, visit, day(r, 2023, 1), pick(r, EncounterTypes),
        money(rv, 2000), pick(r, AmountTypes), money(rv, 1000), f"CLAIM${1 + r.nextInt(facts)}%06d",
        f"PAYER${1 + r.nextInt(10)}%04d", cptCode(r.nextInt(cptRows)),
        s"${pick(r, IcdLetters)}${r.nextInt(100)}.${r.nextInt(10)}", pick(r, Payors), medicaid,
        f"MCR${r.nextInt(100000)}%05d", day(r, 2022, 2), stamp(ver(i), rv)).mkString(",") += '\n'
    }
    sb.result()
  }

  private def providersCsv(h: Int): String = {
    val sb = new StringBuilder("ProviderID,FirstName,LastName,Specialization,DeptID,NPI\n")
    for (i <- 0 until providers) {
      val r = rng(7, h, i)
      sb ++= Seq(f"H${h + 1}-PROV${i + 1}%04d", pick(r, FirstNames), pick(r, LastNames),
        pick(r, DeptNames), deptId(r.nextInt(depts)), (1000000000L + r.nextLong(8999999999L)).toString)
        .mkString(",") += '\n'
    }
    sb.result()
  }

  private def departmentsCsv: String =
    (0 until depts).map(i => s"${deptId(i)},${DeptNames(i % DeptNames.length)}")
      .mkString("DeptID,Name\n", "\n", "\n")

  private def claimsCsv(h: Int): String = {
    val sb = new StringBuilder("ClaimID,TransactionID,PatientID,EncounterID,ProviderID,DeptID," +
      "ServiceDate,ClaimDate,PayorID,ClaimAmount,PaidAmount,ClaimStatus,PayorType,Deductible," +
      "Coinsurance,Copay,InsertDate,ModifiedDate\n")
    for (i <- 0 until facts) {
      val r = rng(8, h, i)
      sb ++= Seq(f"CLAIM${i + 1}%06d", factId("TRANS", h, r.nextInt(facts)),
        patientId(h, r.nextInt(patients)), factId("ENC", h, r.nextInt(facts)),
        f"PROV${1 + r.nextInt(providers)}%04d", deptId(r.nextInt(depts)), day(r, 2022, 2),
        day(r, 2023, 1), pick(r, Payors), money(r, 2000), money(r, 1000), pick(r, ClaimStatuses),
        pick(r, PayorTypes), money(r, 500), money(r, 200), money(r, 50), day(r, 2022, 2),
        stamp(0, r)).mkString(",") += '\n'
    }
    sb.result()
  }

  private def cptCsv: String = {
    val sb = new StringBuilder(
      "Procedure Code Category,CPT Codes,Procedure Code Descriptions,Code Status\n")
    for (i <- 0 until cptRows) {
      val r = rng(9, i)
      val status = if (i % 23 == 5) "No change" else if (i % 41 == 7) "Added" else "No Change"
      sb ++= Seq(pick(r, DeptNames), cptCode(i),
        s"\"${pick(r, Procedures)}, ${pick(r, Procedures).toLowerCase} \"", status)
        .mkString(",") += '\n'
    }
    sb.result()
  }

  private def loadConfigCsv: String = {
    val rows = for {
      (ds, dir) <- Seq("hospital_a_db" -> "hospital-a", "hospital_b_db" -> "hospital-b")
      t <- Seq("encounters", "patients", "transactions", "providers", "departments")
    } yield {
      val incr = Set("encounters", "patients", "transactions")(t)
      Seq(ds, ds, t, if (incr) "Incremental" else "Full", if (incr) "ModifiedDate" else "", "1",
        dir).mkString(",")
    }
    rows.mkString("database,datasource,tablename,loadtype,watermark,is_active,targetpath\n", "\n", "\n")
  }

  /** Write the source snapshot of day `d` under `root` (the layout
    * HealthPipeline's `fixturesRoot` expects) plus `root/load_config.csv`.
    * Returns the bytes written. */
  def write(root: Path, d: Int): Long = {
    def put(rel: String, text: String): Long = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      Files.write(p, bytes)
      bytes.length.toLong
    }
    val emr = for (h <- 0 to 1) yield {
      val dir = s"emr/hospital-${"ab"(h)}"
      put(s"$dir/patients.csv", patientsCsv(h, d)) +
        put(s"$dir/encounters.csv", encountersCsv(h, d)) +
        put(s"$dir/transactions.csv", transactionsCsv(h, d)) +
        put(s"$dir/providers.csv", providersCsv(h)) +
        put(s"$dir/departments.csv", departmentsCsv)
    }
    emr.sum +
      put("claims/hospital1_claim_data.csv", claimsCsv(0)) +
      put("claims/hospital2_claim_data.csv", claimsCsv(1)) +
      put("cptcodes/cptcodes.csv", cptCsv) +
      put("load_config.csv", loadConfigCsv)
  }

  /** Expected silver state after runs 0..`day` for one SCD2 table,
    * following Scd2Merge's close-then-insert rule: a changed key with a
    * current row is closed; a changed key without one gets a new current
    * row. Returns (rows, current rows, quarantined rows). */
  def expectedScd2(table: Int, day: Int): (Long, Long, Long) = {
    var rows, current, quarantined = 0L
    for (h <- 0 to 1) {
      val n = if (table == TPatients) patients else facts
      val changed = (1 to day).map(changedIn(table, h, _))
      for (i <- 0 until n) {
        var r = 1L
        var cur = true
        changed.foreach(s => if (s(i)) { if (cur) cur = false else { r += 1; cur = true } })
        rows += r
        if (cur) current += 1
        if (table == TPatients && h == 1 && nullNamed(i)) quarantined += r
      }
    }
    (rows, current, quarantined)
  }
}

object MedallionGen {
  val TPatients = 0
  val TEncounters = 1
  val TTransactions = 2
  val NullNameEvery = 100

  /** The pipeline clock of run `d` (run 0 is the full load): 05:00 UTC
    * daily, as the reference DAG's schedule. */
  def clock(d: Int): Timestamp =
    Timestamp.valueOf(LocalDateTime.of(2025, 1, 15, 5, 0).plusDays(d))

  def runDate(d: Int): LocalDate = LocalDate.of(2025, 1, 15).plusDays(d)

  private val Ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val FirstNames = Vector("Ann", "Bob", "Cal", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy",
    "Jon", "Kim", "Lou", "Max", "Ned", "Ora", "Pam", "Quin", "Rex", "Sue", "Ted")
  private val LastNames = Vector("Ray", "Lee", "Kim", "Cho", "Diaz", "Ford", "Gray", "Hunt",
    "Ives", "Jain", "Khan", "Lowe", "Moss", "Nash", "Owen", "Park")
  private val Streets = Vector("Oak", "Elm", "Pine", "Maple", "Cedar", "Lake", "Hill", "Main")
  private val Cities = Vector("Springfield", "Aurora", "Joliet", "Naperville", "Peoria")
  private val EncounterTypes =
    Vector("Emergency", "Inpatient", "Outpatient", "Routine Checkup", "Telemedicine")
  private val AmountTypes = Vector("Co-pay", "Insurance", "Self-pay", "Medicaid", "Medicare")
  private val Payors = Vector("Medicare", "BlueCross", "Aetna", "Cigna", "UnitedHealth")
  private val PayorTypes = Vector("Self-pay", "Private", "Government", "Medicaid", "Medicare")
  private val ClaimStatuses = Vector("Approved", "Denied", "Paid", "Pending", "Rejected")
  private val IcdLetters = Vector("I", "E", "J", "K", "M")
  private val DeptNames = Vector("Emergency", "Cardiology", "Neurology", "Oncology", "Pediatrics",
    "Orthopedics", "Radiology", "Surgery", "Dermatology", "Psychiatry")
  private val Procedures = Vector("Office visit", "Blood panel", "X-ray", "Biopsy", "MRI scan",
    "Vaccination", "Physical therapy", "Ultrasound")
}
