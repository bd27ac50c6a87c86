package graft.health

import java.sql.Timestamp
import java.time.LocalDate

import graft.ingest._
import graft.ops.LocalFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end reference medallion: init → config-driven ingestion
  * (both hospitals) → claims/CPT bronze loads → silver (type-1 dims +
  * five SCD2 merges) → four gold marts, sequenced by [[PipelineRunner]]
  * exactly like the reference DAG chain
  * (/root/reference/dags/parent_dag.py:21-44 → pyspark_dag.py:67-126 →
  * bq_dag.py:44-96). Inside a stage the tables are independent, so
  * ingest's per-table loads, silver's seven tables and gold's four
  * marts each run concurrently ([[graft.ops.Concurrently]]); an
  * entity that fails does not stop the others, which still publish
  * before the stage fails.
  *
  * Storage is path-based parquet under `workRoot`:
  * landing/ audit_log/ pipeline_logs/ bronze/ silver/ gold/.
  * Silver writes go through write-temp-then-swap, because a merge
  * result's plan reads the target's current files — an in-place
  * overwrite would delete its own input mid-job (SURVEY §7.3).
  * Every read hands Spark a schema the pipeline already holds, so no
  * read starts a Spark job to infer one: parquet tables through
  * [[graft.ops.LocalFs.parquet]] (the footer of the first data file,
  * read on the driver), the claims and CPT CSVs through
  * [[graft.ops.LocalFs.csv]] (the header line), landing JSON through
  * the schema [[graft.ingest.LandingZone]] records beside it, and the
  * load config parsed on the driver ([[graft.ingest.LoadConfig]]).
  *
  * @param fixturesRoot source data root with the reference layout:
  *                     emr/hospital-a and emr/hospital-b per-table
  *                     CSVs, claims per-file CSVs, cptcodes/cptcodes.csv
  * @param configPath   load_config.csv (reference configs/ layout)
  * @param clock        injectable wall clock — drives audit
  *                     `load_timestamp` (and therefore incremental
  *                     watermarks) and SCD2 bookkeeping timestamps
  */
final class HealthPipeline(
    spark: SparkSession,
    fixturesRoot: String,
    configPath: String,
    workRoot: String,
    clock: () => Timestamp) {

  /** Opt-in decimal monetary mode (§7.4 extension): set this session
    * conf to "true" and the SCD2 silver chain types every monetary
    * column DECIMAL(18,2) instead of the reference-faithful double —
    * exact, order-independent cents arithmetic end-to-end (the gold
    * marts preserve the type via type-matched COALESCE zeros). Read
    * per run, so one session can operate both modes. */
  private def scd2Entities: Seq[HealthSilver.Entity] =
    if (spark.conf.getOption(HealthPipeline.DecimalMoneyKey).contains("true"))
      HealthSilver.scd2EntitiesWith(HealthSilver.MoneyDecimal)
    else HealthSilver.scd2Entities

  private val auditPath = s"$workRoot/audit_log"
  private val logsPath = s"$workRoot/pipeline_logs"
  val landing = new LandingZone(spark, s"$workRoot/landing")
  val audit = new AuditLog(spark, auditPath)
  val logger = new PipelineLogger(spark, logsPath, clock)

  private val fs = LocalFs.fsOf(spark, workRoot)
  private def exists(path: String): Boolean = fs.exists(new Path(path))

  private def bronzePath(t: String) = s"$workRoot/bronze/$t"
  private def silverPath(t: String) = s"$workRoot/silver/$t"
  private def goldPath(t: String) = s"$workRoot/gold/$t"

  def silver(t: String): DataFrame = readRecovered(silverPath(t))
  def gold(t: String): DataFrame = readRecovered(goldPath(t))

  /** Read a swap-published table, first finishing any swap that a
    * previous run's crash interrupted between delete and rename
    * (graft.ops.TableSwap contract). */
  private def readRecovered(path: String): DataFrame = {
    graft.ops.TableSwap.recover(fs, new Path(path), graft.ops.TableSwap.tmpPath(path))
    LocalFs.parquet(spark, path)
  }

  /** [[readRecovered]] for a table that may not exist yet. */
  private def recovered(path: String): Option[DataFrame] = {
    graft.ops.TableSwap.recover(fs, new Path(path), graft.ops.TableSwap.tmpPath(path))
    if (exists(path)) Some(LocalFs.parquet(spark, path)) else None
  }

  /** Write-temp-then-swap (atomic table replace without reading and
    * overwriting the same files in one job); recovers an interrupted
    * prior swap BEFORE overwriting the temp dir — that temp may be the
    * only surviving copy of the table. */
  private def writeSwap(df: DataFrame, path: String): Unit = {
    val tmp = graft.ops.TableSwap.tmpPath(path)
    val dst = new Path(path)
    graft.ops.TableSwap.recover(fs, dst, tmp)
    LocalFs.write(df).mode("overwrite").parquet(tmp.toString)
    graft.ops.TableSwap.publish(fs, dst, tmp)
  }

  /** Reference load config, with the hospital-B patients watermark
    * pointed at the seed CSV's actual header (`Updated_Date`; the
    * hospital-B DDL says `ModifiedDate` — SURVEY §1.3 drift note). */
  def config(): Seq[LoadConfigEntry] =
    LoadConfig.read(spark, configPath).map { e =>
      if (e.datasource == "hospital_b_db" && e.tablename == "patients")
        e.copy(watermark = "Updated_Date")
      else e
    }

  def ingest(datasource: String, dir: String, runDate: LocalDate): Seq[TableLoadResult] =
    new IngestionRunner(spark, new CsvSource(dir), landing, audit, logger, clock)
      .run(config(), datasource, runDate)

  /** Bronze claims: both hospital files in one scan, datasource tagged
    * from the file path, exact-duplicate rows dropped
    * (claims.py:16-25). */
  def loadBronzeClaims(): Unit = {
    val df = LocalFs.csv(spark, s"$fixturesRoot/claims/*.csv")
      .withColumn("datasource",
        when(input_file_name().contains("hospital2"), "hosb")
          .when(input_file_name().contains("hospital1"), "hosa")
          .otherwise("None"))
      .dropDuplicates()
    LocalFs.write(df).mode("overwrite").parquet(bronzePath("claims"))
  }

  /** Bronze CPT codes: header CSV + the column rename fold
    * (cpt_codes.py:15-20). */
  def loadBronzeCpt(): Unit = {
    val raw = LocalFs.csv(spark, s"$fixturesRoot/cptcodes/cptcodes.csv")
    val renamed = raw.columns.foldLeft(raw)((d, c) =>
      d.withColumnRenamed(c, c.replace(" ", "_").toLowerCase))
    LocalFs.write(renamed).mode("overwrite").parquet(bronzePath("cpt_codes"))
  }

  /** Bronze view of this run's landed data: landing JSON for the EMR
    * tables (suffix _ha/_hb per bronze.sql:3-63 naming), parquet for
    * claims/cpt. A table that landed nothing this run is simply absent
    * — like a bronze external table over an empty prefix. */
  private def bronzeTable(name: String): Option[DataFrame] = name match {
    case _ if name.endsWith("_ha") =>
      val t = name.stripSuffix("_ha")
      if (exists(landing.tableDir("hospital_a_db", t)))
        Some(landing.read("hospital_a_db", t))
      else None
    case _ if name.endsWith("_hb") =>
      val t = name.stripSuffix("_hb")
      if (exists(landing.tableDir("hospital_b_db", t)))
        Some(landing.read("hospital_b_db", t))
      else None
    case _ =>
      if (exists(bronzePath(name))) Some(LocalFs.parquet(spark, bronzePath(name))) else None
  }

  /** Silver: reload the two type-1 dims and run each SCD2 merge over
    * whatever bronze data is present (silver.sql, whole file). The
    * seven tables are independent, so they are built concurrently
    * ([[graft.ops.Concurrently]]); one entity's failure does not stop
    * the others — they all finish and publish, then the stage fails
    * with the first failure in entity order. */
  def runSilver(): Unit = {
    val ts = clock()
    val dims = Seq(
      () => for {
        ha <- bronzeTable("departments_ha")
        hb <- bronzeTable("departments_hb")
      } writeSwap(HealthSilver.departments(ha, hb), silverPath("departments")),
      () => for {
        ha <- bronzeTable("providers_ha")
        hb <- bronzeTable("providers_hb")
      } writeSwap(HealthSilver.providers(ha, hb), silverPath("providers")))
    val merges = scd2Entities.map { e => () =>
      val bronze = e.bronzeTables.flatMap(t => bronzeTable(t).map(t -> _)).toMap
      if (bronze.nonEmpty) {
        val staged = e.stage(bronze)
        val target = recovered(silverPath(e.table)) match {
          case Some(tgt) =>
            // Refuse a type flip over standing history: merging decimal
            // staging into float silver (or vice versa, after toggling
            // spark.graft.decimalMoney mid-history) would NOT fail — the
            // SCD2 union/join would silently widen back to double and
            // void the exact-cents contract. Type drift is a migration,
            // not a merge (Warehouse.appendEvolving's rule).
            val drift = staged.schema
              .filter(f => tgt.columns.contains(f.name))
              .filter(f => tgt.schema(f.name).dataType != f.dataType)
            if (drift.nonEmpty) throw new IllegalStateException(
              s"silver.${e.table}: staged column types differ from the existing table " +
                drift.map(f => s"${f.name}: ${tgt.schema(f.name).dataType.simpleString} -> " +
                  f.dataType.simpleString).mkString("(", ", ", ")") +
                " — did spark.graft.decimalMoney flip mid-history? Migrate explicitly.")
            tgt
          case None => staged
            .select((e.keyCol +: e.compareCols).map(col): _*)
            .withColumn("inserted_date", lit(null).cast("timestamp"))
            .withColumn("modified_date", lit(null).cast("timestamp"))
            .withColumn("is_current", lit(true))
            .limit(0)
        }
        writeSwap(e.merge(lit(ts))(target, staged), silverPath(e.table))
      }
    }
    graft.ops.Concurrently.run(spark)(dims ++ merges)
    ()
  }

  /** Gold: the four marts (gold.sql), truncate-and-reload, written
    * concurrently. */
  def runGold(): Unit = {
    val p = silver("patients")
    val e = silver("encounters")
    val t = silver("transactions")
    val c = silver("claims")
    val pr = silver("providers")
    val d = silver("departments")
    graft.ops.Concurrently.run(spark)(Seq(
      () => writeSwap(HealthGold.providerChargeSummary(t, pr, d), goldPath("provider_charge_summary")),
      () => writeSwap(HealthGold.patientHistory(p, e, t, c), goldPath("patient_history")),
      () => writeSwap(HealthGold.providerPerformance(pr, e, t, c), goldPath("provider_performance")),
      () => writeSwap(HealthGold.departmentPerformance(d, e, t), goldPath("department_performance"))))
    ()
  }

  /** The full DAG, one in-process chain with per-stage retry
    * (parent_dag.py:21-44; retries=1 per bq_dag.py:39-40; 5-min
    * retry delay per parent_dag.py:16-17). `retryDelayMs`/`sleep`
    * pass through to [[PipelineRunner.run]] so failure-path specs —
    * and operators who want a different cadence — never wait out a
    * real five minutes (same injection discipline as `clock`). */
  def run(runDate: LocalDate,
      retryDelayMs: Long = PipelineRunner.DefaultRetryDelayMs,
      sleep: Long => Unit = Thread.sleep): Seq[StageResult] =
    PipelineRunner.run(Seq(
      Stage("init", () => { Bootstrap.ensureTables(spark, auditPath, logsPath); () }),
      Stage("ingest_hospital_a",
        () => { ingest("hospital_a_db", s"$fixturesRoot/emr/hospital-a", runDate); () }),
      Stage("ingest_hospital_b",
        () => { ingest("hospital_b_db", s"$fixturesRoot/emr/hospital-b", runDate); () }),
      Stage("bronze_claims", () => loadBronzeClaims()),
      Stage("bronze_cpt", () => loadBronzeCpt()),
      Stage("silver", () => runSilver()),
      Stage("gold", () => runGold())), logger,
      retryDelayMs = retryDelayMs, sleep = sleep)
}

object HealthPipeline {
  /** Session conf key for the opt-in decimal monetary mode. */
  val DecimalMoneyKey = "spark.graft.decimalMoney"
}
