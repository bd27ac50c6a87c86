package graft.health

import java.sql.Timestamp
import java.time.LocalDate

import graft.ingest._
import graft.ops.{Fingerprint, Interpreted, LocalFs, TableSwap}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * A daily run skips the work its inputs did not change. Each skip
  * compares a content fingerprint ([[graft.ops.Fingerprint]]) with a
  * marker recorded beside the output when that output was written, so
  * the marker commits with the data it describes:
  *  - Landing: a full-load table whose source file is unchanged keeps
  *    its landing dir, unarchived ([[graft.ingest.IngestionRunner]];
  *    the `_source` marker of the landing dir).
  *  - Bronze: [[loadBronzeClaims]] and [[loadBronzeCpt]] skip when
  *    their CSV files are unchanged (`_source` in the bronze dir,
  *    written after the write commits).
  *  - Type-1 dims: silver departments and providers skip when their
  *    landing inputs are unchanged (`_inputs`, written into the swap
  *    temp dir before publish). A dim carries no run timestamp, so
  *    the same inputs rebuild the same rows.
  * SCD2 merges and gold always run. A silver dim's inputs are the
  * `_source` markers of the landing tables it reads and the schema of
  * the frame it is built from; an input without a marker (a JDBC
  * landing) has no known content, so its dim is always rebuilt.
  *
  * Every plan this instance builds (ingest extracts, audit and log
  * appends, the watermark scan, bronze, the silver merges, gold, and
  * the [[silver]]/[[gold]] reads) runs interpreted, in
  * [[graft.ops.Interpreted.session]]: a clone of `spark`, made once
  * by the constructor, with whole-stage and expression codegen off. On
  * a few thousand rows per table, Janino-compiling the ~170 generated
  * classes of a daily run, then JIT-compiling them, costs more than
  * the rows do (interpreted, about 10 remain: Spark generates a text
  * scan's row projection and a partial aggregate's row joiner whatever
  * the conf); measured on 4 cores over generated fixtures of 0.6 to
  * 265 MB, the interpreted full load and daily run had the lower
  * median time at every size. `spark` is
  * never changed: the clone forwards each execution to the query
  * execution listeners registered on `spark` when it ends, so a
  * listener added after construction still sees every plan. The
  * clone's SQL conf is `spark`'s as of construction: a conf set on
  * `spark` later (time zone, shuffle partitions, ANSI mode) does not
  * reach this instance's plans, so build a new pipeline to pick it
  * up. The decimal mode alone stays read from `spark`'s conf per run.
  * One `plan` INFO event in `pipeline_logs` records the session the
  * plans run in.
  *
  * Markers record code as well as data: each fingerprint includes a
  * derivation version, [[HealthPipeline.Derivation]] for the bronze
  * loads and the dims and [[graft.ingest.LandingZone.Derivation]] for
  * a landing (which a dim's inputs carry on). Bump the version with
  * the code that derives those tables, and the next run rebuilds them
  * instead of keeping what older code wrote.
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

  /** The session every plan of this instance runs in (see the class
    * notes). */
  private val session: SparkSession = Interpreted.session(spark)

  private val auditPath = s"$workRoot/audit_log"
  private val logsPath = s"$workRoot/pipeline_logs"
  val landing = new LandingZone(session, s"$workRoot/landing")
  val audit = new AuditLog(session, auditPath)
  val logger = new PipelineLogger(session, logsPath, clock)

  logger.info("Interpreted session: whole-stage and expression codegen off", "plan")

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
    TableSwap.recover(fs, new Path(path), TableSwap.tmpPath(path))
    LocalFs.parquet(session, path)
  }

  /** [[readRecovered]] for a table that may not exist yet. */
  private def recovered(path: String): Option[DataFrame] = {
    TableSwap.recover(fs, new Path(path), TableSwap.tmpPath(path))
    if (exists(path)) Some(LocalFs.parquet(session, path)) else None
  }

  /** Write-temp-then-swap (atomic table replace without reading and
    * overwriting the same files in one job); recovers an interrupted
    * prior swap BEFORE overwriting the temp dir — that temp may be the
    * only surviving copy of the table. `inputs`, if given, is recorded
    * as the temp dir's `_inputs` marker before publish. */
  private def writeSwap(df: DataFrame, path: String, inputs: Option[String] = None): Unit = {
    val tmp = TableSwap.tmpPath(path)
    val dst = new Path(path)
    TableSwap.recover(fs, dst, tmp)
    LocalFs.write(df).mode("overwrite").parquet(tmp.toString)
    inputs.foreach(Fingerprint.write(fs, tmp.toString, Fingerprint.InputsMarker, _))
    TableSwap.publish(fs, dst, tmp)
  }

  /** Reference load config, with the hospital-B patients watermark
    * pointed at the seed CSV's actual header (`Updated_Date`; the
    * hospital-B DDL says `ModifiedDate` — SURVEY §1.3 drift note). */
  def config(): Seq[LoadConfigEntry] =
    LoadConfig.read(session, configPath).map { e =>
      if (e.datasource == "hospital_b_db" && e.tablename == "patients")
        e.copy(watermark = "Updated_Date")
      else e
    }

  def ingest(datasource: String, dir: String, runDate: LocalDate): Seq[TableLoadResult] =
    new IngestionRunner(session, new CsvSource(dir), landing, audit, logger, clock)
      .run(config(), datasource, runDate)

  /** Load a bronze table into its dir unless the dir's `_source`
    * marker already records `files`, the fingerprint of the files the
    * load reads, under this [[HealthPipeline.Derivation]]; the marker
    * is written after the load commits. */
  private def loadBronze(table: String, files: Option[String])(load: String => Unit): Unit = {
    val path = bronzePath(table)
    val source = files.map(f => Fingerprint.of(Seq(HealthPipeline.Derivation, f)))
    if (source.isDefined && source == Fingerprint.read(fs, path, Fingerprint.SourceMarker))
      logger.info("Source files unchanged since the last load; bronze kept", "skip", table)
    else {
      load(path)
      source.foreach(Fingerprint.write(fs, path, Fingerprint.SourceMarker, _))
    }
  }

  /** Bronze claims: both hospital files in one scan, datasource tagged
    * from the file path, exact-duplicate rows dropped
    * (claims.py:16-25). The fingerprint labels each file with its tag,
    * since the tag is all of its path that reaches the rows. */
  def loadBronzeClaims(): Unit = {
    val glob = s"$fixturesRoot/claims/*.csv"
    val sfs = LocalFs.fsOf(spark, glob)
    val files = Option(sfs.globStatus(new Path(glob))).toSeq.flatten.map(_.getPath).sortBy(_.getName)
    def tag(file: String) =
      HealthPipeline.ClaimsTags.collectFirst { case (s, t) if file.contains(s) => t }.getOrElse("None")
    loadBronze("claims",
        Fingerprint.files(sfs, files.map(p => s"${tag(p.toString)}/${p.getName}" -> p))) { path =>
      val file = input_file_name()
      val df = LocalFs.csv(session, glob)
        .withColumn("datasource", HealthPipeline.ClaimsTags.foldRight(lit("None")) {
          case ((s, t), otherwise) => when(file.contains(s), t).otherwise(otherwise)
        })
        .dropDuplicates()
      LocalFs.write(df).mode("overwrite").parquet(path)
    }
  }

  /** Bronze CPT codes: header CSV + the column rename fold
    * (cpt_codes.py:15-20). */
  def loadBronzeCpt(): Unit = {
    val csv = s"$fixturesRoot/cptcodes/cptcodes.csv"
    loadBronze("cpt_codes",
        Fingerprint.files(LocalFs.fsOf(spark, csv), Seq("cptcodes.csv" -> new Path(csv)))) { path =>
      val raw = LocalFs.csv(session, csv)
      val renamed = raw.columns.foldLeft(raw)((d, c) =>
        d.withColumnRenamed(c, c.replace(" ", "_").toLowerCase))
      LocalFs.write(renamed).mode("overwrite").parquet(path)
    }
  }

  /** The landing table a bronze name reads: the EMR tables carry a
    * hospital suffix (_ha/_hb, per bronze.sql:3-63 naming). */
  private def landed(name: String): Option[(String, String)] =
    if (name.endsWith("_ha")) Some(("hospital_a_db", name.stripSuffix("_ha")))
    else if (name.endsWith("_hb")) Some(("hospital_b_db", name.stripSuffix("_hb")))
    else None

  private def bronzeDir(name: String): String =
    landed(name).fold(bronzePath(name)) { case (ds, t) => landing.tableDir(ds, t) }

  /** Bronze view of this run's landed data: landing JSON for the EMR
    * tables, parquet for claims/cpt. A table that landed nothing this
    * run is simply absent — like a bronze external table over an empty
    * prefix. */
  private def bronzeTable(name: String): Option[DataFrame] =
    if (!exists(bronzeDir(name))) None
    else Some(landed(name).fold(LocalFs.parquet(session, bronzePath(name))) {
      case (ds, t) => landing.read(ds, t)
    })

  /** The fingerprint of what silver `table` is built from: the
    * `_source` markers of its bronze tables, the schema of the frame it
    * is built from and the [[HealthPipeline.Derivation]]. None when an
    * input has no marker. */
  private def inputsOf(table: String, bronze: Seq[String], schema: StructType): Option[String] = {
    val sources = bronze.map(b =>
      Fingerprint.read(fs, bronzeDir(b), Fingerprint.SourceMarker).map(s"$b=" + _))
    if (sources.exists(_.isEmpty)) None
    else Some(Fingerprint.of(HealthPipeline.Derivation +: table +: sources.flatten :+ schema.json))
  }

  /** Whether silver `table`, after any interrupted swap is finished,
    * records `inputs` in its `_inputs` marker; a skip is logged. */
  private def unchanged(table: String, inputs: Option[String]): Boolean = {
    val path = silverPath(table)
    TableSwap.recover(fs, new Path(path), TableSwap.tmpPath(path))
    val same = inputs.isDefined && inputs == Fingerprint.read(fs, path, Fingerprint.InputsMarker)
    if (same) logger.info("Inputs unchanged since the last build; silver kept", "skip", table)
    same
  }

  /** The current silver table of an SCD2 entity, or an empty one on
    * the first run. */
  private def mergeTarget(e: HealthSilver.Entity, staged: DataFrame): DataFrame =
    recovered(silverPath(e.table)) match {
      case Some(tgt) =>
        // Refuse a type flip over standing history: merging decimal
        // staging into float silver (or vice versa, after toggling
        // spark.graft.decimalMoney mid-history) would NOT fail — the
        // SCD2 union/join would silently widen back to double and
        // void the exact-cents contract. Type drift is a migration,
        // not a merge.
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

  /** Silver: reload the two type-1 dims and run each SCD2 merge over
    * whatever bronze data is present (silver.sql, whole file); a dim
    * is skipped when its inputs are unchanged (see the class notes). The
    * seven tables are independent, so they are built concurrently
    * ([[graft.ops.Concurrently]]); one entity's failure does not stop
    * the others — they all finish and publish, then the stage fails
    * with the first failure in entity order. */
  def runSilver(): Unit = {
    val ts = clock()
    def dim(table: String, build: (DataFrame, DataFrame) => DataFrame) = () => for {
      ha <- bronzeTable(s"${table}_ha")
      hb <- bronzeTable(s"${table}_hb")
    } {
      val df = build(ha, hb)
      val inputs = inputsOf(table, Seq(s"${table}_ha", s"${table}_hb"), df.schema)
      if (!unchanged(table, inputs)) writeSwap(df, silverPath(table), inputs)
    }
    val dims = Seq(dim("departments", HealthSilver.departments), dim("providers", HealthSilver.providers))
    val merges = scd2Entities.map { e => () =>
      val bronze = e.bronzeTables.flatMap(t => bronzeTable(t).map(t -> _)).toMap
      if (bronze.nonEmpty) {
        val staged = e.stage(bronze)
        writeSwap(e.merge(lit(ts))(mergeTarget(e, staged), staged), silverPath(e.table))
      }
    }
    graft.ops.Concurrently.run(session)(dims ++ merges)
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
    graft.ops.Concurrently.run(session)(Seq(
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
      Stage("init", () => { Bootstrap.ensureTables(session, auditPath, logsPath); () }),
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

  /** The version of the code that derives the bronze claims and CPT
    * tables and the silver departments and providers dims, part of
    * every fingerprint their skips compare. Bump it with that code: a
    * marker recorded under another version does not match, so the
    * next run rebuilds them. */
  val Derivation = "health-derivation-1"

  /** The bronze claims tag of a file whose path contains the first
    * string, in order; "None" when none matches (claims.py:19-23). */
  private val ClaimsTags = Seq("hospital2" -> "hosb", "hospital1" -> "hosa")
}
