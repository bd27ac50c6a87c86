package graft

import java.nio.file.{Files, Path, Paths}

import graft.health.{HealthGold, HealthPipeline, HealthSilver}
import graft.ingest.LandingZone
import graft.ops.Interpreted
import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** A pipeline runs its plans in an interpreted clone of the caller's
  * session ([[graft.ops.Interpreted]]). Over generated fixtures
  * ([[MedallionFixtures]]: a full load, then one daily run) this pins
  * that the caller's session is left as it was, that no pipeline plan
  * generates code (the compiled classes show what a Spark version that
  * stops honouring the internal `spark.sql.codegen.factoryMode` conf
  * breaks), that the run logs the session its plans run in, that the
  * clone's conf is the caller's as of construction, that a missing
  * source snapshot fails the ingest stage and is logged, and that the
  * interpreted results equal compiled ones: the gold marts recomputed
  * in the caller's session, and each SCD2 merge of the daily run
  * re-run there on the same target and source.
  */
class InterpretedPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val gen = MedallionFixtures(seed = 31)
  private lazy val root: Path = {
    val r = Paths.get(tmpDir("interpreted-pipeline"))
    (0 to 1).foreach(d => gen.write(r.resolve(s"day-$d"), d))
    r
  }
  private lazy val work = root.resolve("work").toString

  private def pipeline(d: Int): HealthPipeline = {
    val src = root.resolve(s"day-$d")
    new HealthPipeline(spark, src.toString, s"$src/load_config.csv", work,
      () => MedallionFixtures.clock(d))
  }

  private def generatesCode(plan: SparkPlan): Boolean =
    find(plan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  private def multiset(df: DataFrame): (Seq[String], Map[Row, Int]) =
    (df.columns.toSeq, df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size })

  private def read(layer: String, t: String): DataFrame = spark.read.parquet(s"$work/$layer/$t")

  private val scd2 = HealthSilver.scd2Entities
  private val targetsBefore = scala.collection.mutable.Map[String, String]()

  /** The generated classes compiled while `body` runs (the class each
    * compiled source declares, from the code generator's debug log),
    * and the compile count of Spark's codegen metrics over the same
    * span. */
  private def compiledBy(body: => Unit): (Seq[String], Long) = {
    val classes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val Declared = """class (\w+) extends""".r
    val logger = LogManager.getLogger(CodeGenerator.getClass.getName.stripSuffix("$"))
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val appender = new AbstractAppender("compiled-classes", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        Declared.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach(m => classes.add(m.group(1)))
    }
    appender.start()
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    logger.addAppender(appender)
    logger.setAdditive(false)
    logger.setLevel(Level.DEBUG) // last: adding an appender resets the level
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      logger.setLevel(level)
      logger.setAdditive(additive)
      logger.removeAppender(appender)
      appender.stop()
    }
    (classes.toArray(Array.empty[String]).toSeq, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
  }

  /** The caller's executed plans and the classes compiled during the
    * two runs, with the compile count. */
  private lazy val observed: (Seq[SparkPlan], (Seq[String], Long)) = {
    val full = pipeline(0)
    val daily = pipeline(1)
    // registered after both pipelines were built
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.collectFirst { case r: Range => r }.isEmpty) // not the drain below
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val compiled = compiledBy {
        full.run(MedallionFixtures.runDate(0), retryDelayMs = 0L)
          .filter(_.status != "SUCCESS") shouldBe empty
        val fs = graft.ops.LocalFs.fsOf(spark, work)
        for (e <- scd2) {
          val copy = root.resolve(s"before/${e.table}").toString
          FileUtil.copy(fs, new HPath(s"$work/silver/${e.table}"), fs, new HPath(copy),
            false, spark.sparkContext.hadoopConfiguration) shouldBe true
          targetsBefore(e.table) = copy
        }
        daily.run(MedallionFixtures.runDate(1), retryDelayMs = 0L)
          .filter(_.status != "SUCCESS") shouldBe empty
      }
      jobsStartedBy(()) // every listener event of the runs is delivered (a spark.range job)
      (plans.toArray(Array.empty[SparkPlan]).toSeq, compiled)
    } finally spark.listenerManager.unregister(listener)
  }

  test("the caller's session keeps its codegen settings and still generates code") {
    observed
    spark.conf.getAll.keySet should contain noneOf (Interpreted.WholeStageKey, Interpreted.FactoryModeKey)
    val q = spark.range(100).selectExpr("id * 2 AS x").filter("x > 10")
    q.collect()
    generatesCode(q.queryExecution.executedPlan) shouldBe true
  }

  test("no pipeline plan generates code, and the caller's listeners see them") {
    val (plans, _) = observed
    plans.size should be > 40
    plans.filter(generatesCode) shouldBe empty
  }

  test("the pipeline compiles only what Spark generates whatever the session conf") {
    val (_, (classes, compiles)) = observed
    compiles shouldBe classes.size.toLong
    // Spark calls these two generators directly, not through the
    // codegen factory: a text-format scan's row projection
    // (FileFormat.buildReaderWithPartitionValues, the CSV and JSON
    // reads) and the key-buffer joiner of a partial aggregate that is
    // not whole-stage generated. A filter, sort, aggregate or stage
    // compiled here would mean the factory mode is not honoured.
    classes.toSet -- Set("SpecificUnsafeProjection", "SpecificUnsafeRowJoiner") shouldBe empty
  }

  test("the pipeline logs the session its plans run in") {
    observed
    val events = spark.read.parquet(s"$work/pipeline_logs").filter(col("step") === "plan")
      .select("event_type", "message").collect()
    events.length shouldBe 2 // one per pipeline
    events.foreach { r =>
      r.getString(0) shouldBe "INFO"
      r.getString(1) should startWith("Interpreted session: ")
    }
  }

  test("the pipeline's plans see the caller's conf as of construction") {
    observed
    val (before, after) = ("spark.graft.probe.before", "spark.graft.probe.after")
    val sessions = new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.collectFirst { case r: Range => r }.isEmpty) // not the drain below
          sessions.add(qe.sparkSession)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.conf.set(before, "1")
    try {
      val p = pipeline(1)
      spark.conf.set(after, "1")
      spark.listenerManager.register(listener)
      try {
        p.gold("patient_history").collect()
        jobsStartedBy(())
      } finally spark.listenerManager.unregister(listener)
      val seen = sessions.toArray(Array.empty[SparkSession]).toSeq
      seen should not be empty
      seen.foreach { s =>
        (s eq spark) shouldBe false
        s.conf.getOption(before) shouldBe Some("1")
        s.conf.getOption(after) shouldBe None
        s.conf.get(Interpreted.WholeStageKey) shouldBe "false"
      }
    } finally {
      spark.conf.unset(before)
      spark.conf.unset(after)
    }
  }

  test("a missing source snapshot fails the ingest stage, logged as an ERROR event") {
    val dir = Paths.get(tmpDir("interpreted-missing"))
    val src = dir.resolve("absent").toString
    val logs = dir.resolve("work/pipeline_logs").toString
    val results = new HealthPipeline(spark, src, s"$src/load_config.csv", dir.resolve("work").toString,
      () => MedallionFixtures.clock(0)).run(MedallionFixtures.runDate(0), retryDelayMs = 0L)
    results.map(r => r.name -> r.status).take(3) shouldBe
      Seq("init" -> "SUCCESS", "ingest_hospital_a" -> "FAILED", "ingest_hospital_b" -> "SKIPPED")
    spark.read.parquet(logs)
      .filter(col("step") === "ingest_hospital_a" && col("event_type") === "ERROR").count() should be > 0L
  }

  test("the gold marts recomputed in the compiled session equal the interpreted ones") {
    observed
    val Seq(p, e, t, c, pr, d) =
      Seq("patients", "encounters", "transactions", "claims", "providers", "departments")
        .map(read("silver", _))
    val marts = Seq(
      "provider_charge_summary" -> HealthGold.providerChargeSummary(t, pr, d),
      "patient_history" -> HealthGold.patientHistory(p, e, t, c),
      "provider_performance" -> HealthGold.providerPerformance(pr, e, t, c),
      "department_performance" -> HealthGold.departmentPerformance(d, e, t))
    for ((name, compiled) <- marts) withClue(s"gold.$name: ") {
      val interpreted = multiset(read("gold", name))
      multiset(compiled) shouldBe interpreted
      // no fact row of these fixtures references their providers' ids
      if (name != "provider_charge_summary") {
        interpreted._2 should not be empty
        generatesCode(compiled.queryExecution.executedPlan) shouldBe true
      }
    }
  }

  test("each SCD2 merge of the daily run, re-run compiled on the same target and source, equals silver") {
    observed
    val landing = new LandingZone(spark, s"$work/landing")
    def bronze(name: String): Option[DataFrame] = {
      val landed =
        if (name.endsWith("_ha")) Some(("hospital_a_db", name.stripSuffix("_ha")))
        else if (name.endsWith("_hb")) Some(("hospital_b_db", name.stripSuffix("_hb")))
        else None
      val dir = landed.fold(s"$work/bronze/$name") { case (ds, tb) => landing.tableDir(ds, tb) }
      if (!Files.isDirectory(Paths.get(dir))) None
      else Some(landed.fold(spark.read.parquet(dir)) { case (ds, tb) => landing.read(ds, tb) })
    }
    for (e <- scd2) withClue(s"silver.${e.table}: ") {
      val staged = e.stage(e.bronzeTables.flatMap(t => bronze(t).map(t -> _)).toMap)
      val merged = e.merge(lit(MedallionFixtures.clock(1)))(
        spark.read.parquet(targetsBefore(e.table)), staged)
      multiset(merged) shouldBe multiset(read("silver", e.table))
      generatesCode(merged.queryExecution.executedPlan) shouldBe true
    }
  }
}
