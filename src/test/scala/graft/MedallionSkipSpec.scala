package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import graft.health.HealthPipeline
import org.apache.spark.sql.Row

/** Skipping unchanged inputs changes no result. Over generated
  * fixtures ([[MedallionFixtures]]), a full load and two daily runs
  * that skip what their inputs did not change leave every silver and
  * gold table identical to the same runs made after deleting every
  * `_source` and `_inputs` marker, which forces each step to redo its
  * work. The day-2 snapshot equals day 1's, so day 2 lands no
  * incremental delta. The CPT file repeats a code with another status,
  * so its SCD2 merge sees a duplicate source key on every run.
  *
  * It also pins which work is skipped: the bronze loads start no Spark
  * job on either daily run and the type-1 dims are not written, while
  * the SCD2 merges of `claims` and `cpt_codes`, whose bronze inputs
  * are unchanged, are written every day and record no marker.
  */
class MedallionSkipSpec extends SparkSpec {

  private val gen = MedallionFixtures(seed = 23)
  private lazy val root: Path = {
    val r = Paths.get(tmpDir("medallion-skip"))
    (0 to 2).foreach { d =>
      gen.write(r.resolve(s"day-$d"), d)
      val cpt = r.resolve(s"day-$d/cptcodes/cptcodes.csv")
      val last = Files.readAllLines(cpt).asScala.last
      val repeat = last.take(last.lastIndexOf(',')) + ",Deleted\n" // same key, other status
      Files.write(cpt, repeat.getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
    }
    r
  }

  private val silverTables =
    Seq("departments", "providers", "patients", "encounters", "transactions", "claims", "cpt_codes")
  private val goldTables =
    Seq("provider_charge_summary", "patient_history", "provider_performance", "department_performance")

  private def pipeline(work: String, d: Int): HealthPipeline = {
    val src = root.resolve(s"day-$d")
    new HealthPipeline(spark, src.toString, s"$src/load_config.csv", work,
      () => MedallionFixtures.clock(d))
  }

  private def markers(work: String): Seq[Path] = {
    val names = Set("_source", "_inputs", "._source.crc", "._inputs.crc")
    val walk = Files.walk(Paths.get(work))
    try walk.filter(p => names(p.getFileName.toString)).toArray.toSeq.map(_.asInstanceOf[Path])
    finally walk.close()
  }

  /** Day `d`'s stages, as [[HealthPipeline.run]] sequences them after
    * init; returns the jobs of the two bronze loads and the silver
    * tables written. */
  private def daily(work: String, d: Int): (Int, Set[String]) = {
    val pipe = pipeline(work, d)
    val src = root.resolve(s"day-$d")
    pipe.ingest("hospital_a_db", s"$src/emr/hospital-a", MedallionFixtures.runDate(d))
    pipe.ingest("hospital_b_db", s"$src/emr/hospital-b", MedallionFixtures.runDate(d))
    val bronzeJobs = jobsStartedBy { pipe.loadBronzeClaims(); pipe.loadBronzeCpt() }
    val written = writesBy(pipe.runSilver())
      .filter(_.contains(s"$work/silver/"))
      .map(_.split("/").last.stripSuffix("__swap_tmp")).toSet
    pipe.runGold()
    pipe.logger.flush()
    (bronzeJobs, written)
  }

  private def rows(pipe: HealthPipeline, layer: String, t: String): (Seq[String], Map[Row, Int]) = {
    val df = if (layer == "silver") pipe.silver(t) else pipe.gold(t)
    (df.columns.toSeq, df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size })
  }

  test("daily runs that skip unchanged inputs leave every silver and gold table as a forced rebuild does") {
    val skipping = root.resolve("work-skip").toString
    val forced = root.resolve("work-forced").toString
    Seq(skipping, forced).foreach { w =>
      pipeline(w, 0).run(MedallionFixtures.runDate(0), retryDelayMs = 0L)
        .filter(_.status != "SUCCESS") shouldBe empty
    }

    Files.exists(Paths.get(s"$skipping/silver/departments/_inputs")) shouldBe true

    val expectedWrites = Map(
      1 -> (Set("patients", "encounters", "transactions", "claims", "cpt_codes"), silverTables.toSet),
      2 -> (Set("claims", "cpt_codes"), Set("departments", "providers", "claims", "cpt_codes")))
    for (d <- 1 to 2) {
      val (skipBronzeJobs, skipWrites) = daily(skipping, d)
      markers(forced) should not be empty
      markers(forced).foreach(Files.delete)
      val (forcedBronzeJobs, forcedWrites) = daily(forced, d)

      withClue(s"day $d: ") {
        skipBronzeJobs shouldBe 0
        forcedBronzeJobs should be > 0
        (skipWrites, forcedWrites) shouldBe expectedWrites(d)
        for (t <- Seq("patients", "encounters", "transactions", "claims", "cpt_codes"))
          Files.exists(Paths.get(s"$skipping/silver/$t/_inputs")) shouldBe false
        val (a, b) = (pipeline(skipping, d), pipeline(forced, d))
        for (t <- silverTables) withClue(s"silver.$t")(rows(a, "silver", t) shouldBe rows(b, "silver", t))
        for (t <- goldTables) withClue(s"gold.$t")(rows(a, "gold", t) shouldBe rows(b, "gold", t))
        val cpt = a.silver("cpt_codes") // the repeated code is there
        cpt.count() should be > cpt.select("cpt_codes").distinct().count()
      }
    }
  }
}
