package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.ops.QualityStage
import graft.ops.QualityStage.{EntitySpec, Source}

/** Behavioral spec for the quality-staging interpreter
  * (silver.sql:90-139 semantics — flag, never drop).
  */
class QualityStageSpec extends SparkSpec {
  import spark.implicits._

  test("real NULL and 'null' text sentinel in the natural key quarantine the row") {
    val src = Seq(("1", "ok"), (null, "real-null"), ("NULL", "text-null"), ("Null", "mixed"))
      .toDF("id", "note")
    val out = QualityStage(EntitySpec(
      sources = Seq(Source(src, "hosa")), naturalKey = "id")).cache()
    out.count() shouldBe 4 // flagged, never dropped
    out.filter(col("is_quarantined")).count() shouldBe 3
    out.filter(!col("is_quarantined")).select("note").as[String].collect() shouldBe Array("ok")
    out.unpersist()
  }

  test("nullText agrees with LOWER(x) = 'null' on case variants, near misses and look-alikes") {
    val caseVariants = for {
      n <- Seq("n", "N"); u <- Seq("u", "U"); l1 <- Seq("l", "L"); l2 <- Seq("l", "L")
    } yield n + u + l1 + l2
    caseVariants.distinct should have size 16
    val others = Seq("nul", "nulls", " null", "null\n",
      "\uFF4E\uFF55\uFF4C\uFF4C", // fullwidth null
      "\u0149ull", // n preceded by apostrophe, then ull
      "\u0130", // dotted capital I: lower-cases to two chars
      "\u212A", // Kelvin sign: lower-cases to ASCII k
      "")
    val in = (caseVariants ++ others).map(Option(_)) :+ None
    val got = in.toDF("x")
      .select(col("x"), (lower(col("x")) === "null").as("old"),
        QualityStage.nullText(col("x")).as("now"))
      .collect().map(r => (Option(r.getString(0)), Option(r.get(1)), Option(r.get(2))))
    got should have size in.size
    got.foreach { case (x, old, now) => withClue(s"x = $x: ") { now shouldBe old } }
    got.count(_._2.contains(true)) shouldBe 16
    got.filter(_._1.isEmpty).map(_._3) shouldBe Array(None)
  }

  test("critical columns also quarantine; good rows pass") {
    val src = Seq(("1", "a@x.com"), ("2", null), ("3", "null")).toDF("id", "email")
    val out = QualityStage(EntitySpec(
      sources = Seq(Source(src, "hosa")), naturalKey = "id", criticalCols = Seq("email")))
    out.filter(col("is_quarantined")).select("id").as[String].collect().sorted shouldBe
      Array("2", "3")
  }

  test("surrogate key is naturalKey-datasource") {
    val out = QualityStage(EntitySpec(
      sources = Seq(Source(Seq(("7", "x")).toDF("id", "v"), "hosb")),
      naturalKey = "id", surrogateKeyCol = "sk"))
    out.select("sk").as[String].head() shouldBe "7-hosb"
  }

  test("multi-source union conciliates renamed columns and tags datasource") {
    val a = Seq(("1", "Ann")).toDF("ID", "Name")
    val b = Seq(("2", "Bob")).toDF("PatientID", "FullName")
    val out = QualityStage(EntitySpec(
      sources = Seq(
        Source(a, "hosa", renames = Map("ID" -> "patient_id", "Name" -> "name")),
        Source(b, "hosb", renames = Map("PatientID" -> "patient_id", "FullName" -> "name"))),
      naturalKey = "patient_id")).cache()
    out.count() shouldBe 2
    out.select("datasource").as[String].collect().sorted shouldBe Array("hosa", "hosb")
    out.columns should contain allOf ("patient_id", "name")
    out.unpersist()
  }

  test("casts use try_cast semantics: malformed values become NULL, not errors") {
    val src = Seq(("1", "42"), ("2", "not-a-number")).toDF("id", "amount")
    val out = QualityStage(EntitySpec(
      sources = Seq(Source(src, "hosa")),
      casts = Map("amount" -> IntegerType),
      naturalKey = "id")).cache()
    out.schema("amount").dataType shouldBe IntegerType
    out.filter(col("id") === "1").select("amount").as[Int].head() shouldBe 42
    out.filter(col("id") === "2").select("amount").isEmpty shouldBe false
    out.filter(col("id") === "2" && col("amount").isNull).count() shouldBe 1
    out.unpersist()
  }

  test("exact duplicate rows are deduplicated") {
    val src = Seq(("1", "dup"), ("1", "dup"), ("2", "uniq")).toDF("id", "v")
    val out = QualityStage(EntitySpec(sources = Seq(Source(src, "hosa")), naturalKey = "id"))
    out.count() shouldBe 2
  }
}
