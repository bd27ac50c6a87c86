package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Scd2Merge

/** Behavioral spec for the SCD2 merge kernel, pinning the reference's
  * MERGE quirks a/b/c (silver.sql:142-199; Scd2Merge.scala scaladoc).
  */
class Scd2MergeSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-02-01 00:00:00")
  private val t2 = Timestamp.valueOf("2024-03-01 00:00:00")

  private def merge(clock: Timestamp) =
    Scd2Merge(keyCols = Seq("k"), compareCols = Seq("name", "city"), clock = lit(clock))

  private def target(rows: (String, String, String, Timestamp, Timestamp, Boolean)*): DataFrame =
    rows.toDF("k", "name", "city", "inserted_date", "modified_date", "is_current")

  private def source(rows: (String, String, String)*): DataFrame =
    rows.toDF("k", "name", "city")

  private def rowOf(df: DataFrame, k: String, current: Boolean) =
    df.filter(col("k") === k && col("is_current") === current).collect()

  test("quirk c: brand-new key inserts current with inserted=modified=clock") {
    val out = merge(t1)(target(), source(("p1", "Ann", "Oslo")))
    val rows = out.collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[String]("name") shouldBe "Ann"
    r.getAs[Boolean]("is_current") shouldBe true
    r.getAs[Timestamp]("inserted_date") shouldBe t1
    r.getAs[Timestamp]("modified_date") shouldBe t1
  }

  test("changed key is closed (is_current=false, modified_date=clock)") {
    val tgt = target(("p1", "Ann", "Oslo", t0, t0, true))
    val out = merge(t1)(tgt, source(("p1", "Ann", "Bergen")))
    val rows = out.collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[Boolean]("is_current") shouldBe false
    r.getAs[String]("city") shouldBe "Oslo" // target version kept, just closed
    r.getAs[Timestamp]("modified_date") shouldBe t1
    r.getAs[Timestamp]("inserted_date") shouldBe t0
  }

  test("quirk b: close-only — new version arrives on the NEXT run, not the same run") {
    val tgt = target(("p1", "Ann", "Oslo", t0, t0, true))
    val src = source(("p1", "Ann", "Bergen"))
    val run1 = merge(t1)(tgt, src)
    // Same run: only the closed old row; the Bergen version is absent.
    run1.filter(col("city") === "Bergen").count() shouldBe 0
    // Next run with the same source: key no longer has a current row →
    // NOT MATCHED → Bergen inserts as current.
    val run2 = merge(t2)(run1, src).cache()
    val cur = rowOf(run2, "p1", current = true)
    cur.length shouldBe 1
    cur.head.getAs[String]("city") shouldBe "Bergen"
    cur.head.getAs[Timestamp]("inserted_date") shouldBe t2
    rowOf(run2, "p1", current = false).length shouldBe 1
    run2.unpersist()
  }

  test("quirk a: value→NULL compare column is treated as UNCHANGED") {
    val tgt = target(("p1", "Ann", "Oslo", t0, t0, true))
    val out = merge(t1)(tgt, source(("p1", "Ann", null)))
    val rows = out.collect()
    rows.length shouldBe 1
    rows.head.getAs[Boolean]("is_current") shouldBe true
    rows.head.getAs[Timestamp]("modified_date") shouldBe t0
  }

  test("quirk a: NULL→value compare column is treated as UNCHANGED") {
    val tgt = target(("p1", "Ann", null, t0, t0, true))
    val out = merge(t1)(tgt, source(("p1", "Ann", "Oslo")))
    val rows = out.collect()
    rows.length shouldBe 1
    rows.head.getAs[Boolean]("is_current") shouldBe true
    rows.head.getAs[String]("city") shouldBe null
  }

  test("unchanged and source-absent keys are untouched; history carried through") {
    val tgt = target(
      ("p1", "Ann", "Oslo", t0, t0, true),    // unchanged in source
      ("p2", "Bob", "Bergen", t0, t0, true),  // absent from source
      ("p2", "Bob", "Tromso", t0, t0, false)) // closed history
    val out = merge(t1)(tgt, source(("p1", "Ann", "Oslo"))).cache()
    out.count() shouldBe 3
    rowOf(out, "p1", current = true).head.getAs[Timestamp]("modified_date") shouldBe t0
    rowOf(out, "p2", current = true).head.getAs[String]("city") shouldBe "Bergen"
    rowOf(out, "p2", current = false).head.getAs[String]("city") shouldBe "Tromso"
    out.unpersist()
  }

  test("idempotence: re-merging an already-applied source is a no-op") {
    val tgt = target(
      ("p1", "Ann", "Oslo", t0, t0, true),
      ("p2", "Bob", "Bergen", t0, t0, true))
    val src = source(("p1", "Ann", "Oslo"), ("p2", "Bob", "Bergen"), ("p3", "Cat", "Tromso"))
    val once = merge(t1)(tgt, src)
    val twice = merge(t2)(once, src)
    // Second application changes nothing: same rows, same timestamps.
    twice.exceptAll(once).count() shouldBe 0
    once.exceptAll(twice).count() shouldBe 0
  }

  test("invariant: at most one is_current row per key after chained merges") {
    val keys = (1 to 20).map(i => s"k$i")
    val tgt = target(keys.map(k => (k, s"n-$k", "a", t0, t0, true)): _*)
    // Run 1 changes half the keys; run 2 re-sends the same snapshot.
    val src = source(keys.map(k =>
      if (k.stripPrefix("k").toInt % 2 == 0) (k, s"n-$k", "b") else (k, s"n-$k", "a")): _*)
    val r2 = merge(t2)(merge(t1)(tgt, src), src)
    val maxCurrentPerKey = r2.filter(col("is_current"))
      .groupBy("k").count().agg(max("count")).head().getLong(0)
    maxCurrentPerKey shouldBe 1L
    // And every key still has exactly one current version.
    r2.filter(col("is_current")).select("k").distinct().count() shouldBe keys.length.toLong
  }

  test("quirk d: NULL business keys never match — target preserved, source inserts") {
    // a NULL-key current row (QualityStage flags-not-drops NULL natural
    // keys, so NULL surrogate keys DO reach the merge)
    val tgt = target(
      (null.asInstanceOf[String], "Anon", "Oslo", t0, t0, true),
      ("p1", "Ann", "Oslo", t0, t0, true))
    val out = merge(t1)(tgt, source(
      (null.asInstanceOf[String], "Ghost", "Bergen"),
      ("p1", "Ann", "Oslo")))
    // the NULL-key target row is untouched (NOT replaced by all-NULLs,
    // NOT closed), and the NULL-key source row inserts as its own row —
    // BigQuery MERGE `ON t.k = s.k` semantics
    val nullRows = out.filter(col("k").isNull).collect()
    nullRows.length shouldBe 2
    nullRows.map(_.getAs[String]("name")).sorted shouldBe Array("Anon", "Ghost")
    nullRows.foreach(_.getAs[Boolean]("is_current") shouldBe true)
    out.filter(col("k") === "p1").count() shouldBe 1
  }

  test("duplicate source keys: each current row is emitted once per matching source row") {
    // claims' shape: two current rows for one key (run 1 inserted both)
    // and a source that carries both versions again
    val tgt = target(
      ("c1", "Ann", "Oslo", t0, t0, true),
      ("c1", "Ann", "Bergen", t0, t0, true))
    val out = merge(t1)(tgt, source(("c1", "Ann", "Oslo"), ("c1", "Ann", "Bergen")))
    // A meets A (untouched) and B (closed); B meets A (closed) and B
    // (untouched): each version once current and once closed
    out.select("city", "is_current", "modified_date")
      .as[(String, Boolean, Timestamp)].collect().sortBy(r => (r._1, r._2)) shouldBe Array(
        ("Bergen", false, t1), ("Bergen", true, t0),
        ("Oslo", false, t1), ("Oslo", true, t0))
  }
}
