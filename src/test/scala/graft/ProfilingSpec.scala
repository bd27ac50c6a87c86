package graft

import graft.queries.{EventAnalytics, Profiling}
import org.apache.spark.sql.functions._

/** Pins the profiling sketches against exact answers on the testdata.
  * The driver's DuckDB oracle proves q41/q91 are REPRODUCIBLE
  * (identical integer math in an independent engine); these tests
  * prove the estimates are also MEANINGFUL — close to the exact
  * quantities they sketch — and pin the built-in-sketch variants
  * (HLL / percentile_approx) that have no external oracle. */
class ProfilingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private def haveData = new java.io.File(s"$sfDir/lineitem.parquet").exists()
  private val cols = Seq("l_quantity", "l_extendedprice", "l_discount")

  test("q41: exact columns match, KMV exact below k, within 4 rsd above") {
    assume(haveData, s"$sfDir not present")
    val prof = Profiling.q41ProfileSketch(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    val li = Tables.lineitem(spark, sfDir)
    cols.foreach { c =>
      val row = prof(c)
      val exact = li.agg(
        count(col(c)), (count(lit(1)) - count(col(c))),
        countDistinct(round(col(c) * 100, 0).cast("long"))).collect()(0)
      withClue(s"$c n/n_null/n_distinct:") {
        row.getLong(1) shouldBe exact.getLong(0)
        row.getLong(2) shouldBe exact.getLong(1)
        row.getLong(3) shouldBe exact.getLong(2)
      }
      val d = exact.getLong(2)
      val est = row.getLong(4)
      if (d < Profiling.KmvK)
        withClue(s"$c KMV below k must be exact:") { est shouldBe d }
      else {
        val rsd = 1.0 / math.sqrt(Profiling.KmvK - 2.0)
        withClue(s"$c KMV est=$est exact=$d:") {
          math.abs(est - d).toDouble / d should be <= 4 * rsd
        }
      }
    }
  }

  test("q41: exact percentiles at rank ceil(p*n) on bounded columns, NULL elsewhere") {
    assume(haveData, s"$sfDir not present")
    val prof = Profiling.q41ProfileSketch(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    val li = Tables.lineitem(spark, sfDir)
    Profiling.ExactPctCols.foreach { c =>
      val sorted = li.select(round(col(c) * 100, 0).cast("long").as("v"))
        .filter(col("v").isNotNull).orderBy("v")
        .collect().map(_.getLong(0))
      val n = sorted.length
      def atRank(p: Double): Long = sorted(math.ceil(p * n).toInt - 1)
      withClue(s"$c p50/p90/p99:") {
        prof(c).getLong(5) shouldBe atRank(0.50)
        prof(c).getLong(6) shouldBe atRank(0.90)
        prof(c).getLong(7) shouldBe atRank(0.99)
      }
    }
    // unbounded-cardinality columns opt out of exact order statistics
    // (profileApprox serves them); the contract is NULL, not a sort
    (cols.toSet -- Profiling.ExactPctCols).foreach { c =>
      withClue(s"$c percentiles must be NULL:") {
        prof(c).isNullAt(5) shouldBe true
        prof(c).isNullAt(6) shouldBe true
        prof(c).isNullAt(7) shouldBe true
      }
    }
  }

  test("q41 keeps an all-NULL column in the profile (n=0, n_null=total, 0 distinct)") {
    val dir = tmpDir("q41null")
    spark.sql(
      """SELECT CAST(id % 7 + 1 AS DOUBLE) AS l_quantity,
        |  CAST(NULL AS DOUBLE) AS l_extendedprice,
        |  CAST(0.05 AS DOUBLE) AS l_discount
        |FROM range(100)""".stripMargin)
      .write.parquet(s"$dir/lineitem.parquet")
    val prof = Profiling.q41ProfileSketch(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val row = prof("l_extendedprice") // must NOT be dropped by the join
    row.getLong(1) shouldBe 0L    // n (non-null)
    row.getLong(2) shouldBe 100L  // n_null
    row.getLong(3) shouldBe 0L    // n_distinct
    row.getLong(4) shouldBe 0L    // est_distinct
    row.isNullAt(5) shouldBe true // percentiles NULL, not fabricated
    prof("l_quantity").getLong(3) shouldBe 7L
  }

  test("q41 plan: no Expand, no row-sized sort, KMV rides a map-side TopK buffer") {
    assume(haveData, s"$sfDir not present")
    val df = Profiling.q41ProfileSketch(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    p should not include "Expand"
    // three projection-pruned scans (counts / distinct+KMV / pct melt) —
    // never more; the pct melt reads ONLY the bounded columns
    p.sliding("Scan parquet".length).count(_ == "Scan parquet") shouldBe 3
    // the KMV bottom-k is an Aggregator (ObjectHashAggregate), so the
    // distinct-relation pass aggregates WITHOUT sorting it
    p should include("ObjectHashAggregate")
    // every Sort in the plan keys on column_name (window partitioning /
    // join order over per-column rows) — none sorts by the value, which
    // is what a row-sized sort over l_extendedprice would look like
    val valueSorts = "Sort \\[v#".r.findAllIn(p).size
    val pctWindowSorts = "Sort \\[column_name#\\d+ ASC NULLS FIRST, v#".r.findAllIn(p).size
    withClue(s"plan:\n$p") {
      // the only value-ordered sort allowed is the pct window's, whose
      // input is the bounded-domain frequency relation
      valueSorts shouldBe 0
      pctWindowSorts should be <= 1
    }
  }

  test("built-in sketches (profileApprox): HLL within 3x rsd, percentiles in rank tolerance") {
    assume(haveData, s"$sfDir not present")
    val li = Tables.lineitem(spark, sfDir)
    val prof = Profiling.profileApprox(li, cols)
      .collect().map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val row = prof(c)
      val exact = li.agg(
        count(col(c)), (count(lit(1)) - count(col(c))),
        countDistinct(col(c))).collect()(0)
      withClue(s"$c n/n_null:") {
        row.getLong(1) shouldBe exact.getLong(0)
        row.getLong(2) shouldBe exact.getLong(1)
      }
      val dExact = exact.getLong(2).toDouble
      withClue(s"$c approx_distinct=${row.getLong(3)} exact=$dExact:") {
        math.abs(row.getLong(3) - dExact) / dExact should be <= 3 * Profiling.Rsd
      }
      // rank tolerance: the sketch's p-quantile must sit between the
      // exact (p-eps) and (p+eps) quantiles, eps = 1/accuracy + slack
      val eps = 0.005
      Seq(0.5 -> row.getDouble(4), 0.9 -> row.getDouble(5), 0.99 -> row.getDouble(6))
        .foreach { case (p, v) =>
          val lohi = li.selectExpr(
            s"percentile($c, ${math.max(p - eps, 0.0)})",
            s"percentile($c, ${math.min(p + eps, 1.0)})").collect()(0)
          withClue(s"$c p$p=$v bounds=(${lohi.getDouble(0)}, ${lohi.getDouble(1)}):") {
            v should be >= lohi.getDouble(0)
            v should be <= lohi.getDouble(1)
          }
        }
    }
  }

  test("q91 sampled sketch: same window set as exact q83, estimates within 4 sigma") {
    assume(haveData, s"$sfDir not present")
    val exact = EventAnalytics.q83TrailingDistinct(spark, sfDir)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val sk = EventAnalytics.q91SlidingSketch(spark, sfDir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    sk.map(_._1).toSet shouldBe exact.keySet
    val f = EventAnalytics.SketchBuckets.size / 16.0
    sk.foreach { case (day, nSampled, est) =>
      est shouldBe nSampled * EventAnalytics.SketchScale
      val d = exact(day).toDouble
      // X ~ Binomial(D, f): 4-sigma envelope of est = X/f around D
      val tol = 4 * math.sqrt(d * (1 - f) / f)
      withClue(s"$day exact=$d est=$est tol=$tol:") {
        math.abs(est - d) should be <= tol
      }
    }
  }

  test("q91 built-in HLL variant matches exact q83 window-by-window") {
    assume(haveData, s"$sfDir not present")
    val exact = EventAnalytics.q83TrailingDistinct(spark, sfDir)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val approx = EventAnalytics.slidingHll(spark, sfDir)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    approx.keySet shouldBe exact.keySet
    exact.foreach { case (day, n) =>
      val est = approx(day)
      withClue(s"$day exact=$n approx=$est:") {
        math.abs(est - n).toDouble / n should be <= 0.05 // lgK 12 ⇒ ~1.6% rsd
      }
    }
  }

  test("tokenDrift over an empty token relation is empty, not an error") {
    import spark.implicits._
    val noTokens = Seq.empty[(String, Long)].toDF("source", "gh")
    val drift = Profiling.tokenDrift(noTokens, "source")
    drift.columns.toSeq shouldBe Seq("source", "n_tokens", "l1_ppm")
    drift.collect() shouldBe empty
  }
}
