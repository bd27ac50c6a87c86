package graft

import graft.ops.Exact
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins `Exact.nearestRank` and `Exact.moments` against the same
  * statistics computed on the driver: the nearest rank over the
  * expanded rows of seeded random frequency relations, the
  * `row_number()` pick it replaces over plain rows, and the moment sums
  * as `BigInt`s.
  */
class ExactStatsSpec extends SparkSpec {

  import spark.implicits._

  private val Ranks = Seq(("p01", 1, 100), ("p10", 1, 10), ("p50", 1, 2),
    ("p90", 9, 10), ("p99", 99, 100), ("p100", 1, 1))

  /** The ⌈n·num/den⌉-th of the sorted values, each repeated cnt times. */
  private def driverRank(cells: Seq[(Long, Long)], num: Int, den: Int): Long = {
    val expanded = cells.sortBy(_._1).flatMap { case (v, c) => Seq.fill(c.toInt)(v) }
    val k = (expanded.size.toLong * num + den - 1) / den
    expanded((k - 1).toInt)
  }

  private def byGroup(df: DataFrame, names: Seq[String]): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(0) -> names.map(r.getAs[Any])).toMap

  /** Random (g, v, cnt) rows: few distinct values, so equal values
    * repeat within a group (also as separate rows), plus a group of one
    * row of count 1 (n = 1). */
  private def frequencyRelation(rnd: scala.util.Random, groups: Int): Seq[(Long, Long, Long)] =
    (0 until groups).flatMap { g =>
      Seq.fill(rnd.nextInt(12) + 1)(
        (g.toLong, rnd.nextInt(7).toLong - 3, rnd.nextInt(5).toLong + 1))
    } :+ ((groups.toLong, 42L, 1L))

  test("nearestRank over a frequency relation equals the nearest rank of its expanded rows") {
    val rnd = new scala.util.Random(13)
    (1 to 6).foreach { trial =>
      val rows = frequencyRelation(rnd, if (trial == 1) 1 else rnd.nextInt(4) + 1)
      val got = byGroup(
        Exact.nearestRank(rows.toDF("g", "v", "cnt"), Seq("g"), "v", col("cnt"), Ranks,
          sum(col("cnt")).as("n"), max(col("cnt")).as("max_cnt")),
        "n" +: "max_cnt" +: Ranks.map(_._1))
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val cells = rs.map(r => (r._2, r._3))
        g -> (Seq[Any](cells.map(_._2).sum, cells.map(_._2).max) ++
          Ranks.map { case (_, num, den) => driverRank(cells, num, den) })
      }
      withClue(s"trial $trial, rows $rows:") { got shouldBe want }
    }
  }

  test("nearestRank with no keys is one global row, NULL over an empty relation") {
    val rnd = new scala.util.Random(17)
    val rows = frequencyRelation(rnd, 3)
    val global = Exact.nearestRank(rows.toDF("g", "v", "cnt"), Nil, "v", col("cnt"), Ranks)
    global.columns.toSeq shouldBe Ranks.map(_._1)
    global.collect().toSeq shouldBe Seq(Row(Ranks.map { case (_, num, den) =>
      driverRank(rows.map(r => (r._2, r._3)), num, den) }: _*))
    val empty = Exact.nearestRank(rows.toDF("g", "v", "cnt").filter(lit(false)), Nil, "v",
      col("cnt"), Ranks, sum(col("cnt")).as("n"))
    empty.collect().toSeq shouldBe Seq(Row(Seq.fill(Ranks.size + 1)(null): _*))
  }

  test("nearestRank with weight 1 equals the row_number() pick of rank ⌈n·num/den⌉") {
    val rnd = new scala.util.Random(29)
    (1 to 4).foreach { trial =>
      val rows = (1 to rnd.nextInt(60) + 1).map(id =>
        (rnd.nextInt(3).toLong, rnd.nextInt(9).toLong, id.toLong)) :+ ((7L, 5L, 0L))
      val df = rows.toDF("g", "v", "id")
      val ranked = df
        .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("v", "id")).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      val picks = Ranks.map { case (name, num, den) =>
        max(when(col("rn") === expr(s"(n * $num + ${den - 1}) div $den"), col("v"))).as(name)
      }
      val want = byGroup(ranked.groupBy("g").agg(picks.head, picks.tail: _*), Ranks.map(_._1))
      val got = byGroup(Exact.nearestRank(df, Seq("g"), "v", lit(1L), Ranks), Ranks.map(_._1))
      withClue(s"trial $trial:") { got shouldBe want }
    }
  }

  test("moments equal BigInt sums on the driver; vx/vy are NULL unless positive") {
    val rnd = new scala.util.Random(31)
    val rows =
      (0 until 5).flatMap(g => Seq.fill(rnd.nextInt(20) + 2)(
        (g.toLong, rnd.nextInt(2000000).toLong - 1000000, rnd.nextInt(300).toLong))) ++
        Seq((10L, 7L, 3L)) ++ // n = 1
        Seq((11L, 5L, 1L), (11L, 5L, 9L), (11L, 5L, 4L)) ++ // Σ(x − x̄)² = 0
        Seq((12L, 1L, -2L), (12L, 8L, -2L)) // Σ(y − ȳ)² = 0
    val names = Seq("n", "sx", "sy", "sxy", "sxx", "syy", "cxy", "vx", "vy", "extra")
    val got = byGroup(
      Exact.moments(rows.toDF("g", "x", "y").groupBy("g"), col("x"), col("y"),
        max(col("y")).as("extra")), names)
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val (x, y) = (rs.map(r => BigInt(r._2)), rs.map(r => BigInt(r._3)))
      val n = BigInt(rs.size)
      val (sx, sy) = (x.sum, y.sum)
      val sxy = x.zip(y).map { case (a, b) => a * b }.sum
      val (sxx, syy) = (x.map(a => a * a).sum, y.map(b => b * b).sum)
      def positive(v: BigInt): Any = if (v > 0) v.toLong else null
      g -> Seq[Any](n.toLong, sx.toLong, sy.toLong, sxy.toLong, sxx.toLong, syy.toLong,
        (n * sxy - sx * sy).toLong, positive(n * sxx - sx * sx), positive(n * syy - sy * sy),
        rs.map(_._3).max)
    }
    got shouldBe want
    Seq(10L, 11L).foreach(g => got(g)(7) shouldBe (null: Any))
    got(12L)(8) shouldBe (null: Any)
    got(12L)(7) should not be (null: Any)
  }
}
