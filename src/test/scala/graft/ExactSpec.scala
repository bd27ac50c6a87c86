package graft

import graft.ops.Exact
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins every `graft.ops.Exact` helper against constants computed
  * outside Spark: md5 draws against Python's `hashlib`
  * (`int(md5(s).hexdigest()[from-1:from-1+n], 16)`, equal to DuckDB's
  * `CAST('0x' || substr(md5(s), from, n) AS BIGINT)`), `e2`/`e4`
  * against DuckDB's `CAST(round(x * 100) AS BIGINT)` on the same
  * doubles, and the tokenizer against DuckDB's
  * `string_split(trim(regexp_replace(lower(x), '\s+', ' ', 'g')), ' ')`.
  * A helper whose format drifts fails here before any oracle compare.
  */
class ExactSpec extends SparkSpec {

  import spark.implicits._

  private def longs(c: Column, df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(c).as[Long].collect().toSeq

  test("e2 / e4 round half up on the exact double, as DuckDB's round") {
    // (x, DuckDB round(x * 100), DuckDB round(x * 10000))
    val cases = Seq(
      (0.125, 13L, 1250L), (-0.125, -13L, -1250L),
      (0.005, 1L, 50L), (-0.005, -1L, -50L),
      (1.005, 100L, 10050L), // 1.005 * 100 = 100.49999999999999
      (2.675, 268L, 26750L), (-2.675, -268L, -26750L),
      (12345.675, 1234568L, 123456750L), (0.0, 0L, 0L),
      (0.994999, 99L, 9950L), (1e10 + 0.125, 1000000000013L, 100000000001250L))
    val df = cases.map(_._1).toDF("x").coalesce(1)
    longs(Exact.e2(col("x")), df) shouldBe cases.map(_._2)
    longs(Exact.e4(col("x")), df) shouldBe cases.map(_._3)
    // ten-thousandths half cases: 0.00015 * 10000 = 1.4999999999999998
    val e4Cases = Seq((0.00005, 1L), (-0.00005, -1L), (0.12345, 1235L),
      (1.00005, 10001L), (0.00015, 1L), (-0.00015, -1L))
    longs(Exact.e4(col("x")), e4Cases.map(_._1).toDF("x").coalesce(1)) shouldBe
      e4Cases.map(_._2)
  }

  test("sumE2 / sumE4 sum the fixed-point values exactly") {
    val df = Seq(0.125, -0.005, 1.005, 2.675).toDF("x")
    df.agg(Exact.sumE2(col("x")), Exact.sumE4(col("x")))
      .as[(Long, Long)].head() shouldBe ((13L - 1L + 100L + 268L,
        1250L - 50L + 10050L + 26750L))
  }

  test("e2 / e4 plan the same expression as the inline forms they replaced") {
    // a double column, not a LocalRelation (which would fold the values)
    val df = spark.range(4).selectExpr("CAST(id AS DOUBLE) / 4 AS x")
    def same(a: Column, b: Column): Unit = {
      val (pa, pb) = (df.select(a.as("v")).queryExecution.optimizedPlan,
        df.select(b.as("v")).queryExecution.optimizedPlan)
      withClue(s"$pa\nvs\n$pb") { pa.sameResult(pb) shouldBe true }
    }
    same(Exact.e2(col("x")), round(col("x") * lit(100.0), 0).cast("long"))
    same(Exact.e2(col("x")), round(col("x") * 100.0, 0).cast("long"))
    same(Exact.e4(col("x")), round(col("x") * lit(10000.0), 0).cast("long"))
    same(Exact.sumE2(col("x")), sum(round(col("x") * lit(100.0), 0).cast("long")))
  }

  test("md5Draw reads md5's hex digits as a long (hashlib constants)") {
    // (s, from, n, int(hashlib.md5(s).hexdigest()[from-1:from-1+n], 16))
    val cases = Seq(
      ("boot0|42", 1, 10, 746724104008L),
      ("boot0|42", 11, 10, 79244502236L),
      ("boot0|42", 21, 10, 204846754369L),
      ("hll7", 1, 12, 243415386630906L),
      ("42", 1, 4, 41424L),
      ("fb3|9", 1, 12, 252279024969024L),
      ("perm1|17", 1, 12, 27974232662394L),
      ("the", 1, 2, 143L),
      ("x", 9, 8, 646742068L),
      ("", 1, 15, 955282973525019424L))
    val df = cases.map(_._1).toDF("s").coalesce(1)
    val drawn = df.select(cases.map { case (_, from, n, _) =>
      Exact.md5Draw(col("s"), from, n) }: _*).collect()
    cases.zipWithIndex.foreach { case ((s, from, n, want), i) =>
      withClue(s"md5Draw('$s', $from, $n): ") {
        drawn(i).getLong(i) shouldBe want
      }
    }
  }

  test("tokens normalizes whitespace and case (DuckDB string_split constants)") {
    val texts = Seq("  Hello   WORLD", "a\tB\nc  d ", "", "One", "\t\n")
    val want = Seq(Seq("hello", "world"), Seq("a", "b", "c", "d"), Seq(""),
      Seq("one"), Seq(""))
    texts.toDF("t").coalesce(1).select(Exact.tokens(col("t")))
      .as[Seq[String]].collect().toSeq shouldBe want
  }

  test("cosE6 rounds 1e6·dot/(√sa·√sb) half up, as the scalar kernel") {
    val cases = Seq((3L, 4L, 9L, 500000L), (1L, 3L, 3L, 333333L),
      (1L, 1L, 64L, 125000L), (-2L, 4L, 1L, -1000000L), (5L, 2L, 8L, 1250000L))
    val got = cases.map(c => (c._1, c._2, c._3)).toDF("d", "a", "b").coalesce(1)
      .select(Exact.cosE6(col("d"), col("a"), col("b"))).as[Long].collect().toSeq
    got shouldBe cases.map(_._4)
    got shouldBe cases.map(c => graft.functions.AnnKernels.cosE6(c._1, c._2, c._3))
  }

  test("ngrams are the driver's sliding windows of n tokens, none below n") {
    val texts = Seq("a b c d", "One  two", "x", "", "  the quick brown fox  ")
    for (n <- 1 to 3) {
      val got = texts.toDF("t").coalesce(1)
        .select(Exact.tokens(col("t")).as("tk"))
        .select(col("tk"), Exact.ngrams(col("tk"), n).as("g"))
        .as[(Seq[String], Seq[String])].collect().toSeq
      got.map(_._1).map(_.size) shouldBe Seq(4, 2, 1, 1, 4)
      withClue(s"n = $n:") {
        got.map(_._2) shouldBe got.map(_._1.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq)
      }
    }
  }

  test("splitBucket / splitOf: md5's first 4 hex digits mod 10, 0-7 train, 8 val, 9 test") {
    val ids = (0L until 40L)
    val got = ids.toDF("id").coalesce(1)
      .select(Exact.splitBucket(col("id")), Exact.splitOf(Exact.splitBucket(col("id"))))
      .as[(Long, String)].collect().toSeq
    val want = ids.map { id =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val b = java.lang.Long.parseLong(hex.take(4), 16) % 10
      (b, if (b < 8) "train" else if (b == 8) "val" else "test")
    }
    got shouldBe want
    got.map(_._2).toSet shouldBe Set("train", "val", "test")
  }

  test("pairs expands an array's i < j pairs in position order") {
    val got = Seq(Seq(1L, 2L, 3L), Seq(5L), Seq.empty[Long]).toDF("items").coalesce(1)
      .select(Exact.pairs(col("items")).as("p"))
      .select(transform(col("p"), p => concat_ws(",", p.getField("x"), p.getField("y"))))
      .as[Seq[String]].collect().toSeq
    got shouldBe Seq(Seq("1,2", "1,3", "2,3"), Nil, Nil)
  }

  test("bucketPairs are the driver's combinations(2) per bucket, each pair once") {
    val rows = Seq(("b1", 3L), ("b1", 1L), ("b1", 2L), ("b2", 2L), ("b2", 1L),
      ("b3", 7L), ("b4", 9L), ("b4", 4L), ("b5", 4L), ("b5", 3L))
    val got = Exact.bucketPairs(rows.toDF("bkt", "id"), "bkt", "id", "lo", "hi")
    got.columns.toSeq shouldBe Seq("lo", "hi")
    val want = rows.groupBy(_._1).values.toSeq
      .flatMap(_.map(_._2).sorted.combinations(2).map(c => (c(0), c(1))))
      .distinct.sorted
    // (1, 2) shares b1 and b2 and is reported once; b3 has one member
    want shouldBe Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 9L))
    got.as[(Long, Long)].collect().toSeq.sorted shouldBe want
  }
}
