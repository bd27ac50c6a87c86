package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared building blocks of the query families: fixed-point
  * scaling, md5 hash draws, the whitespace tokenizer and its word
  * n-grams, the train/val/test hash split, the in-row i<j pair
  * expansion and the per-bucket pairs built on it, the cosine score,
  * the nearest-rank quantile and the bivariate moment sums.
  * Every one of these formats is mirrored byte for byte by a DuckDB
  * oracle, so each lives here once and every Spark-side query and
  * streaming fold calls it (`ExactSpec` pins the formats against
  * values computed outside Spark, `ExactStatsSpec` the two statistics
  * against the same statistics computed on the driver).
  *
  * Cross-engine rules the helpers encode:
  *  - monetary and derived doubles are summed as exact integers, never
  *    as `round(sum(x), 2)`: Spark and DuckDB accumulate a double sum in
  *    different orders, and a 2-dp round cannot absorb the difference
  *    at scale. `e2`/`e4` scale a double to integer hundredths /
  *    ten-thousandths with Spark's `round(_, 0)` (decimal HALF_UP,
  *    DuckDB's `round` on the same doubles), then cast to long;
  *  - a hash draw is a hex slice of md5 read as a long — DuckDB's
  *    `CAST('0x' || substr(md5(s), from, n) AS BIGINT)`. Callers keep
  *    their own `% k` / `shiftright` / ppm arithmetic;
  *  - an order statistic is a nearest rank, never an interpolation:
  *    the ⌈p·n⌉-th value of the group's total order, found with
  *    integer predicates over a running count (`nearestRank`);
  *  - a correlation or regression is one fixed-shape double expression
  *    over exact integer moment sums (`moments`): integer addition
  *    commutes, so partition order cannot perturb the inputs, and IEEE
  *    ÷/×/√ are correctly rounded in both engines.
  *
  * `e2`/`e4` expect a double: there `c * 100` folds to `c * 100.0`, the
  * same expression as `c * lit(100.0)`, while a decimal or long column
  * keeps its own arithmetic type.
  */
object Exact {

  /** Round-half-up hundredths of a double as a long. The product is
    * rounded, not the decimal text: 0.125 → 13 and -0.125 → -13, but
    * 1.005 → 100 (1.005 · 100 is 100.49999999999999 in binary). */
  def e2(c: Column): Column = round(c * 100, 0).cast("long")

  /** Round-half-up ten-thousandths of a double as a long. */
  def e4(c: Column): Column = round(c * 10000, 0).cast("long")

  /** Exact integer (cents) sum of a 2-dp monetary double expression. */
  def sumE2(c: Column): Column = sum(e2(c))

  /** Exact integer sum of a 4-dp-valued double expression. */
  def sumE4(c: Column): Column = sum(e4(c))

  /** `n` hex digits of md5(s), starting at 1-based digit `from`, read as
    * a long: `n` ≤ 15 keeps the draw non-negative. */
  def md5Draw(s: Column, from: Int, n: Int): Column =
    conv(substring(md5(s), from, n), 16, 10).cast("long")

  /** Whitespace-normalized lowercase tokens: runs of whitespace become
    * one space, the ends are trimmed, and the text splits on spaces
    * (an empty text gives one empty token). */
  def tokens(c: Column): Column =
    split(trim(regexp_replace(lower(c), "\\s+", " ")), " ")

  /** Word n-grams of a token array as space-joined strings, in token
    * order; empty below n tokens. A zip_with chain over shifted
    * slices: every reference to `tk` is a higher-order function's
    * argument, evaluated once per row, never inside a lambda body (a
    * `transform(sequence(...), i => slice(tk, ...))` form gets the
    * tokenizer inlined into the lambda and re-tokenizes per gram).
    * Trailing positions with fewer than n tokens zip against null,
    * null-propagate through `concat`, and are filtered out. */
  def ngrams(tk: Column, n: Int): Column = {
    val chained = (1 until n).foldLeft(tk) { (g, k) =>
      zip_with(g, slice(tk, lit(k + 1), greatest(size(tk) - k, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(chained, x => x.isNotNull)
  }

  /** The 0–9 bucket of a hash split: the first 4 hex digits of
    * md5(id as string), mod 10. */
  def splitBucket(id: Column): Column = md5Draw(id.cast("string"), 1, 4) % 10

  /** The split of a `splitBucket`: 0–7 train, 8 val, 9 test. */
  def splitOf(bucket: Column): Column =
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")

  /** Every pair (x, y) of an array's elements at positions i < j, as an
    * array of structs in position order: over a sorted array of
    * distinct values, each pair once with x < y. The expansion is
    * in-row, quadratic in the array's size only. */
  def pairs(items: Column): Column =
    flatten(transform(items, (x, i) =>
      transform(slice(items, i + lit(2), size(items)), y =>
        struct(x.as("x"), y.as("y")))))

  /** The distinct pairs (`a`, `b`), a < b, of the `id`s that share a
    * value of `bucket` in `rel`: each bucket's ids are collected and
    * sorted, a bucket of one id gives none, and a pair that shares
    * several buckets is reported once. An id repeated within one
    * bucket would pair with itself, so callers pass (bucket, id) rows
    * without repeats. */
  def bucketPairs(rel: DataFrame, bucket: String, id: String, a: String,
      b: String): DataFrame =
    rel.groupBy(bucket).agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(pairs(col("ids"))).as("p"))
      .select(col("p.x").as(a), col("p.y").as(b))
      .distinct()

  /** Cosine similarity in millionths from an exact integer dot product
    * and the two squared norms: round(1e6·dot / (√sa·√sb), 0) cast
    * long. The scalar twin is `AnnKernels.cosE6`. */
  def cosE6(dot: Column, sa: Column, sb: Column): Column =
    round(lit(1e6) * dot.cast("double") /
      (sqrt(sa.cast("double")) * sqrt(sb.cast("double"))), 0).cast("long")

  /** Nearest-rank quantiles per group of `rel`. For each
    * `(name, num, den)`, the smallest `value` whose running `weight`
    * count reaches num/den of the group total n: the ⌈n·num/den⌉-th
    * value of the group's rows, each row repeated `weight` times.
    * `weight` is a frequency relation's count column, or `lit(1L)`
    * over plain rows, where this is the value that a `row_number()`
    * pick of rank ⌈n·num/den⌉ reads over any tie-break order (ties
    * share the value). The running count and n are windows over `rel`,
    * so the result is one grouped aggregate: `keys`, then `aggs` (the
    * caller's own aggregates over `rel`), then one column per rank.
    * No `keys` makes it a global aggregate. A NULL `value` would count
    * toward n but never be picked, so callers pass non-null values. */
  def nearestRank(rel: DataFrame, keys: Seq[String], value: String,
      weight: Column, ranks: Seq[(String, Int, Int)], aggs: Column*): DataFrame = {
    val group = Window.partitionBy(keys.map(col): _*)
    val picks = ranks.map { case (name, num, den) =>
      min(when(col("_running") * den >= col("_n") * num, col(value))).as(name)
    }
    val all = aggs ++ picks
    rel.withColumn("_running", sum(weight).over(group.orderBy(value)))
      .withColumn("_n", sum(weight).over(group))
      .groupBy(keys.map(col): _*)
      .agg(all.head, all.tail: _*)
  }

  /** The exact bivariate moment aggregates of integer columns `x` and
    * `y` per group of `grouped`: the keys, then `n`, `sx` = Σx, `sy` =
    * Σy, `sxy` = Σxy, `sxx` = Σx², `syy` = Σy², the three terms a
    * correlation or a regression divides by or into, `cxy` =
    * n·Σxy − Σx·Σy, `vx` = n·Σx² − (Σx)² and `vy` = n·Σy² − (Σy)², and
    * last the caller's own `aggs`. `vx`/`vy` are NULL unless positive,
    * so a formula that divides by them is NULL for a zero-variance
    * group (and for n = 1) with no CASE of its own. All are long and
    * wrap past 2^63 (the session runs ANSI off), so each caller
    * documents its own overflow ceiling. */
  def moments(grouped: RelationalGroupedDataset, x: Column, y: Column,
      aggs: Column*): DataFrame = {
    val n = count(lit(1))
    val (sx, sy, sxy, sxx, syy) = (sum(x), sum(y), sum(x * y), sum(x * x), sum(y * y))
    def positive(c: Column) = when(c > 0, c)
    grouped.agg(n.as("n"), Seq(sx.as("sx"), sy.as("sy"), sxy.as("sxy"), sxx.as("sxx"),
      syy.as("syy"), (n * sxy - sx * sy).as("cxy"), positive(n * sxx - sx * sx).as("vx"),
      positive(n * syy - sy * sy).as("vy")) ++ aggs: _*)
  }
}
