package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The shared building blocks of the query families: fixed-point
  * scaling, md5 hash draws, the whitespace tokenizer and the cosine
  * score. Every one of these formats is mirrored byte for byte by a
  * DuckDB oracle, so each lives here once and every Spark-side query
  * and streaming fold calls it (`ExactSpec` pins the formats against
  * values computed outside Spark).
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
  *    their own `% k` / `shiftright` / ppm arithmetic.
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

  /** Cosine similarity in millionths from an exact integer dot product
    * and the two squared norms: round(1e6·dot / (√sa·√sb), 0) cast
    * long. The scalar twin is `AnnKernels.cosE6`. */
  def cosE6(dot: Column, sa: Column, sb: Column): Column =
    round(lit(1e6) * dot.cast("double") /
      (sqrt(sa.cast("double")) * sqrt(sb.cast("double"))), 0).cast("long")
}
