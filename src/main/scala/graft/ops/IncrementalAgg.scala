package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: keep a per-key rollup (count /
  * sum / min / max — the RE-AGGREGATABLE metrics) as a state table and
  * fold each new batch into it, instead of recomputing history every
  * run. This is the batch analog of a streaming aggregation's state
  * store, and the pattern behind every "daily totals" mart that cannot
  * afford a full-history scan per day at 100 TB: per-run cost is
  * O(batch + |touched keys|), independent of corpus age.
  *
  * Mechanics: the batch collapses to one row per key (partial
  * aggregation — the only pass over batch rows), then a UNION +
  * re-aggregate with the state merges the two keyed relations (count/
  * sum merge by +, min/max by min/max — associative and commutative,
  * so batch boundaries and arrival order cannot change the result; avg
  * is served as sum/count at READ time, never stored).
  */
object IncrementalAgg {

  /** Long-typed metric spec over a value column. */
  final case class Metrics(valueCol: String) {
    private[ops] def batchAgg: Seq[Column] = Seq(
      count(lit(1)).as("cnt"),
      sum(col(valueCol)).as("sum_v"),
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"))
    private[ops] def mergeAgg: Seq[Column] = Seq(
      sum(col("cnt")).as("cnt"),
      sum(col("sum_v")).as("sum_v"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"))
  }

  /** Collapse a raw batch to per-key partials (state-table schema). */
  def aggregate(batch: DataFrame, keys: Seq[String], m: Metrics): DataFrame = {
    val aggs = m.batchAgg
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold per-key partials into the state. Both inputs carry the state
    * schema (keys + cnt/sum_v/min_v/max_v). */
  def merge(state: DataFrame, batchAgg: DataFrame, keys: Seq[String], m: Metrics): DataFrame = {
    val aggs = m.mergeAgg
    state.unionByName(batchAgg).groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
