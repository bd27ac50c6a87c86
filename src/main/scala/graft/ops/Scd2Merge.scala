package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD Type-2 merge as a reusable DataFrame composite.
  *
  * Reproduces the reference's BigQuery `MERGE` semantics
  * (/root/reference/src/pipelines/transforms/silver.sql:142-199 and the
  * four sibling merges) faithfully, including its quirks:
  *
  *  (a) NULL-blind change detection — the match predicate is
  *      `t.c <> s.c OR …`, so a column going NULL→value (or value→NULL)
  *      yields NULL, not TRUE, and the row is treated as *unchanged*.
  *      We build the predicate with null-unsafe `=!=` to keep this.
  *  (b) close-only — a changed key's current row is closed
  *      (`is_current = false`, `modified_date = clock`) but the new
  *      version is NOT inserted in the same run; it arrives on the next
  *      run as a NOT-MATCHED insert (the old row is no longer current).
  *  (c) brand-new keys insert with
  *      `inserted_date = modified_date = clock, is_current = true`;
  *      unchanged keys and source-absent keys are untouched; closed
  *      history rows are carried through untouched.
  *  (d) NULL business keys never match — SQL `t.k = s.k` is NULL for a
  *      NULL key, and BigQuery MERGE treats them as unmatched: a
  *      NULL-key target row is carried through untouched, a NULL-key
  *      source row inserts. (QualityStage deliberately flags-not-drops
  *      NULL-naturalKey rows, so NULL surrogate keys DO reach this
  *      operator in the health pipeline.)
  *
  * Duplicate source keys: BigQuery MERGE fails loudly on a
  * multi-matched target row ("UPDATE/MERGE must match at most one
  * source row"); a relational join cannot detect that without an extra
  * pass, so here each matched current row is emitted once per matching
  * source row instead. `claims` reaches the merge this way: both claim
  * files share one ClaimID range and silver tags both `'hosa'`, so its
  * source carries two rows per `Claim_Key`. Run 1 inserts both as
  * current rows; on a later run whose source carries both again, each
  * current row meets both source rows, stays current against the one
  * equal to it and is closed against the other — two current rows per
  * key plus a closed duplicate of each (the behaviour `HealthSilver`'s
  * notes describe).
  *
  * Scale notes: the single wide operation is one full-outer join of
  * the current rows with the source on the business key — a keyed
  * sort-merge join whose shuffle is unavoidable and linear in
  * |current ∪ source|. One projection of `when` expressions routes
  * each joined row to its closed, untouched or inserted form, so the
  * join is planned and run once. No driver-side collection, no
  * windowing over the whole table; history rows bypass the join
  * entirely (union, narrow), so the shuffle does not grow with
  * history. AQE handles skewed keys.
  *
  * @param keyCols     business-key columns (present in both sides)
  * @param compareCols change-detection columns (present in both sides)
  * @param clock       timestamp used for SCD bookkeeping; inject a
  *                    literal for deterministic tests (SURVEY §2.6 F11)
  */
final case class Scd2Merge(
    keyCols: Seq[String],
    compareCols: Seq[String],
    clock: Column = current_timestamp()) {

  import Scd2Merge._

  /** @param target SCD2 table: keyCols ++ compareCols ++
    *               (inserted_date, modified_date, is_current)
    * @param source  new snapshot: keyCols ++ compareCols
    * @return        merged SCD2 table with the same schema as target
    */
  def apply(target: DataFrame, source: DataFrame): DataFrame = {
    val outCols = keyCols ++ compareCols ++ Seq(InsertedDate, ModifiedDate, IsCurrent)

    val current = target.filter(col(IsCurrent))
    val history = target.filter(!col(IsCurrent))

    // presence markers, NOT key-nullness: a NULL-business-key row is a
    // real row (quirk d) and inferring presence from the key would
    // misroute it to the insert branch and replace it with all-NULLs
    val t = current.select(current.columns.map(c => col(c).as(s"t_$c")).toSeq
      :+ lit(true).as("t_present"): _*)
    val s = source.select(
      (keyCols ++ compareCols).map(c => source(c).as(s"s_$c")).toSeq
        :+ lit(true).as("s_present"): _*)

    // plain (null-unsafe) equality — BigQuery MERGE `ON t.k = s.k`
    // never matches NULL keys (quirk d); <=> would pair them up
    val joinCond = keyCols.map(k => col(s"t_$k") === col(s"s_$k")).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")

    val inTarget = col("t_present").isNotNull
    val inSource = col("s_present").isNotNull
    // Null-unsafe <> keeps quirk (a): NULL vs value ⇒ NULL ⇒ not changed.
    val changed = compareCols
      .map(c => col(s"t_$c") =!= col(s"s_$c"))
      .reduce(_ || _)
    // MATCHED AND changed → close the current row; otherwise a target
    // row (matched unchanged, or source-absent) passes untouched, and a
    // source-only row (NOT MATCHED) inserts as the new current version.
    // Every joined row is exactly one of the three, so one projection
    // routes them all.
    val closes = inTarget && inSource && coalesce(changed, lit(false))

    val routed = outCols.map(c => (c match {
      case InsertedDate => when(inTarget, col(s"t_$c")).otherwise(clock)
      case ModifiedDate => when(inTarget && !closes, col(s"t_$c")).otherwise(clock)
      case IsCurrent    => !closes // every target row here was current
      case _            => when(inTarget, col(s"t_$c")).otherwise(col(s"s_$c"))
    }).as(c))

    joined.select(routed: _*)
      .unionByName(history.select(outCols.map(col): _*))
  }
}

object Scd2Merge {
  val InsertedDate = "inserted_date"
  val ModifiedDate = "modified_date"
  val IsCurrent = "is_current"
}
