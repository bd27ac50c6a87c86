package graft

import java.sql.Timestamp

import graft.ops.Scd2Merge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style invariants of the SCD2 merge over randomized
  * snapshot sequences (seeded scalacheck generators, deterministic
  * across runs). The unit spec pins the reference quirks on crafted
  * cases; this spec checks the structural invariants no input sequence
  * may violate:
  *
  *  1. at most one `is_current` row per business key;
  *  2. row count never decreases across merges (history is append-only);
  *  3. every key ever seen still has >= 1 row, and no unseen key exists;
  *  4. convergence: merging the same (null-free) snapshot twice makes
  *     every snapshot key's current row carry the snapshot values —
  *     the close-only quirk delays the insert by exactly one run,
  *     never more;
  *  5. the one-join merge returns the same multiset of rows as the
  *     three-branch form it replaced (kept below as
  *     `Scd2PropertySpec.threeBranchMerge`), on every step and on
  *     crafted edge inputs.
  */
class Scd2PropertySpec extends SparkSpec {

  import Scd2PropertySpec.{Snap, threeBranchMerge}
  import spark.implicits._

  private val snapGen: Gen[List[List[Snap]]] = {
    val row = for {
      id <- Gen.choose(1L, 25L)
      a <- Gen.oneOf("x", "y", "z", "w")
      b <- Gen.choose(0L, 3L)
    } yield Snap(id, a, b)
    val snapshot = Gen.listOfN(18, row)
      .map(_.groupBy(_.id).map(_._2.head).toList) // one row per key
    Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, snapshot))
  }

  private def sample(i: Long): List[List[Snap]] =
    snapGen.pureApply(Gen.Parameters.default, Seed(i))

  private val merge = Scd2Merge(Seq("id"), Seq("a", "b"), to_timestamp(lit("2024-03-01 05:00:00")))

  private def emptyTarget: DataFrame = Seq.empty[Snap].toDF()
    .withColumn(Scd2Merge.InsertedDate, lit(null).cast("timestamp"))
    .withColumn(Scd2Merge.ModifiedDate, lit(null).cast("timestamp"))
    .withColumn(Scd2Merge.IsCurrent, lit(true))

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    got.schema.map(f => f.name -> f.dataType) shouldBe want.schema.map(f => f.name -> f.dataType)
    got.exceptAll(want).count() shouldBe 0
    want.exceptAll(got).count() shouldBe 0
  }

  test("invariants hold across randomized snapshot sequences") {
    (1L to 6L).foreach { seed =>
      val snaps = sample(seed)
      var target = emptyTarget
      var prevCount = 0L
      val seen = scala.collection.mutable.Set[Long]()
      snaps.foreach { snap =>
        val next = merge(target, snap.toDF()).cache()
        withClue(s"seed=$seed vs three-branch: ") {
          sameRows(next, threeBranchMerge(merge)(target, snap.toDF()))
        }
        target = next
        seen ++= snap.map(_.id)

        val perKeyCurrent = target.filter(col(Scd2Merge.IsCurrent))
          .groupBy("id").count().agg(max("count")).as[Long].collect().head
        withClue(s"seed=$seed: ") { perKeyCurrent should be <= 1L }

        val count = target.count()
        withClue(s"seed=$seed: ") { count should be >= prevCount }
        prevCount = count

        val keys = target.select("id").distinct().as[Long].collect().toSet
        withClue(s"seed=$seed: ") { keys shouldBe seen.toSet }
      }

      // convergence: double-merge of the final snapshot
      val last = snaps.last
      val once = merge(target, last.toDF()).cache()
      withClue(s"seed=$seed vs three-branch: ") {
        sameRows(once, threeBranchMerge(merge)(target, last.toDF()))
        sameRows(merge(once, last.toDF()), threeBranchMerge(merge)(once, last.toDF()))
      }
      target = merge(once, last.toDF())
      val current = target.filter(col(Scd2Merge.IsCurrent))
        .select("id", "a", "b").as[(Long, String, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      last.foreach { s =>
        withClue(s"seed=$seed key=${s.id}: ") {
          current(s.id) shouldBe (s.a, s.b)
        }
      }
    }
  }

  test("the one-join merge equals the three-branch merge on crafted edge inputs") {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def tgt(rows: (Option[Long], String, Option[Long], Boolean)*): DataFrame =
      rows.map { case (id, a, b, cur) => (id, a, b, t0, t0, cur) }
        .toDF("id", "a", "b", Scd2Merge.InsertedDate, Scd2Merge.ModifiedDate, Scd2Merge.IsCurrent)
    def src(rows: (Option[Long], String, Option[Long])*): DataFrame = rows.toDF("id", "a", "b")
    // StreamingIngest's first-touch target: the batch's columns plus
    // NULL timestamps cast to timestamp, no rows
    def bootstrap(batch: DataFrame): DataFrame = batch.limit(0)
      .withColumn(Scd2Merge.InsertedDate, lit(null).cast("timestamp"))
      .withColumn(Scd2Merge.ModifiedDate, lit(null).cast("timestamp"))
      .withColumn(Scd2Merge.IsCurrent, lit(true))
    val cases = Seq(
      "NULL business keys on both sides" -> (
        tgt((None, "x", Some(1L), true), (None, "x", Some(1L), false), (Some(1L), "x", Some(1L), true)),
        src((None, "x", Some(1L)), (None, "y", Some(2L)), (Some(1L), "z", Some(1L)))),
      "NULL->value and value->NULL compare columns" -> (
        tgt((Some(1L), null, Some(1L), true), (Some(2L), "x", None, true), (Some(3L), "x", Some(3L), true)),
        src((Some(1L), "x", Some(1L)), (Some(2L), "x", Some(2L)), (Some(3L), null, Some(4L)))),
      "a history-only key comes back" -> (
        tgt((Some(1L), "x", Some(1L), false), (Some(1L), "y", Some(1L), false), (Some(2L), "x", Some(2L), true)),
        src((Some(1L), "y", Some(1L)), (Some(2L), "x", Some(2L)))),
      "duplicate source keys over two current rows" -> (
        tgt((Some(1L), "x", Some(1L), true), (Some(1L), "y", Some(1L), true)),
        src((Some(1L), "x", Some(1L)), (Some(1L), "y", Some(1L))))) :+ {
      val batch = src((Some(1L), "x", Some(1L)), (None, "y", None))
      "bootstrap target" -> (bootstrap(batch), batch)
    }
    cases.foreach { case (name, (t, s)) =>
      withClue(s"$name: ") { sameRows(merge(t, s), threeBranchMerge(merge)(t, s)) }
    }
  }
}

object Scd2PropertySpec {
  final case class Snap(id: Long, a: String, b: Long)

  /** The merge as it was before the one-join routing: three filtered
    * copies of the full outer join (closed, untouched, inserted) and
    * their union. Kept only as the reference the new form must equal. */
  def threeBranchMerge(m: Scd2Merge)(target: DataFrame, source: DataFrame): DataFrame = {
    import Scd2Merge._
    import m.{clock, compareCols, keyCols}
    val outCols = keyCols ++ compareCols ++ Seq(InsertedDate, ModifiedDate, IsCurrent)

    val current = target.filter(col(IsCurrent))
    val history = target.filter(!col(IsCurrent))

    val t = current.select(current.columns.map(c => col(c).as(s"t_$c")).toSeq
      :+ lit(true).as("t_present"): _*)
    val s = source.select(
      (keyCols ++ compareCols).map(c => source(c).as(s"s_$c")).toSeq
        :+ lit(true).as("s_present"): _*)

    val joinCond = keyCols.map(k => col(s"t_$k") === col(s"s_$k")).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")

    val inTarget = col("t_present").isNotNull
    val inSource = col("s_present").isNotNull
    val changed = compareCols
      .map(c => col(s"t_$c") =!= col(s"s_$c"))
      .reduce(_ || _)

    def tCols(over: Map[String, Column] = Map.empty): Seq[Column] =
      outCols.map(c => over.getOrElse(c, col(s"t_$c")).as(c)).toSeq

    val closed = joined
      .filter(inTarget && inSource && coalesce(changed, lit(false)))
      .select(tCols(Map(IsCurrent -> lit(false), ModifiedDate -> clock)): _*)

    val untouched = joined
      .filter(inTarget && (!inSource || !coalesce(changed, lit(false))))
      .select(tCols(): _*)

    val inserted = joined
      .filter(!inTarget)
      .select(outCols.map {
        case InsertedDate | ModifiedDate => clock
        case IsCurrent                   => lit(true)
        case c                           => col(s"s_$c")
      }.zip(outCols).map { case (c, n) => c.as(n) }.toSeq: _*)

    closed
      .unionByName(untouched)
      .unionByName(inserted)
      .unionByName(history.select(outCols.map(col).toSeq: _*))
  }
}
