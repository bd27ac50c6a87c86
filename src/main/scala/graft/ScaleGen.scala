package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-validation data generator: writes a ~10× replica of an input
  * scale-factor directory (sf0.1 → ≈sf1) so the heavy operators'
  * scaling CURVE can be measured empirically, not argued from plan
  * shapes alone (SURVEY §6 records the measured ratios).
  *
  * Replication must not change the WORKLOAD CHARACTER, so it is not a
  * plain union of identical copies:
  *  - every entity key is offset by `replica × 10^8` consistently
  *    across tables (orderkey/custkey/partkey/suppkey/doc_id/vec_id/
  *    event_id/user_id), so joins stay within-replica and fan-outs
  *    keep their sf0.1 shape; tiny shared dims (nation, region) are
  *    passed through unchanged;
  *  - document text gets a replica-unique token INJECTED EVERY 4
  *    TOKENS: all 5-gram shingles then contain ≥1 injected token, so
  *    cross-replica shingle sets are disjoint (no artificial 10-clique
  *    of near-duplicates) while within-replica similarity structure is
  *    preserved;
  *  - embeddings are ROTATED by `replica × 6` dimensions: norms and
  *    within-replica geometry are exactly preserved, cross-replica
  *    cosines decorrelate.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> [replicas=10]
  */
object ScaleGen {

  private val KeyOffset = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft-scalegen")
      // events.ts dual-encoding (see Tables.events): a TIMESTAMP(NANOS)
      // source reads as nanosecond LONG under this conf and the replica
      // writes it back as plain BIGINT (nanos branch downstream); a
      // TIMESTAMP(MICROS) source reads as TIMESTAMP_NTZ and round-trips
      // as NTZ (cast branch downstream). Both load identically.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()

    def replicate(name: String, keyCols: Seq[String])(
        extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val parts = (0 until replicas).map { i =>
        val shifted = keyCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * KeyOffset))
        }
        extra(shifted, i)
      }
      parts.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$replicas done")
    }

    // shared tiny dims: pass through unchanged
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    replicate("customer", Seq("c_custkey"))()
    replicate("supplier", Seq("s_suppkey"))()
    replicate("part", Seq("p_partkey"))()
    replicate("orders", Seq("o_orderkey", "o_custkey"))()
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    replicate("events", Seq("event_id", "user_id"))()
    replicate("documents", Seq("doc_id")) { (df, i) =>
      // inject a replica-unique, POSITION-unique token every 2 tokens:
      // runs of original tokens are capped at 2, so EVERY n-gram
      // shingle with n ≥ 3 (q21/q39 use 3-grams; decontam uses
      // 5-grams) contains an injected token and cross-replica shingle
      // sets are disjoint — injecting every 4 left clean 3-gram
      // windows and manufactured quadratic cross-replica LSH
      // candidates. Position-distinct singleton injections also
      // decorrelate token-frequency signatures (SimHash) across
      // replicas, while near-dup pairs WITHIN a replica keep
      // overlapping injections (same prefix, same positions) and stay
      // similar. n_chars is recomputed to match the rewritten text.
      df.withColumn("text",
        array_join(flatten(transform(
          split(col("text"), "\\s+"),
          (t, idx) => when(idx % 2 === 0,
            array(concat(lit(s"r${i}x"), (idx / 2).cast("string")), t))
            .otherwise(array(t)))),
          " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings", Seq("vec_id")) { (df, i) =>
      // rotate dimensions: within-replica geometry exact, cross-replica
      // cosines decorrelated
      val dim = 64
      val rot = (i * 6) % dim
      df.withColumn("embedding",
        concat(slice(col("embedding"), lit(rot + 1), lit(dim - rot)),
          slice(col("embedding"), lit(1), lit(rot))))
    }
    spark.stop()
  }
}
