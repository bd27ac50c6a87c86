package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Benchmark main. Runs every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) in a [[LocalSession]] of
  * `SPARK_GRAFT_CPUS` cores (default 32) and prints two lines: a compact
  * `{"total":…,"n":…,"failed":…,"mode":…}` summary, then LAST the full
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},…,"sf":…}`
  * line, so a tail-truncated capture keeps every per-query number. The
  * full line is also written to `SPARK_GRAFT_BENCH_OUT` (default
  * /tmp/graft_bench.json) and to target/bench_full.json.
  *
  * What a run does:
  *  - each query's measured action hashes every column of every row
  *    (xxhash64 → sum), so pure projections are materialized rather
  *    than pruned to a row count; each query runs
  *    `SPARK_GRAFT_BENCH_ITERS` times (default 2) and the best time is
  *    reported; a failure is listed in `"failed"`, never timed;
  *  - `SPARK_GRAFT_BENCH_MODE` = `shared` | `isolate` | `both` (default
  *    `both`; `SPARK_GRAFT_BENCH_ISOLATE=1` forces `isolate`) picks the
  *    passes. The shared pass keeps caches across queries and gives
  *    `"queries"`/`"value"`; the isolate pass releases the shared-cache
  *    registry, the checkpoints and the session cache before each query
  *    and gives `"isolate_queries"`/`"isolate_total"`;
  *  - a frozen anchor block of fixed query ids (`AnchorIds`) runs
  *    best-of-3 in isolate discipline after the board, unless
  *    `SPARK_GRAFT_BENCH_ONLY` filters the run to named queries;
  *  - a data-independent CPU+shuffle sentinel and a lineitem scan
  *    sentinel run before and after the board. The JSON carries both
  *    pairs, their clean-host references and calibration point, a
  *    `host_degraded` flag (only at the calibration point),
  *    `sentinel_ratio`, the sentinel-normalized `normalized_queries` /
  *    `normalized_anchors`, and free-text `context`
  *    (`SPARK_GRAFT_BENCH_CONTEXT`);
  *  - after the loop, one stderr line per cached relation records the
  *    shared caches' measured footprint.
  */
object Bench {

  /** Content-touching action: forces full evaluation of every column. */
  private def touch(df: DataFrame): Unit = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    df.select(h.as("h")).agg(sum("h")).collect()
    ()
  }

  /** Host noise sentinel: a fixed, data-independent CPU+shuffle probe — hash
    * 20M longs across 32 partitions, shuffle into 64 groups, fold —
    * run 3× before and 3× after the board (min reported, steady-state
    * JIT). Its timing measures the HOST, not the engine: diffing two
    * artifacts, divide by the sentinel ratio before reading anything
    * as a regression. */
  private def sentinel(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32)
        .select(xxhash64(col("id")).as("h"))
        .groupBy(pmod(col("h"), lit(64L)).as("g"))
        .agg(sum("h").as("s"), count(lit(1)).as("c"))
        .agg(sum(xxhash64(col("g"), col("s"), col("c")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // discarded warmup: JVM-start JIT alone can make the first
           // probe ~5× slower, more than min-of-3 absorbs
    (1 to 3).map(_ => once()).min
  }

  /** Parquet-scan sentinel: full scan + per-column hash of the SF
    * dir's lineitem — the I/O+decode mode the CPU probe can't see
    * (the CPU probe can read clean while scan-heavy queries run
    * slow). Comparable across runs at the SAME sf dir. */
  private def scanSentinel(spark: SparkSession, sfDir: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      touch(spark.read.parquet(s"$sfDir/lineitem.parquet"))
      (System.nanoTime() - t0) / 1e9
    }
    once() // discarded warmup (JIT + page-cache fill on the first read)
    (1 to 3).map(_ => once()).min
  }

  /** Clean-host references for the two sentinels: the BEST host state
    * ever observed at the calibration point (local[32], same probes;
    * scan ref is for sf0.1). "Ref = best observed" keeps
    * sentinel_ratio ≥~1, normalized wall-clocks best-host-equivalents,
    * and host_degraded meaning "slower than the machine has
    * demonstrably been". An artifact whose sentinels are ≫ these was
    * taken on a degraded host and its wall-clocks are inflated by ~the
    * same factor. The calibration POINT is part of the artifact — the
    * CPU ref binds only at `CalCpus` cores and the scan ref only at a
    * dir ending in `CalSfSuffix`; off the calibration point the
    * host_degraded flag is withheld (JSON null) instead of firing
    * spuriously. */
  private val SentinelRefSec = 0.26
  private val ScanSentinelRefSec = 0.25
  private val CalCpus = "32"
  private val CalSfSuffix = "sf0.1"

  /** Frozen anchor block: ~20 FIXED
    * query ids spanning the board's plan shapes — scan, broadcast and
    * multiway joins, SCD2 merge, agg, window, interval join, exact /
    * MinHash dedup, ANN (brute, LSH, IVF, IVF-PQ), k-means, sketch,
    * skew profile, drift, k-core, dedup yield, distributed rank.
    * Measured best-of-3 in isolate discipline after the board; the
    * set is APPEND-ONLY so `anchors`/`normalized_anchors` diff
    * field-for-field between BENCH_FULL artifacts. */
  private val AnchorIds = Seq(
    "q01_pruned_scan", "q06_join_left_broadcast", "q08_join_multiway_fanout",
    "q12_agg_kpi_dashboard", "q17_scd2_merge", "q20_dedup_exact",
    "q21_dedup_minhash_lsh", "q23_ann_brute_force", "q24_ann_lsh_bucketed",
    "q33_ann_ivf", "q41_profile_sketch", "q57_kmeans_cluster",
    "q62_trailing_window", "q63_interval_join", "q87_key_skew_profile",
    "q114_ann_ivf_pq", "q118_source_drift", "q138_kcore",
    "q193_dedup_yield", "q255_uplift_deciles")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val spark = LocalSession(cpus)

    // SPARK_GRAFT_BENCH_ONLY: comma-separated name filter for A/B runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val mode =
      if (sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")) "isolate"
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "both")

    def runPass(isolate: Boolean)
        : (scala.collection.mutable.LinkedHashMap[String, Double], Seq[String]) = {
      val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
      val failed = scala.collection.mutable.ListBuffer[String]()
      names.foreach { name =>
        if (isolate) { // per-query attribution: no cross-query cache reuse
          graft.ops.SharedCache.releaseAll()
          // same boundary bounds checkpoint-file accumulation: nothing
          // from a prior query is re-read once its result was touched,
          // so a 171-query session doesn't accrete every CC/k-core
          // loop's final files until JVM exit
          graft.ops.Checkpoints.releaseAll(spark)
          spark.catalog.clearCache()
        }
        val fn = SparkEntry.queries(name)
        val best = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          try { touch(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              Double.NaN
          }
        }.min
        if (best.isNaN) failed += name else timings(name) = best
      }
      (timings, failed.toSeq)
    }

    // sentinels BEFORE the board: certify the host at measurement time
    val sentPre = sentinel(spark)
    val scanPre = scanSentinel(spark, sfDir)

    // shared pass first (it is the headline and wants warm caches built
    // on its own clock, as the driver has always measured), then the
    // isolate pass, which starts by releasing everything anyway
    val (timings, failed) =
      if (mode == "isolate") runPass(isolate = true) else runPass(isolate = false)
    val isolatePass =
      if (mode == "both") Some(runPass(isolate = true)) else None

    // frozen anchor block: best-of-3, isolate discipline, fixed ids —
    // the cross-round comparison surface (see AnchorIds). Skipped on
    // filtered A/B runs (SPARK_GRAFT_BENCH_ONLY), whose artifacts are
    // scratch, not round records.
    val anchors = scala.collection.mutable.LinkedHashMap[String, Double]()
    (if (only.isEmpty) AnchorIds else Nil)
      .filter(SparkEntry.queries.contains).foreach { name =>
      val fn = SparkEntry.queries(name)
      val best = (1 to 3).map { _ =>
        graft.ops.SharedCache.releaseAll()
        graft.ops.Checkpoints.releaseAll(spark)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { touch(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => Double.NaN }
      }.min
      if (!best.isNaN) anchors(name) = best
    }

    // sentinels AFTER: a pre/post gap means the host degraded MID-run
    val sentPost = sentinel(spark)
    val scanPost = scanSentinel(spark, sfDir)

    // declared-budget evidence: what the shared caches actually hold
    // (RDD names are multi-line plan dumps — flatten + truncate so each
    // cache is ONE greppable stderr line)
    spark.sparkContext.getRDDStorageInfo.foreach { i =>
      val name = Option(i.name).getOrElse("?")
        .replaceAll("\\s+", " ").take(120)
      System.err.println(f"[bench] cache mem=${i.memSize / 1048576.0}%.1fMB " +
        f"disk=${i.diskSize / 1048576.0}%.1fMB parts=${i.numCachedPartitions} $name")
    }

    def qjson(t: scala.collection.mutable.LinkedHashMap[String, Double]): String =
      t.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val fl = (failed ++ isolatePass.map(_._2).getOrElse(Nil)).distinct
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = timings.values.sum
    val isolateFields = isolatePass.map { case (t, _) =>
      s""","isolate_total":${f"${t.values.sum}%.3f"},"isolate_queries":${qjson(t)}"""
    }.getOrElse("")
    // self-describing noise fields: sentinel pre/post + the committed
    // clean-host reference + a derived flag, plus optional free-text
    // context (SPARK_GRAFT_BENCH_CONTEXT). The flag is derived ONLY at the calibration
    // point the refs were measured at (CalCpus / CalSfSuffix) — off it
    // (other core count / other sf dir) the corresponding comparison
    // is withheld rather than spuriously fired, and the calibration
    // point itself rides in the artifact.
    val cpuCal = cpus == CalCpus
    val scanCal = cpuCal && sfDir.endsWith(CalSfSuffix)
    val degraded: Option[Boolean] =
      if (!cpuCal && !scanCal) None
      else Some(
        (cpuCal && math.min(sentPre, sentPost) > 1.3 * SentinelRefSec) ||
        (scanCal && math.min(scanPre, scanPost) > 1.3 * ScanSentinelRefSec))
    val ctx = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONTEXT", "")
      .replaceAll("[\"\\\\\\n\\r\\t]", " ")
    // self-normalizing wall-clocks — each
    // timing divided by the HOST factor min(sentinel_pre, sentinel_post)
    // / sentinel_ref (the CPU probe; data-independent, so it binds
    // whenever the core count matches calibration). Cross-round diffs
    // read normalized_queries/normalized_anchors directly instead of
    // dividing by sentinel ratios by hand. Off-calibration the ratio
    // is declared 1 (normalized == raw) and sentinel_cal_match says so.
    val sentRatio =
      if (cpuCal) math.max(math.min(sentPre, sentPost) / SentinelRefSec, 1e-9)
      else 1.0
    def njson(t: scala.collection.mutable.LinkedHashMap[String, Double]): String =
      t.map { case (k, v) => "\"" + k + "\":" + f"${v / sentRatio}%.3f" }
        .mkString("{", ",", "}")
    val sentinelFields =
      f""","sentinel_pre_sec":$sentPre%.3f,"sentinel_post_sec":$sentPost%.3f""" +
        f""","sentinel_ref_sec":$SentinelRefSec%.3f""" +
        f""","scan_sentinel_pre_sec":$scanPre%.3f,"scan_sentinel_post_sec":$scanPost%.3f""" +
        f""","scan_sentinel_ref_sec":$ScanSentinelRefSec%.3f""" +
        s""","sentinel_cal_cpus":"$CalCpus","sentinel_cal_sf_suffix":"$CalSfSuffix"""" +
        s""","sentinel_cal_match":{"cpu":$cpuCal,"scan":$scanCal}""" +
        s""","host_degraded":${degraded.map(_.toString).getOrElse("null")}""" +
        f""","sentinel_ratio":$sentRatio%.3f""" +
        s""","normalized_queries":${njson(timings)}""" +
        s""","anchors":${qjson(anchors)},"normalized_anchors":${njson(anchors)}""" +
        s""","context":"$ctx""""
    val json =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","mode":"$mode","queries":${qjson(timings)}$isolateFields$sentinelFields,"failed":$fl,"sf":"$sfDir"}"""
    // TWO file copies: the SPARK_GRAFT_BENCH_OUT one, and a durable repo-local
    // one (target/bench_full.json) so every per-query number survives
    // even when a capture keeps only the stdout tail
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    Seq(outPath, "target/bench_full.json").foreach { p =>
      try {
        Option(Paths.get(p).getParent).foreach(Files.createDirectories(_))
        Files.writeString(Paths.get(p), json + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] write $p: ${e.getMessage}")
      }
    }
    // the FULL metric line is the LAST stdout line, after the compact
    // summary: a tail-truncated capture keeps every per-query number
    val allFailed = (failed ++ isolatePass.map(_._2).getOrElse(Nil)).distinct
    println(s"""{"total":${f"$total%.3f"},"n":${timings.size},"failed":${allFailed.size},"mode":"$mode"}""")
    println(json)
    spark.stop()
    if (allFailed.nonEmpty) sys.exit(1)
  }
}
