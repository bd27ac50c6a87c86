package graft.queries

import graft.Tables
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based column profiling — the scale path for "what is in this
  * table" over 100 TB, where exact DISTINCT/percentile would shuffle
  * every value.
  *
  * Two variants live here:
  *
  *   - [[profileApprox]] — Spark's BUILT-IN sketches
  *     (`approx_count_distinct` HLL++ rsd 2%, `percentile_approx`
  *     accuracy 10000) in one partial-aggregated pass; the production
  *     default, but its register contents are engine-private so no
  *     external oracle can restate it. Pinned against exact answers in
  *     ProfilingSpec.
  *   - [[q41ProfileSketch]] — the DRIVER-GATED profile: the same
  *     architecture re-expressed with sketches whose every output bit
  *     is a pure function of the data, so an independent DuckDB oracle
  *     reproduces them exactly:
  *       - `n` / `n_null` / `n_distinct`: exact (the value-frequency
  *         relation gives the distinct count for free),
  *       - `est_distinct`: a KMV (bottom-k, k=256) distinct sketch —
  *         estimate `(k-1)·2^40 div h_k` where `h_k` is the k-th
  *         smallest 40-bit md5 prefix of the value; EXACT below k
  *         distinct values, rsd ≈ 1/√(k−2) ≈ 6% above. Same integer
  *         math in both engines; this is the sketch that would replace
  *         the frequency relation when cardinality is unbounded.
  *       - `p50/p90/p99_e2`: rank-exact discrete percentiles (value at
  *         rank ⌈p·n⌉) read off a running-count window over the
  *         frequency relation — integer predicates (`2·running ≥ n`),
  *         no interpolation, no float. Computed ONLY for the columns
  *         in [[ExactPctCols]], the declared bounded-cardinality set;
  *         unbounded columns get NULL here and their percentile needs
  *         are served by [[profileApprox]].
  *
  * q41 plan — NOTHING in it sorts a row-sized relation:
  *   - counts (`n`, `n_null`): one narrow aggregate over the scan,
  *     no shuffle of data rows;
  *   - `n_distinct` + KMV: melt the 3 columns (`stack`, a Generate —
  *     no Expand), distinct-collapse to the (column, value) relation
  *     (partial-aggregated shuffle, NO sort), then ONE aggregate pass
  *     whose bottom-k h's come from the map-side-combining TopK
  *     aggregator — the shuffle carries ≤ k hashes per column per
  *     partition even when cardinality is row-sized;
  *   - percentiles: a second melt of ONLY the [[ExactPctCols]] columns
  *     (projection-pruned scan) into a frequency relation whose
  *     running-count window sort is bounded by those columns' declared
  *     dictionary-sized domains — the honest cost of exact order
  *     statistics (q87's argument), paid only where it is bounded.
  * Values are integer cents (e2) so every output column is
  * engine-exact. */
object Profiling {
  private type Q = (SparkSession, String) => DataFrame

  private[graft] val Rsd = 0.02
  private[graft] val PctAccuracy = 10000

  /** Metric block for one numeric column, tagged with its name. All
    * three quantiles come out of ONE percentile_approx sketch (array
    * form) — one summary per column per partition, not three. */
  private def metrics(c: String): Seq[Column] = Seq(
    count(col(c)).as(s"${c}_n"),
    (count(lit(1)) - count(col(c))).as(s"${c}_null"),
    approx_count_distinct(col(c), Rsd).as(s"${c}_dist"),
    percentile_approx(col(c), array(lit(0.5), lit(0.9), lit(0.99)), lit(PctAccuracy))
      .as(s"${c}_pct"))

  private val Cols = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** Built-in-sketch profile (HLL++ + percentile_approx): single
    * partial-aggregated pass, shuffle carries one sketch row per
    * partition — constant shuffle volume at any data size. Approximate
    * by contract; ProfilingSpec pins it against exact answers. */
  private[graft] def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    val exprs = cols.flatMap(metrics)
    val wide = df.agg(exprs.head, exprs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', ${c}_n, ${c}_null, ${c}_dist, CAST(element_at(${c}_pct, 1) AS DOUBLE), " +
        s"CAST(element_at(${c}_pct, 2) AS DOUBLE), CAST(element_at(${c}_pct, 3) AS DOUBLE)"
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n, n_null, approx_distinct, p50, p90, p99)")
  }

  /** Bottom-k size of the KMV distinct sketch. */
  private[graft] val KmvK = 256
  /** Hash width 40 bits (10 md5 hex chars): (k−1)·2^40 ≈ 2.8e14 stays
    * comfortably inside a signed 64-bit numerator in both engines; a
    * 40-bit birthday collision merges the same pair of values in both
    * engines (same md5), shifting the estimate identically. */
  private[graft] val KmvNumerator: Long = (KmvK - 1).toLong << 40

  /** The three profiled columns, and the subset with DECLARED
    * dictionary-sized domains (quantity: 50 integers; discount: 11
    * cents values) on which rank-exact percentiles are affordable —
    * their frequency relation is ~61 rows at ANY data size. Exact
    * order statistics on l_extendedprice (near-unique) would sort a
    * row-sized relation; it gets NULL here and `profileApprox`'s
    * constant-shuffle percentile_approx instead. */
  private val ProfCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  private[graft] val ExactPctCols = Seq("l_quantity", "l_discount")

  /** 40-bit md5-prefix hash of the e2 value (identical string input in
    * both engines: a Spark long cast to string == DuckDB BIGINT to
    * VARCHAR). */
  private def h40(v: Column): Column =
    md5Draw(v.cast("string"), 1, 10)

  private def meltExpr(cols: Seq[String]): String =
    s"stack(${cols.size}, " +
      cols.map(c => s"'$c', $c").mkString(", ") + ") AS (column_name, v)"

  val q41ProfileSketch: Q = (s, d) => {
    // (1) n / n_null per column: ONE narrow single-row aggregate over
    // the scan — no shuffle of data rows, stacked to one row per column
    val countAggs = count(lit(1)).as("n_rows") +:
      ProfCols.map(c => count(col(c)).as(s"${c}_n"))
    val counts = Tables.lineitem(s, d)
      .select(ProfCols.map(c => e2(col(c)).as(c)): _*)
      .agg(countAggs.head, countAggs.tail: _*)
      .selectExpr(s"stack(${ProfCols.size}, " +
        ProfCols.map(c => s"'$c', ${c}_n, n_rows - ${c}_n").mkString(", ") +
        ") AS (column_name, n, n_null)")

    // (2) n_distinct + KMV bottom-k: melt, distinct-collapse to the
    // (column, value) relation (partial-aggregated hash shuffle, NO
    // sort), then one aggregate pass whose k smallest h's ride the
    // map-side-combining TopK buffer — the second shuffle carries at
    // most k hashes per column per partition even when cardinality is
    // row-sized. score = -h makes "top-k by score" = "bottom-k by h";
    // h_k is the max h in the buffer (= minimum score, = last row,
    // rows sorted score-desc). Hash ties across distinct values leave
    // h_k unchanged (same multiset of h's in both engines).
    val dist = Tables.lineitem(s, d)
      .select(ProfCols.map(c => e2(col(c)).as(c)): _*)
      .selectExpr(meltExpr(ProfCols))
      .filter(col("v").isNotNull)
      .distinct()
      .select(col("column_name"), col("v"), h40(col("v")).as("h"))
      .groupBy(col("column_name"))
      .agg(count(lit(1)).as("n_distinct"),
        graft.functions.TopK.topK(KmvK)(col("v"), -col("h")).as("bot"))
      // greatest(hk, 1): h_k = 0 needs all of the k smallest 40-bit
      // hashes to be 0 (~2^-40 per column per value); the clamp turns
      // that astronomic corner from a NULL estimate into a huge one
      .withColumn("hk", expr("greatest(-element_at(bot.rows, -1).score, 1)"))
      .withColumn("est_distinct",
        when(col("n_distinct") < KmvK, col("n_distinct"))
          .otherwise(expr(s"$KmvNumerator div hk")))

    // (3) rank-exact percentiles, ONLY over the declared
    // dictionary-sized columns: projection-pruned scan, frequency
    // relation of ≤ ~61 rows, window sort bounded by that domain —
    // the honest cost of exact order statistics, paid only where it
    // is bounded. Unbounded columns surface as NULL via the left join.
    val pctFreq = Tables.lineitem(s, d)
      .select(ExactPctCols.map(c => e2(col(c)).as(c)): _*)
      .selectExpr(meltExpr(ExactPctCols))
      .filter(col("v").isNotNull)
      .groupBy(col("column_name"), col("v")).agg(count(lit(1)).as("cnt"))
    val pct = nearestRank(pctFreq, Seq("column_name"), "v", col("cnt"),
      Seq(("p50_e2", 1, 2), ("p90_e2", 9, 10), ("p99_e2", 99, 100)))

    // LEFT joins from counts: an all-NULL column has no distinct (or
    // pct) group, but a profiler must still report it (n=0 non-null,
    // n_null=total, 0 distinct) rather than dropping the row
    counts.join(dist, Seq("column_name"), "left")
      .join(pct, Seq("column_name"), "left")
      .select(col("column_name"), col("n"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("est_distinct"), lit(0L)).as("est_distinct"),
        col("p50_e2"), col("p90_e2"), col("p99_e2"))
  }

  // -- q42: deterministic train/val/test split -------------------------

  /** Leakage-free dataset splitting: each document's split is a pure
    * function of a content-stable key hash (md5 of doc_id, first 16
    * bits, mod 10 → 80/10/10), NOT of row order, partitioning, or a
    * seeded RNG — so re-sharding, re-partitioning, or incrementally
    * re-running the pipeline can never move a document across splits
    * (the train/test-contamination failure mode of `randomSplit` at
    * scale). Plan: a narrow map over the scan, ZERO shuffles; the
    * assignment parallelizes embarrassingly at any data size. */
  val q42TrainTestSplit: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), splitBucket(col("doc_id")).as("bucket"))
      .withColumn("split", splitOf(col("bucket")))
  }

  // -- q76: equi-width histogram ---------------------------------------

  private val HistBins = 16
  private val HistWidthChars = 50L

  /** EQUI-WIDTH HISTOGRAM of document length (16 × 50-char buckets,
    * top bucket open) — the exact-counting distribution profile next to
    * q41's rank-error quantile sketch: histograms drive the length
    * filters and truncation budgets of a curation pipeline, and an
    * equi-width bucket is a pure integer floor-division, so this stays
    * a ONE-shuffle partial-aggregated count at any scale (the shuffle
    * carries ≤17 rows per partition). min/max per bucket double as the
    * exact bucket occupancy bounds. */
  val q76LengthHistogram: Q = (s, d) =>
    Tables.documents(s, d)
      .select(least(lit(HistBins - 1L),
        expr(s"n_chars div $HistWidthChars")).as("bucket"),
        col("n_chars"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .withColumn("bucket_lo", col("bucket") * HistWidthChars)

  // -- q87: key-skew profile --------------------------------------------

  /** KEY-SKEW PROFILE of a join/partition key (l_suppkey): exact
    * heavy-hitter share and frequency quantiles — the diagnostic that
    * decides whether a key needs salting (ops/Skew) or AQE skew
    * handling BEFORE a 100 TB shuffle is launched. Phase 1 collapses
    * the fact table to the (key, cnt) frequency relation — one
    * partial-aggregated shuffle, the only pass over facts. Phase 2
    * ranks that relation (|keys| rows, orders of magnitude smaller
    * than facts) to read the nearest-rank p50/p99 frequencies
    * (`Exact.nearestRank`), top-1 count, and the ppm share of the hottest key —
    * all integer math. The single-partition sort of the frequency
    * relation is the honest cost of EXACT order statistics and is
    * bounded by key cardinality, not data volume; the q41 sketch path
    * is the unbounded-cardinality alternative. */
  val q87KeySkewProfile: Q = (s, d) => {
    val freq = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
    // n_keys is sum(1), not count: NULL over no keys, as the oracle's
    // max(count(*) OVER ())
    nearestRank(freq, Nil, "cnt", lit(1L),
      Seq(("p50_cnt", 1, 2), ("p99_cnt", 99, 100)),
      sum(lit(1L)).as("n_keys"), sum(col("cnt")).as("n_rows"), max(col("cnt")).as("top1_cnt"))
      .withColumn("top1_share_ppm", expr("top1_cnt * 1000000 div n_rows"))
      .withColumn("skew_p99_over_p50_e2", expr("p99_cnt * 100 div p50_cnt"))
  }

  // -- q97: equi-depth histogram (per-language length octiles) ----------

  private val DepthBuckets = 8

  /** EQUI-DEPTH HISTOGRAM: per-language document-length octiles —
    * equal ROW counts per bucket with data-driven boundaries, the
    * histogram shape optimizers and data-skew dashboards actually
    * store (q76's equi-width is its fixed-boundary complement; q73's
    * ntile is the same primitive as a row feature rather than a
    * summary). `ntile` over the total (n_chars, doc_id) order within
    * each language assigns buckets, then one partial-aggregated
    * count/min/max per (lang, bucket) — ≤ 8·|langs| output rows. The
    * window shuffles once on lang; sorting within language partitions
    * is the honest cost of exact depth boundaries (per-key, never a
    * global single-partition sort). */
  val q97EquiDepthHist: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("bucket", ntile(DepthBuckets).over(w).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("lo_chars"),
        max(col("n_chars")).as("hi_chars"))
  }

  // -- q98: declarative data-quality expectations ------------------------

  /** EXPECTATION SUITE over orders (+ referential checks into customer
    * and from lineitem): the dbt-test-style table contract evaluated
    * through [[graft.ops.Expectations]] — row-scoped rules compile to
    * ONE aggregate pass, uniqueness rides the same pass, referential
    * integrity is a left-anti count against distinct dimension keys.
    * The suite deliberately mixes passing rules with rules the data
    * genuinely violates (a price cap, a segment allowlist missing one
    * real segment) so both report states are exercised. */
  val q98Expectations: Q = (s, d) => {
    import graft.ops.Expectations._
    val orders = Tables.orders(s, d)
      .withColumn("price_e2", e2(col("o_totalprice")))
    val cust = Tables.customer(s, d)
    val oReport = graft.ops.Expectations.run(orders, Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      InRange("price_e2", 1L, 30000000L), // cap some real orders exceed
      RefIntegrity("o_custkey", cust, "c_custkey")))
    val cReport = graft.ops.Expectations.run(cust, Seq(
      NotNull("c_name"),
      // allowlist deliberately missing one real segment
      AcceptedValues("c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"))))
    oReport.withColumn("table_name", lit("orders"))
      .unionByName(cReport.withColumn("table_name", lit("customer")))
      .select(col("table_name"), col("rule"), col("n_violations"), col("pass"))
  }

  // -- q99: incremental aggregate maintenance ----------------------------

  /** INCREMENTAL ROLLUP: per-customer order stats maintained through
    * [[graft.ops.IncrementalAgg]] — history arrives as three
    * year-range batches, each folded into the running state (one
    * partial-aggregated pass per batch + a keyed merge), and the final
    * state must equal the one-shot recompute the oracle states. The
    * per-run cost of this pattern is O(batch + touched keys),
    * independent of history age — the 100 TB daily-mart play;
    * IncrementalAggSpec additionally pins fold-order invariance. */
  val q99IncrementalRollup: Q = (s, d) => {
    import graft.ops.IncrementalAgg
    import graft.ops.IncrementalAgg.Metrics
    val m = Metrics("price_e2")
    val keys = Seq("o_custkey")
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
        e2(col("o_totalprice")).as("price_e2"))
    val batches = Seq(
      o.filter(col("yr") <= 1994),
      o.filter(col("yr") >= 1995 && col("yr") <= 1996),
      o.filter(col("yr") >= 1997))
    val state = batches.tail.foldLeft(
      IncrementalAgg.aggregate(batches.head, keys, m)) { (st, b) =>
      IncrementalAgg.merge(st, IncrementalAgg.aggregate(b, keys, m), keys, m)
    }
    state.select(col("o_custkey"), col("cnt"), col("sum_v"), col("min_v"), col("max_v"))
  }

  // -- q111: embedding dimension profile ------------------------------

  /** EMBEDDING DIMENSION PROFILE — the feature-space drift audit a
    * vector pipeline runs before any ANN/clustering job (collapsed or
    * shifted dimensions silently wreck cosine): per-dimension count,
    * min/max/mean and sign balance over the e4-QUANTIZED embedding
    * space (the q23/q32 quantization, so numbers line up with the
    * integer dot/cosine family). The array explodes in-row
    * (posexplode); ONE shuffle of (dim, qx) pairs feeds a 64-group
    * aggregate with map-side partials — per-dim state is constant
    * width, so the plan is unchanged at 100 TB (|qx| ≤ 1e4 leaves
    * sum_e4 ~1e14 rows of BIGINT headroom). The mean follows the
    * README div contract: dividend shifted nonnegative (valid for
    * the normalized-embedding range |x| ≤ 1 — min_e4/max_e4 in the
    * output witness the precondition), truncating `div` ≡ flooring
    * `//`, shift subtracted back. */
  val q111EmbeddingDimProfile: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(posexplode(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT))"))
        .as(Seq("dim", "qx")))
      .select(col("dim").cast("long").as("dim"), col("qx"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        min(col("qx")).as("min_e4"),
        max(col("qx")).as("max_e4"),
        sum(col("qx")).as("sum_e4"),
        sum(when(col("qx") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("qx") < 0, 1L).otherwise(0L)).as("n_neg"))
      .withColumn("mean_e4", expr("(sum_e4 + n * 10000) div n - 10000"))

  // -- q120: per-dimension equi-depth embedding bins ----------------------

  /** FEATURE BINNING over the vector space: per-dimension octile
    * boundaries with equal value counts — the quantile-bucketing step
    * of feature stores and monotone-binned GBDT/calibration features,
    * and the cut-point table an IVF/LSH tuner reads to check dimension
    * balance. Complements q111 (moments per dim) with the
    * distribution's SHAPE, and reuses q97's primitive (ntile over a
    * total order) lifted to the e4-quantized embedding space —
    * (qx, vec_id) ordering is total, so both engines assign identical
    * buckets. One shuffle on dim (64 window partitions), ≤ 64·8 output
    * rows at any corpus size. */
  val q120EmbeddingBins: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("dim").orderBy(col("qx"), col("vec_id"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT))"))
        .as(Seq("dim", "qx")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("qx"))
      .withColumn("bucket", ntile(DepthBuckets).over(w).cast("long"))
      .groupBy("dim", "bucket")
      .agg(
        count(lit(1)).as("n_vals"),
        min(col("qx")).as("lo_e4"),
        max(col("qx")).as("hi_e4"))
  }

  // -- q118: per-source token-distribution drift --------------------------

  private val DriftRefK = 100

  /** Per `key` group of `toks` (rows of `key` and a token hash `gh`):
    * `n_tokens` and `l1_ppm`, the L1 distance in integer ppm between the
    * group's token distribution and the corpus's over the corpus's
    * top-[[DriftRefK]] reference hashes. For a reference hash a group
    * never emits, |0 − ppm_c| = ppm_c, so
    * L1 = Σ_ref ppm_c + Σ_present (|ppm_s − ppm_c| − ppm_c): a constant
    * plus a sum over observed (group, hash) pairs only, with no dense
    * group×vocabulary grid. The corpus total and the reference mass are
    * read on the driver (carrying them as 1-row relations would
    * constant-fold the lit-key joins into nested-loop joins); both read
    * 0 over an empty `toks`, whose result is empty. */
  private[graft] def tokenDrift(toks: DataFrame, key: String): DataFrame = {
    val corpus = toks.groupBy("gh").agg(count(lit(1)).as("n_gh"))
      .withColumn("grp", lit(1))
    val nTotal = corpus.agg(sum(col("n_gh"))).head() match {
      case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    val ref = graft.functions.TopK
      .topKPerGroup(corpus, "grp", "gh", "n_gh", DriftRefK)
      .select(col("gh"), expr(s"n_gh * 1000000 div ${math.max(nTotal, 1L)}").as("ppm_c"))
      .transform(graft.ops.SharedCache.persist)
    val cPpm = Option(ref.agg(sum(col("ppm_c"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val totals = toks.groupBy(key).agg(count(lit(1)).as("n_tokens"))
    val present = toks.groupBy(key, "gh").agg(count(lit(1)).as("n_sg"))
      .join(broadcast(ref), Seq("gh"))
      .join(broadcast(totals), Seq(key))
      .withColumn("ppm_s", expr("n_sg * 1000000 div n_tokens"))
      .groupBy(key)
      .agg(sum(abs(col("ppm_s") - col("ppm_c")) - col("ppm_c")).as("adj"))
    totals
      .join(present, Seq(key), "left")
      .select(col(key), col("n_tokens"),
        (lit(cPpm) + coalesce(col("adj"), lit(0L))).as("l1_ppm"))
  }

  /** DISTRIBUTION DRIFT MONITOR: the L1 distance (in integer ppm)
    * between each source's unigram distribution and the corpus
    * distribution, restricted to the corpus's top-100 reference
    * tokens — the data-quality alarm that catches a feed going bad
    * (language shift, spam flood, encoding break) BEFORE it pollutes
    * training mixes; the per-source macro complement of q113's
    * per-document classifier.
    *
    * The absent-token mass needs no dense source×vocab grid (a
    * cartesian the plan gate forbids): for reference tokens a source
    * never emits, |0 − ppm_c| = ppm_c, so
    * L1 = Σ_ref ppm_c + Σ_present (|ppm_s − ppm_c| − ppm_c)
    * — a constant plus a sum over OBSERVED (source, token) pairs only.
    * Text collapses to 48-bit token hashes at the scan; the reference
    * relation is a TopK-selected 100-row broadcast; observed pairs
    * shuffle once on (source, hash). Integer ppm via truncating div on
    * non-negative operands (README contract) keeps both engines
    * bit-equal. */
  val q118SourceDrift: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("source"),
        explode(tokens(col("text"))).as("t"))
      .select(col("source"),
        md5Draw(col("t"), 1, 12).as("gh"))
      .transform(graft.ops.SharedCache.persist)
    tokenDrift(toks, "source")
  }

  // -- q213: split representativeness audit -------------------------------

  /** SPLIT REPRESENTATIVENESS AUDIT — q118's drift monitor turned on
    * the SPLITTER: a hash split's promise is that val/test are
    * distributionally indistinguishable from the corpus, and this
    * measures it — per q42 split, the L1 distance (integer ppm) of the
    * split's unigram distribution from the corpus distribution over
    * the corpus's top-100 reference tokens. Near-zero validates the
    * splitter; a large l1_ppm on a 10% hash split flags doc_ids
    * correlated with content (ingest-time ids + drifting feeds — the
    * failure mode that silently makes validation loss unrepresentative
    * of train loss). Run AFTER q211's re-split, it also checks the
    * cluster-aware repair didn't skew the axes it should not touch.
    *
    * q118's plan and absent-mass algebra verbatim (source → split):
    * text dies to 48-bit hashes at the scan, the reference is a
    * TopK-selected 100-row broadcast, observed (split, hash) pairs
    * shuffle once, and the two corpus scalars are driver-hosted
    * control plane. */
  val q213SplitDrift: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(splitOf(splitBucket(col("doc_id"))).as("split"),
        explode(tokens(col("text"))).as("t"))
      .select(col("split"),
        md5Draw(col("t"), 1, 12).as("gh"))
      .transform(graft.ops.SharedCache.persist)
    tokenDrift(toks, "split")
  }

  // -- q215: oracle-gated count-min sketch ----------------------------

  private val CmsRows = 4
  private val CmsWidth = 1024L
  private val CmsTopK = 32

  /** COUNT-MIN SKETCH token frequencies — the third from-first-
    * principles sketch next to q129's HLL (cardinality) and q169's
    * Misra–Gries (heavy-hitter IDENTIFICATION): CMS answers the
    * frequency QUERY in bounded memory — 4 rows × 1024 counters is
    * the whole state for any corpus size, counters merge by `+`
    * (the mergeable-sketch property that makes it a 100 TB tool), and
    * est(t) = min_j counter[j][h_j(t)] NEVER under-counts (collisions
    * only add — the one-sided CMS guarantee, spec-pinned). Cormode &
    * Muthukrishnan 2005; ε = e/w ≈ 0.27% of corpus mass per row
    * before the 4-row min tightens it.
    *
    * Deterministic by construction (md5 row hashes), so the DuckDB
    * oracle rebuilds the identical sketch and the gate is bit-for-bit
    * — same convention as q129. The audit surface: the top-32 exact
    * tokens (the q190 Zipf-small vocab window) with true count,
    * estimate, and overestimate ppm — at production scale you keep
    * the sketch and drop the exact leg; here the exact leg IS the
    * verification.
    *
    * Plan: one token pass → 4-fold in-row (row, col) expansion →
    * map-combined count to ≤4096 cells (SharedCache'd); the probe leg
    * joins 32×4 cells against the broadcast sketch. Nothing after the
    * partial aggregate scales with corpus volume. */
  /** The j-th CMS row hash of a token — shared verbatim with
    * [[graft.streaming.StreamingCountMin]] so the maintained cells are
    * the batch cells and the q215 oracle transitively gates the
    * streaming estimates. */
  private[graft] def cmsHash(j: Int, t: Column): Column =
    md5Draw(concat(lit(s"cms$j|"), t), 1, 12) % CmsWidth

  /** All CmsRows (row, col) coordinates of a token, in-row. */
  private[graft] def cmsRcArr(t: Column): Column =
    array((0 until CmsRows).map(j =>
      struct(lit(j).as("r"), cmsHash(j, t).as("c"))): _*)

  /** Token stream of a documents batch (the engine tokenizer). */
  private[graft] def cmsTokens(batch: DataFrame): DataFrame =
    batch.select(explode(tokens(col("text"))).as("t"))

  /** The 4×1024 counter relation of a token batch (map-combined). */
  private[graft] def cmsCellPartials(toks: DataFrame): DataFrame =
    toks.select(explode(cmsRcArr(col("t"))).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))

  val q215CountMinSketch: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = cmsTokens(Tables.documents(s, d))
      .transform(graft.ops.SharedCache.persist)
    val cells = cmsCellPartials(toks)
      .transform(graft.ops.SharedCache.persist)
    val top = toks.groupBy("t").agg(count(lit(1)).as("n_true"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("n_true").desc, col("t"))))
      .filter(col("rn") <= CmsTopK).drop("rn")
    top
      .select(col("t"), col("n_true"), explode(cmsRcArr(col("t"))).as("rc"))
      .join(broadcast(cells),
        col("rc.r") === col("r") && col("rc.c") === col("c"))
      .groupBy("t", "n_true").agg(min(col("n")).as("n_est"))
      .select(col("t").as("token"), col("n_true"), col("n_est"),
        expr("(n_est - n_true) * 1000000 div n_true").as("over_ppm"))
  }

  // -- q129: oracle-gated HyperLogLog --------------------------------

  /** HYPERLOGLOG distinct-user estimate per event_type, built from
    * first principles so the DuckDB oracle gates it BIT-FOR-BIT (the
    * engine-private `approx_count_distinct`/`hll_sketch_agg` stay
    * spec-pinned library variants; this is the estimator itself as a
    * relational plan): 48-bit salted hash → 4-bit bucket (m=16) +
    * 44-bit suffix; register = max leading-zero rank per bucket (rank
    * via binary-string length — an integer identity, no libm log2);
    * the harmonic mean runs in EXACT integer arithmetic because every
    * 2^(-r) term is scaled by 2^45 (absent buckets contribute 2^45
    * each), and est = ⌊α₁₆·m²·2^45 / S⌋ with the numerator a compile-
    * time constant that fits int64. m=16 ⇒ rsd ≈ 26% — sized for the
    * oracle demo; growing m widens the numerator, same plan. No
    * small/large-range corrections (declared; the exact count sits in
    * the next column). Plan: one partial-aggregated shuffle of
    * (type, bucket) pairs — registers merge with MAX, the mergeable-
    * sketch property that makes HLL the 100 TB cardinality tool —
    * plus the exact countDistinct for the error column.
    */
  private val HllRegBits = 4 // m = 16 buckets
  private val HllAlphaNumerator = // ⌊0.673 · m² · 2^45⌋ via integer e3
    673L * 256L * (1L << 45) / 1000L

  /** The HLL registers of the `user_id`s of `rel` per `keys` group:
    * (keys, bucket, r). The 48-bit salted md5 of a user splits into a
    * 4-bit bucket and a 44-bit suffix; a register is the largest rank
    * of the suffix's first set bit (1-based; 45 for an all-zero
    * suffix, and length(bin(w)) = ⌊log2 w⌋ + 1 exactly). The streaming
    * twin `StreamingHll` folds the same registers with no keys. */
  private[graft] def hllRegisters(rel: DataFrame, keys: String*): DataFrame =
    rel
      .select(keys.map(col) :+ md5Draw(concat(lit("hll"),
        col("user_id").cast("string")), 1, 12).as("h48"): _*)
      .withColumn("bucket", expr(s"h48 div ${1L << 44}L"))
      .withColumn("w", expr(s"h48 % ${1L << 44}L"))
      .withColumn("rho",
        when(col("w") === 0, lit(45L))
          .otherwise(lit(45L) - length(bin(col("w"))).cast("long")))
      .groupBy((keys :+ "bucket").head, (keys :+ "bucket").tail: _*)
      .agg(max(col("rho")).as("r"))

  val q129HllDistinct: Q = (s, d) => {
    val regs = hllRegisters(graft.Tables.events(s, d), "event_type")
    val s45 = regs.groupBy("event_type")
      .agg(sum(expr("shiftleft(1L, cast(45 - r as int))")).as("s_present"),
        count(lit(1)).as("n_present"))
      .withColumn("s45",
        col("s_present") + (lit(16L) - col("n_present")) * lit(1L << 45))
      .withColumn("est_users", expr(s"${HllAlphaNumerator}L div s45"))
    val exact = graft.Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
    s45.join(exact, "event_type")
      .select(col("event_type"), col("est_users"), col("n_users"),
        expr("abs(est_users - n_users) * 100 div n_users").as("err_pct"))
  }

  // -- q137: chi-square independence of source × language ----------------

  /** CONTINGENCY-TABLE DRIFT TEST: Pearson's chi-square statistic for
    * independence between ingest source and document language — the
    * hypothesis-test complement of q118's L1 drift distance: q118
    * measures HOW FAR a source's distribution sits from the corpus,
    * this says whether source and language are associated AT ALL and
    * which cells drive it (the standardized per-cell contributions are
    * the actionable output — "src7 is overweight zh").
    *
    * Determinism: observed / row / column / grand totals are exact
    * BIGINTs; each cell's contribution (o·G − r·c)²/(G·r·c) is one
    * fixed-shape IEEE double expression over them (the algebraic form
    * of (o−e)²/e that never materializes a rounded e), then snapped to
    * e6 BIGINT so the cross-cell total is an order-free integer sum.
    * UNOBSERVED cells (o=0) never need a dense S×L grid (which would
    * be the cartesian the plan gate forbids): their contribution is
    * exactly e, and Σ_all e = G, so the total adds the absent mass
    * algebraically — Σ_observed cell + (G·1e6 − Σ_observed e_e6) —
    * the same absent-mass trick as q118. The o·G cross-product needs
    * BIGINT headroom up to G²; beyond ~3·10⁹ documents the decimal
    * money mode is the declared escape.
    *
    * Plan: the raw corpus collapses to |S|×|L| cells in one
    * map-combined shuffle; marginals and the statistic are window
    * sums OVER THE CELL RELATION (bounded rows at any corpus size —
    * the single-partition windows are on a ≤few-hundred-row relation,
    * declared control-plane). */
  val q137ChisqIndependence: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy("source")))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy("lang")))
      .withColumn("g", sum(col("o")).over(Window.partitionBy()))
      .withColumn("expected_e6",
        expr("CAST(round(CAST(rt AS DOUBLE) * ct / g * 1000000, 0) AS BIGINT)"))
      .withColumn("cell_chi2_e6",
        expr("""CAST(round(
               |  (CAST(o * g - rt * ct AS DOUBLE) * (o * g - rt * ct))
               |  / (CAST(g AS DOUBLE) * rt * ct) * 1000000, 0) AS BIGINT)""".stripMargin))
      .withColumn("chi2_total_e6",
        sum(col("cell_chi2_e6")).over(Window.partitionBy()) +
          col("g") * lit(1000000L) -
          sum(col("expected_e6")).over(Window.partitionBy()))
      .select("source", "lang", "o", "rt", "ct", "g",
        "expected_e6", "cell_chi2_e6", "chi2_total_e6")
  }

  // -- q140: cross-source quantile normalization -------------------------

  private val QnCentiles = 100

  /** QUANTILE NORMALIZATION (the genomics/feature-prep calibration,
    * Bolstad et al. 2003, adapted cross-source): map every document's
    * length onto a COMMON target distribution so sources with
    * systematically long/short documents become comparable before
    * length-based quality cuts — the remedy for exactly the per-source
    * shift q118/q137 only DETECT. Each doc gets its within-source
    * centile (ntile over a total (n_chars, doc_id) order); the target
    * value for centile c is the cross-source mean of each source's
    * centile-c representative (its max n_chars in the bucket),
    * truncating-integer so both engines agree.
    *
    * Plan: one window shuffle partitioned BY SOURCE (the q97/q73
    * per-group window precedent — a single source at 100 TB would want
    * the q102 two-phase rank, declared), then a |S|×100-row aggregate
    * broadcast back on centile. */
  val q140QuantileNormalize: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("centile", ntile(QnCentiles).over(w).cast("long"))
      .transform(graft.ops.SharedCache.persist) // window output feeds target build + final join
    val target = ranked
      .groupBy("source", "centile").agg(max(col("n_chars")).as("rep"))
      .groupBy("centile")
      .agg(expr("sum(rep) div count(1)").as("norm_chars"),
        count(lit(1)).as("n_sources"))
    ranked.join(broadcast(target), Seq("centile"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("centile"), col("norm_chars"), col("n_sources"))
  }

  // -- q148: decile lift / cumulative gains ------------------------------

  /** MODEL-EVAL LIFT TABLE: rank documents by a scorer (doc length as
    * the classic quality proxy) within each source, cut into deciles,
    * and report each decile's positive rate (lang='en') as LIFT over
    * the source base rate plus the cumulative-gains capture — the
    * decile table every targeting/filtering model ships with before
    * anyone trusts its threshold. All ratios are exact-integer ppm
    * cross-products (n_pos_d·n_total vs n_d·n_pos_total) — no rate
    * double ever divides another double. Per-source ntile windows
    * (q73/q97 precedent); the decile relation is |S|×10 rows. */
  val q148DecileLift: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val wCum = Window.partitionBy("source").orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy("source")
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy("source", "decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"))
      .withColumn("n_total", sum(col("n_docs")).over(wSrc))
      .withColumn("n_pos_total", sum(col("n_pos")).over(wSrc))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .select(col("source"), col("decile"), col("n_docs"), col("n_pos"),
        expr("CASE WHEN n_pos_total > 0 THEN n_pos * n_total * 1000000 div (n_docs * n_pos_total) END")
          .as("lift_e6"),
        expr("CASE WHEN n_pos_total > 0 THEN cum_pos * 1000000 div n_pos_total END")
          .as("cum_capture_e6"))
  }

  // -- q149: exact AUC (Mann–Whitney rank-sum) ---------------------------

  /** EXACT AUC of a scorer against a binary label, per source — the
    * Mann–Whitney identity AUC = (Σ_pos r̄ − n₊(n₊+1)/2)/(n₊·n₋) with
    * TIE-CORRECT average ranks, all in integers: 2·r̄ = 2·rank_min +
    * (tie_size − 1) is exact, so 2U is an exact BIGINT and the single
    * e6 division happens once at the end — a distributed exact AUC
    * with no per-pair comparison (the naive definition is quadratic;
    * rank-sum is one sort). Scorer: doc length; label: lang='en' —
    * the same pair q148 tables, here collapsed to the one-number
    * ranking quality. Per-source rank windows (declared per-group
    * window limit); output is |S| rows. */
  val q149ExactAuc: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy("source").orderBy("n_chars")
    val wTie = Window.partitionBy("source", "n_chars")
    Tables.documents(s, d)
      .select(col("source"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("rank_min", rank().over(wRank).cast("long"))
      .withColumn("tie_n", count(lit(1)).over(wTie))
      .withColumn("two_r", lit(2) * col("rank_min") + col("tie_n") - 1)
      .groupBy("source")
      .agg(sum(col("pos")).as("n_pos"),
        sum(lit(1L) - col("pos")).as("n_neg"),
        sum(when(col("pos") === 1L, col("two_r")).otherwise(0L)).as("sum_two_r"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        expr("""CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               | (sum_two_r - n_pos * (n_pos + 1)) * 1000000 div (2 * n_pos * n_neg)
               | END""".stripMargin).as("auc_e6"))
  }

  // -- q249: average precision (area under the PR curve) -----------------

  /** AVERAGE PRECISION of the q148/q149 ranking — the third face of
    * the same eval (q148 tables the deciles, q149 collapses to AUC):
    * AP = (1/n₊)·Σ_{k rel} P@k, the rank-weighted precision that AUC
    * deliberately ignores — AUC is invariant to WHERE in the ranking
    * the positives sit relative to each other, AP rewards front-
    * loading, which is what a filtering/curation cut actually
    * consumes. Same scorer (doc length) and label (lang='en') per
    * source; the random-ranker baseline AP ≈ base rate is attached so
    * the lift is row-derivable.
    *
    * Exactness: ranks use the deterministic (n_chars DESC, doc_id)
    * total order (q148's tiebreak); each relevant position contributes
    * the truncating ppm cumpos_k·1e6 div k and AP divides the exact
    * term sum by n₊ once — per-term floor-quantization (≤1 ppm/term)
    * is the declared semantics, mirrored in the oracle (the q161
    * floor-before-sum convention; never a float accumulation).
    *
    * Plan: one narrow projection, then a DISTRIBUTED exact rank, not
    * a per-source Window sort (which would funnel ~N/|sources| docs
    * through one task — at 100× docs that task is the job). The q255 decomposition,
    * per source: under (n_chars DESC, doc_id ASC),
    *   k−1      = |chars' > chars| + |chars'=chars, bucket' < bucket|
    *              + rows before the doc in its (source, chars, bucket)
    *                partition,
    * and cum_pos decomposes identically over the positive counts
    * carried on the SAME cells — bucket = doc_id div 2²⁰, so the
    * inner window partition holds ≤2²⁰ rows BY CONSTRUCTION (doc_ids
    * unique) and the two prefix windows walk FREQUENCY relations
    * bounded by the (source × chars-domain) and bucket domains, not
    * by doc count. Cells join back on their own keys (equi-joins, AQE
    * sizes them); the tail is the same |sources|-row aggregate. */
  val q249AveragePrecision: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bkt = EventAnalytics.RankIdBucket
    val base = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .transform(graft.ops.SharedCache.persist)
    // leg 1: docs strictly above this char count (chars-domain cells)
    val wCh = Window.partitionBy("source").orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val chPfx = base.groupBy("source", "n_chars")
      .agg(count(lit(1)).as("c_n"), sum(col("pos")).as("c_p"))
      .withColumn("above_n", coalesce(sum(col("c_n")).over(wCh), lit(0L)))
      .withColumn("above_p", coalesce(sum(col("c_p")).over(wCh), lit(0L)))
      .select(col("source"), col("n_chars"), col("above_n"), col("above_p"))
    // leg 2: same char count, lower doc-id bucket (bucket cells)
    val wBkt = Window.partitionBy("source", "n_chars").orderBy("ib")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktPfx = base.withColumn("ib", expr(s"doc_id div ${bkt}L"))
      .groupBy("source", "n_chars", "ib")
      .agg(count(lit(1)).as("b_n"), sum(col("pos")).as("b_p"))
      .withColumn("bef_n", coalesce(sum(col("b_n")).over(wBkt), lit(0L)))
      .withColumn("bef_p", coalesce(sum(col("b_p")).over(wBkt), lit(0L)))
      .select(col("source"), col("n_chars"), col("ib"),
        col("bef_n"), col("bef_p"))
    // leg 3: rank + running positives inside the ≤2²⁰-row partition
    val wIn = Window.partitionBy("source", "n_chars", "ib").orderBy("doc_id")
    base.withColumn("ib", expr(s"doc_id div ${bkt}L"))
      .withColumn("rin", row_number().over(wIn).cast("long"))
      .withColumn("pin", sum(col("pos")).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(bktPfx, Seq("source", "n_chars", "ib"))
      .join(chPfx, Seq("source", "n_chars"))
      .withColumn("k", col("above_n") + col("bef_n") + col("rin"))
      .withColumn("cum_pos", col("above_p") + col("bef_p") + col("pin"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
        sum(when(col("pos") === 1L,
          expr("cum_pos * 1000000 div k")).otherwise(0L)).as("term_sum"))
      .select(col("source"), col("n_docs"), col("n_pos"),
        expr("CASE WHEN n_pos > 0 THEN term_sum div n_pos END").as("ap_e6"),
        expr("n_pos * 1000000 div n_docs").as("base_e6"))
  }

  // -- q164: Merkle-style partition fingerprints ------------------------

  private val MerkleBuckets = 256L

  /** REPLICA-SYNC FINGERPRINTS: two-level content checksums over the
    * orders table — 256 key-bucket leaves (row count + XOR of 48-bit
    * md5 row digests) plus one root — the cheap divergence precheck
    * that makes cross-site replica verification O(buckets) instead of
    * O(rows): compare roots, then leaves, and only ship actual rows
    * (q78's snapshot diff) for the buckets that disagree. The
    * anti-entropy pattern of Dynamo-style replication, expressed
    * relationally.
    *
    * XOR is the right fold: order-independent (any partial-agg order),
    * overflow-free at any row count (unlike a sum of 48-bit values),
    * and incrementally maintainable (XOR the digests of changed rows
    * in and out). The digest covers the business columns via ONE
    * canonical '|'-joined rendering (integer cents, explicit
    * yyyy-MM-dd date) so both engines hash identical bytes. Plan: one
    * narrow digest projection + ONE map-combined 256-group aggregate;
    * the root folds the 256 leaves. */
  /** The leaf computation, shared VERBATIM with the streaming twin
    * ([[graft.streaming.StreamingMerkle]] folds per-batch partials of
    * exactly this relation into its state), so the q164 oracle
    * transitively verifies the streaming digest path. */
  private[graft] def merkleLeaves(orders: DataFrame): DataFrame =
    merkleRows(orders)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h48)").as("fp"))

  /** The per-row digest relation the leaves fold — (bucket, o_orderkey,
    * h48) under q164's canonical rendering. Kept separate so q166's
    * repair pass can re-read digests for JUST the diverged buckets. */
  private[graft] def merkleRows(orders: DataFrame): DataFrame =
    orders.select(
      (col("o_orderkey") % MerkleBuckets).as("bucket"),
      col("o_orderkey"),
      md5Draw(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        e2(col("o_totalprice")),
        date_format(col("o_orderdate"), "yyyy-MM-dd")), 1, 12).as("h48"))

  val q164MerkleFingerprint: Q = (s, d) => {
    val leaves = merkleLeaves(Tables.orders(s, d))
      .transform(graft.ops.SharedCache.persist) // leaves + root
    val root = leaves
      .agg(sum(col("n_rows")).as("n_rows"), expr("bit_xor(fp)").as("fp"))
      .select(lit(-1L).as("bucket"), col("n_rows"), col("fp"))
    leaves.select(col("bucket"), col("n_rows"), col("fp"))
      .unionByName(root)
      .withColumn("level", when(col("bucket") === -1L, lit(0L)).otherwise(lit(1L)))
  }

  // -- q166: Merkle-guided replica repair diff --------------------------

  private val RepairMod = 4096L
  private val RepairUpdKey = 257L // lands in bucket 1
  private val RepairDelKey = 514L // lands in bucket 2
  private val RepairMoveKey = 771L // lands in bucket 3…
  private val RepairMoveDelta = 1000000000L // …and 1e9 ≡ 0 (mod 256) keeps it there

  /** The deterministic "drifted replica" of orders both engines derive
    * identically — one cell update (bucket 1), one row deletion
    * (bucket 2) and one key rewrite (bucket 3, bucket-preserving so
    * the divergence stays localized); every other bucket is
    * bit-identical to base. Stands in for the remote copy a real
    * anti-entropy pass would fetch leaves from. */
  private[graft] def replicaOrders(orders: DataFrame): DataFrame =
    orders
      .filter(col("o_orderkey") % RepairMod =!= RepairDelKey)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % RepairMod === RepairUpdKey,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .withColumn("o_orderkey",
        when(col("o_orderkey") % RepairMod === RepairMoveKey,
          col("o_orderkey") + RepairMoveDelta).otherwise(col("o_orderkey")))

  /** The REPAIR step q164's scaladoc promises: compare the two sides'
    * 256 leaf fingerprints first, then row-diff ONLY the buckets whose
    * (count, xor) disagree — at 100 TB with bucket-aligned layout the
    * second pass is partition-pruned to the diverged slices, so repair
    * cost is O(buckets + changed rows), not O(rows). Emits one row per
    * diverging key: changed / base_only / replica_only. */
  private[graft] def merkleRepair(base: DataFrame, replica: DataFrame): DataFrame = {
    val bl = merkleLeaves(base)
      .select(col("bucket"), col("n_rows").as("bn"), col("fp").as("bfp"))
    val rl = merkleLeaves(replica)
      .select(col("bucket"), col("n_rows").as("rn"), col("fp").as("rfp"))
    // the diverged-bucket set: tiny (≤256 rows) ⇒ broadcast into both
    // row-pass semi-joins; a leaf missing on either side also diverges
    val diffBuckets = bl.join(rl, Seq("bucket"), "full_outer")
      .filter(col("bn").isNull || col("rn").isNull ||
        col("bn") =!= col("rn") || col("bfp") =!= col("rfp"))
      .select("bucket")
    val bRows = merkleRows(base)
      .join(broadcast(diffBuckets), Seq("bucket"), "left_semi")
      .select(col("bucket"), col("o_orderkey"), col("h48").as("h_base"))
    val rRows = merkleRows(replica)
      .join(broadcast(diffBuckets), Seq("bucket"), "left_semi")
      .select(col("bucket"), col("o_orderkey"), col("h48").as("h_replica"))
    bRows.join(rRows, Seq("bucket", "o_orderkey"), "full_outer")
      .withColumn("status",
        when(col("h_base").isNull, lit("replica_only"))
          .when(col("h_replica").isNull, lit("base_only"))
          .when(col("h_base") =!= col("h_replica"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("bucket"), col("o_orderkey"), col("status"))
  }

  val q166MerkleRepair: Q = (s, d) => {
    val base = Tables.orders(s, d)
    merkleRepair(base, replicaOrders(base))
  }

  // -- q167: functional-dependency validation (g3 error) ----------------

  /** One candidate FD X→Y scored with the standard approximation
    * measures (Kivinen–Mannila g3): per LHS group the rows that must
    * be DELETED for the FD to hold are everything outside the group's
    * plurality RHS value, so g3 = Σ_x (n_x − max_y n_xy). Exact
    * integers end to end; two map-combined aggregates, group count
    * bounded by |distinct X| — nothing row-sized shuffles twice. */
  private[graft] def fdProfile(
      df: DataFrame, name: String, lhs: String, rhs: String): DataFrame =
    fdFromCells(
      df.groupBy(col(lhs).as("l"), col(rhs).as("r"))
        .agg(count(lit(1)).as("cnt")),
      name)

  /** The g3 finalizer over an (l, r, cnt) cell relation. Cells merge
    * by `+` (associative/commutative), so a streaming monitor can
    * maintain them incrementally and re-run EXACTLY this finalizer —
    * [[graft.streaming.StreamingFdMonitor]] does, which is what makes
    * its batch-equality spec possible. */
  private[graft] def fdFromCells(cells: DataFrame, name: String): DataFrame =
    cells
      .groupBy("l")
      .agg(sum("cnt").as("n"), max("cnt").as("keep"), count(lit(1)).as("n_rhs"))
      .agg(sum("n").as("n_rows"), count(lit(1)).as("n_groups"),
        sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(col("n") - col("keep")).as("g3_rows"))
      .select(lit(name).as("fd"), col("n_rows"), col("n_groups"),
        col("n_violating_groups"), col("g3_rows"),
        expr("g3_rows * 1000000 div n_rows").as("g3_e6"))

  /** DATA-QUALITY FD VALIDATION over a declared candidate list — the
    * profiling complement to q98's per-column expectations: does
    * column X determine column Y, and if not, how far off (g3 = the
    * minimum fraction of rows to delete)? Five candidates spanning
    * held (key→attr) and violated (attr→attr) dependencies; output is
    * one summary row per FD. */
  val q167FdCheck: Q = (s, d) =>
    fdProfile(Tables.part(s, d), "part.p_brand->p_type", "p_brand", "p_type")
      .unionByName(fdProfile(
        Tables.part(s, d), "part.p_type->p_brand", "p_type", "p_brand"))
      .unionByName(fdProfile(Tables.customer(s, d),
        "customer.c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))
      .unionByName(fdProfile(Tables.customer(s, d),
        "customer.c_custkey->c_nationkey", "c_custkey", "c_nationkey"))
      .unionByName(fdProfile(Tables.orders(s, d),
        "orders.o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))

  // -- q170: referential-integrity audit (orphan FK rates) --------------

  /** One FK edge child.fk → parent.pk, scored as (child rows, distinct
    * fk values, orphan rows, orphan ppm) in ONE pass: left-join the
    * distinct parent key set (unique by PK contract; distinct() keeps
    * the 1:≤1 join shape honest) and aggregate — a keyed shuffle, or
    * broadcast when the parent key set fits. NULL fks count as orphans
    * (a NULL never equi-matches: the row cannot be resolved). */
  private[graft] def riEdge(
      child: DataFrame, fk: String, parent: DataFrame, pk: String,
      name: String): DataFrame =
    child.select(col(fk).as("fkv"))
      .join(parent.select(col(pk).as("fkv")).distinct()
        .withColumn("hit", lit(1)), Seq("fkv"), "left")
      .agg(count(lit(1)).as("n_child"),
        count_distinct(col("fkv")).as("n_fk_values"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("fk"), col("n_child"), col("n_fk_values"),
        col("n_orphans"),
        expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))

  /** CROSS-TABLE REFERENTIAL-INTEGRITY AUDIT — the inter-table
    * complement of q167's intra-table FDs: for each declared FK edge
    * of the warehouse star, how many child rows point at a missing
    * parent? Clean on the driver testdata by construction, which is
    * itself the assertion a DQ gate wants to make (orphan_ppm = 0);
    * the spec feeds a broken fixture to pin the orphan arithmetic. */
  val q170RiCheck: Q = (s, d) =>
    riEdge(Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d),
      "o_orderkey", "lineitem.l_orderkey->orders")
      .unionByName(riEdge(Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", "orders.o_custkey->customer"))
      .unionByName(riEdge(Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey", "customer.c_nationkey->nation"))
      .unionByName(riEdge(Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey", "lineitem.l_partkey->part"))
      .unionByName(riEdge(Tables.lineitem(s, d), "l_suppkey",
        Tables.supplier(s, d), "s_suppkey", "lineitem.l_suppkey->supplier"))

  // -- q173: k-anonymity audit ------------------------------------------

  /** Risk thresholds: a row is "at risk at k" when its quasi-identifier
    * equivalence class holds fewer than k rows. */
  private[graft] val KAnonThresholds = Seq(2L, 5L, 10L, 20L)

  /** K-ANONYMITY AUDIT — the release-gate privacy check for a table
    * about to leave the curation boundary (Sweeney 2002; the PII
    * complement of q67's in-text redaction): group rows by the
    * quasi-identifier tuple (nation, market segment, account-balance
    * band of 1000) and, for each declared threshold k, report how many
    * rows/classes sit in equivalence classes smaller than k. A release
    * gate reads `risk_ppm` at its policy k and blocks the export.
    *
    * Plan: one map-combined groupBy on the QI tuple (|classes| rows —
    * bounded by the QI domain product, NOT the table size), one scalar
    * aggregate folding every threshold's conditional sums in a single
    * pass, then a constant-width `stack` unpivot to one row per k.
    * Nothing here scales with rows except the first partial aggregate;
    * at 100 TB the QI class relation is the only shuffle and it is
    * domain-bounded (25 nations × 5 segments × ~12 bands). */
  /** The q173 finalizer over a class-size relation (any QI identity
    * columns; only `cls` is read) — shared verbatim with
    * [[graft.streaming.StreamingKAnonymity]] so the chunk-folded
    * streaming state reports bit-equal risk. */
  private[graft] def kanonFromSizes(sizes: DataFrame): DataFrame = {
    val perK = KAnonThresholds.flatMap { k =>
      Seq(sum(when(col("cls") < k, col("cls")).otherwise(0L)).as(s"r$k"),
        sum(when(col("cls") < k, 1L).otherwise(0L)).as(s"c$k"))
    }
    val stackArgs = KAnonThresholds
      .map(k => s"${k}L, r$k, c$k").mkString(", ")
    val aggs = Seq(sum(col("cls")).as("n_rows"),
      count(lit(1)).as("n_classes")) ++ perK
    sizes
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${KAnonThresholds.size}, $stackArgs) " +
        "AS (k, rows_at_risk, classes_at_risk)", "n_rows", "n_classes")
      .select(col("k"), col("n_rows"), col("n_classes"),
        col("rows_at_risk"), col("classes_at_risk"),
        expr("rows_at_risk * 1000000 div n_rows").as("risk_ppm"))
  }

  val q173KAnonymity: Q = (s, d) =>
    kanonFromSizes(Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("cls")))

  // -- q188: l-diversity audit ------------------------------------------

  /** Diversity thresholds: a class is "at risk at l" when it holds
    * fewer than l distinct sensitive values. */
  private[graft] val LDivThresholds = Seq(2L, 3L, 5L)

  /** L-DIVERSITY AUDIT — the second release-gate privacy check
    * (Machanavajjhala et al. 2006), closing the gap q173 leaves open:
    * a class can be k-anonymous yet leak the sensitive attribute
    * outright when every row in it SHARES that attribute (the
    * homogeneity attack). Quasi-identifier tuple = (nation,
    * account-balance band of 1000) — q173's QI minus the segment,
    * which becomes the SENSITIVE attribute; per class we count rows
    * and distinct segments, then for each declared l report how many
    * classes/rows sit below l distinct sensitive values. A release
    * gate reads `risk_ppm` at its policy l next to q173's k.
    *
    * Plan: one two-level aggregate — (QI, segment) cells first (the
    * exact-distinct discipline of A3/X29: no Expand, no
    * count(DISTINCT) over raw rows), then the class relation with
    * `cls` = Σ cell rows and `div` = cell count — followed by the q173
    * finalizer shape: ONE scalar aggregate folding every threshold and
    * a constant-width stack unpivot to one row per l. Both aggregate
    * keys are domain-bounded (25 nations × ~12 bands × 5 segments), so
    * nothing after the first partial aggregate scales with rows. */
  /** Customer counts per (q1 nation, q2 balance band in thousands,
    * sens market segment) cell: the input of q188 and q199. */
  private def customerCells(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("q1"),
        floor(col("c_acctbal") / 1000).cast("long").as("q2"),
        col("c_mktsegment").as("sens"))
      .agg(count(lit(1)).as("cell"))

  /** Shared finalizer for q188 and its streaming twin: the
    * per-threshold diversity risk report over (q1, q2, sens, cell)
    * sensitive-value cells — cells merge by `+` under any chunking
    * (the kanonFromSizes re-aggregation contract), so the streaming
    * monitor maintains cells and re-runs THIS code verbatim, making
    * the q188 oracle transitively verify the streaming math. */
  private[graft] def ldivFromCells(cells: DataFrame): DataFrame = {
    val classes = cells
      .groupBy("q1", "q2")
      .agg(sum(col("cell")).as("cls"), count(lit(1)).as("div"))
    val perL = LDivThresholds.flatMap { l =>
      Seq(sum(when(col("div") < l, col("cls")).otherwise(0L)).as(s"r$l"),
        sum(when(col("div") < l, 1L).otherwise(0L)).as(s"c$l"))
    }
    val stackArgs = LDivThresholds
      .map(l => s"${l}L, r$l, c$l").mkString(", ")
    val aggs = Seq(sum(col("cls")).as("n_rows"),
      count(lit(1)).as("n_classes")) ++ perL
    classes
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${LDivThresholds.size}, $stackArgs) " +
        "AS (l, rows_at_risk, classes_at_risk)", "n_rows", "n_classes")
      .select(col("l"), col("n_rows"), col("n_classes"),
        col("rows_at_risk"), col("classes_at_risk"),
        expr("rows_at_risk * 1000000 div n_rows").as("risk_ppm"))
  }

  val q188LDiversity: Q = (s, d) =>
    ldivFromCells(customerCells(s, d))

  // -- q199: t-closeness audit ------------------------------------------

  /** Closeness thresholds (ppm of the max distance 1): a class is "at
    * risk at t" when its sensitive-value distribution sits FURTHER
    * than t from the table-wide distribution. */
  private[graft] val TCloseThresholds = Seq(100000L, 200000L, 400000L)

  /** T-CLOSENESS AUDIT — the third release-gate privacy check (Li,
    * Li & Venkatasubramanian 2007), closing the gap q188 leaves open:
    * a class can be l-diverse yet still leak by SKEW — if 99% of one
    * class shares a sensitive value that is rare table-wide, the
    * attacker's posterior moves massively even though l distinct
    * values appear (the skewness attack). Per QI class (q188's tuple:
    * nation, 1000-wide balance band) we measure the variational
    * distance between the class's sensitive-value (market segment)
    * distribution and the global one — for categorical attributes the
    * canonical t-closeness ground distance — and for each declared
    * threshold t report how many classes/rows exceed it. The trilogy
    * reads together: q173 bounds re-identification, q188 bounds
    * homogeneity, q199 bounds skew.
    *
    * Exact integers throughout: dist = ½·Σ_v |cell_v/cls − g_v/N|
    * becomes dist_ppm = (Σ_present |cell·N − g·cls| +
    * cls·(N − Σ_present g)) · 1e6 div (2·cls·N) — the second term is
    * the algebraic mass of sensitive values ABSENT from the class
    * (the q137 absent-cell discipline), so no dense (class × value)
    * grid ever materializes. BIGINT headroom: the numerator is
    * ≤ 2·cls·N·1e6, safe while cls·N ≤ 4.6e12 (e.g. a 1e9-row table
    * with classes up to 4 600 rows); beyond that the documented
    * decimal escape applies.
    *
    * Plan: ONE scan — the (QI, sensitive) cell aggregate — then
    * everything runs as windows OVER THE DOMAIN-BOUNDED CELL RELATION
    * (25 nations × ~12 bands × 5 segments): per-sens totals, the
    * empty-partition N, per-class cls, a |classes|-row rollup, and the
    * q173 finalizer fold + stack unpivot. No join node anywhere;
    * nothing after the first partial aggregate scales with rows. */
  private[graft] def tcloseFromCells(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dist = cells
      .withColumn("g", sum(col("cell")).over(Window.partitionBy("sens")))
      .withColumn("n_tot", sum(col("cell")).over(Window.partitionBy()))
      .withColumn("cls", sum(col("cell")).over(Window.partitionBy("q1", "q2")))
      .groupBy("q1", "q2")
      .agg(max(col("cls")).as("cls"), max(col("n_tot")).as("n_tot"),
        sum(abs(col("cell") * col("n_tot") - col("g") * col("cls")))
          .as("term_sum"),
        sum(col("g")).as("gpres"))
      .select(col("cls"),
        expr("(term_sum + cls * (n_tot - gpres)) * 1000000 " +
          "div (2 * cls * n_tot)").as("dist_ppm"))
    val perT = TCloseThresholds.flatMap { t =>
      Seq(sum(when(col("dist_ppm") > t, col("cls")).otherwise(0L)).as(s"r$t"),
        sum(when(col("dist_ppm") > t, 1L).otherwise(0L)).as(s"c$t"))
    }
    val stackArgs = TCloseThresholds
      .map(t => s"${t}L, r$t, c$t").mkString(", ")
    val aggs = Seq(sum(col("cls")).as("n_rows"),
      count(lit(1)).as("n_classes")) ++ perT
    dist
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${TCloseThresholds.size}, $stackArgs) " +
        "AS (t, rows_at_risk, classes_at_risk)", "n_rows", "n_classes")
      .select(col("t"), col("n_rows"), col("n_classes"),
        col("rows_at_risk"), col("classes_at_risk"),
        expr("rows_at_risk * 1000000 div n_rows").as("risk_ppm"))
  }

  val q199TCloseness: Q = (s, d) =>
    tcloseFromCells(customerCells(s, d))

  // -- q206: DP-noised histogram release + utility audit -----------------

  /** Truncated-geometric noise cap: |noise| ≤ 20 (P(exceed) < 1e-6 per
    * cell under the α=½ tail — documented truncation). */
  private val DpNoiseCap = 20L

  /** DP HISTOGRAM RELEASE — the privacy family's MECHANISM next to its
    * three audits: q173/q188/q199 decide whether a table may be
    * released; this is the release itself for the aggregate case — the
    * (source × lang) document-count histogram published with two-sided
    * geometric noise (the discrete-Laplace mechanism of Ghosh,
    * Roughgarden & Sundararajan 2009, the canonical ε-DP release for
    * counting queries; α = ½ here, i.e. ε = ln 2 per cell). Noise is
    * HASH-SEEDED (md5 of the cell key): sign = low bit, magnitude =
    * trailing-zero count of the next bits — trailing zeros of a
    * uniform integer are exactly Geometric(½), so the composite is the
    * symmetric geometric shape the mechanism calls for, truncated at
    * ±20 (tail mass < 1e-6). The frozen-parameter convention of
    * q24/q113: a production release swaps the hash bits for drawn
    * bits, and THE PLAN IS THE POINT — noise is a pure narrow
    * projection over the domain-bounded cell relation, so the release
    * costs one map-combined count at any corpus size. The audit
    * columns (true n, noise, |err| ppm) make this the mechanism's
    * utility report: a real release drops them and keeps `released`.
    *
    * Trailing-zero extraction is engine-exact integer math: h&−h
    * isolates the lowest set bit = 2^tz, so tz = length(bin(h&−h))−1
    * (the q174 floor-log2 discipline); bin(0) = "0" makes the h=0 edge
    * yield 0 in both engines. released clamps at 0 (counts are
    * nonnegative by contract — the standard post-processing step,
    * DP-safe). */
  /** The mechanism over any (source, lang, n_docs) cell relation —
    * shared verbatim with [[graft.streaming.StreamingDpRelease]], whose
    * additive cell state feeds this finalizer so the q206 oracle
    * transitively verifies the streaming release too. */
  private[graft] def dpReleaseFromCells(cells: DataFrame): DataFrame =
    cells
      .withColumn("h",
        md5Draw(concat(lit("dpnoise"), col("source"), lit("|"),
          col("lang")), 1, 12))
      .withColumn("sgn", lit(1L) - lit(2L) * (col("h") % 2))
      .withColumn("hb", expr("h div 2"))
      .withColumn("mag",
        least(expr("length(bin(hb & -hb)) - 1").cast("long"), lit(DpNoiseCap)))
      .withColumn("noise", (col("sgn") * col("mag")).cast("long"))
      .withColumn("released", greatest(col("n_docs") + col("noise"), lit(0L)))
      .select(col("source"), col("lang"), col("n_docs"), col("noise"),
        col("released"),
        expr("abs(released - n_docs) * 1000000 div n_docs").as("abs_err_ppm"))

  val q206DpRelease: Q = (s, d) =>
    dpReleaseFromCells(
      Tables.documents(s, d)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs")))

  // -- q178: classifier calibration audit (reliability table) -----------

  private val CalibBins = 10L

  /** CALIBRATION AUDIT — the reliability table that closes the
    * model-eval family: q148 tables lift, q149 collapses ranking
    * quality to AUC, this asks whether the SCORES themselves are
    * honest probabilities (the property threshold-based release gates
    * actually rely on). Scorer/label pair is the family's convention
    * (score: doc length rank; label: lang='en'): predicted probability
    * = the doc's within-source rank percentile (ppm), binned into 10
    * equal-count bins by the explicit integer formula
    * (rn−1)·10 div n + 1 (NOT ntile — identical assignment in both
    * engines by construction); per (source, bin): n, mean predicted
    * ppm, actual positive rate ppm, |gap| ppm. Σ n_b·gap_b/N is the
    * expected calibration error, derivable row-wise.
    *
    * Scale: windows are PER SOURCE (the q149 declared per-group window
    * limit); everything after the rank window is a map-combined
    * aggregate to |sources|·10 rows, all integer math. */
  val q178CalibrationAudit: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    val wN = Window.partitionBy("source")
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("n_src", count(lit(1)).over(wN))
      .withColumn("pred_ppm", // greatest(...,1): a 1-doc source would
        // zero the divisor (Spark div → NULL, DuckDB // → error); the
        // guard keeps both engines defined AND identical (pred 0 there)
        expr("(rn - 1) * 1000000 div greatest(n_src - 1, 1)"))
      .withColumn("bin", expr(s"(rn - 1) * $CalibBins div n_src + 1"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n"),
        sum(col("pred_ppm")).as("sum_pred"),
        sum(col("pos")).as("n_pos"))
      .select(col("source"), col("bin"), col("n"),
        expr("sum_pred div n").as("mean_pred_ppm"),
        expr("n_pos * 1000000 div n").as("pos_ppm"),
        abs(expr("sum_pred div n") - expr("n_pos * 1000000 div n"))
          .as("gap_ppm"))
  }

  // -- q221: Bloom-filter decontamination precheck -----------------------

  private val BloomBits = 65536L // m — the WHOLE filter is one 8 KiB bitset
  /** k — exposed to [[graft.streaming.StreamingBloom]] so the probe's
    * all-k-bits-present test can never disagree with the filter on the
    * hash count (a hardcoded 4 in the twin would silently
    * void the no-false-negative guarantee if k ever changed here). */
  private[graft] val BloomHashes = 4

  /** BLOOM-FILTER MEMBERSHIP SKETCH — the fourth from-first-principles
    * sketch, completing the family: q129's HLL answers "how many
    * distinct", q169's Misra–Gries "which are frequent", q215's
    * count-min "how frequent is THIS one", and Bloom answers the
    * remaining primitive — "have we SEEN this one" — in bounded
    * memory: m = 65536 bits is the whole state at any corpus size,
    * filters merge by OR (the distinct-bit union here — the mergeable
    * property), and a hit is ONE-SIDED: a true member can never miss
    * (spec-pinned), only non-members can false-positive. Bloom 1970.
    *
    * Framed as the operator the pipeline actually runs: the
    * DECONTAMINATION PRECHECK. Insert the train split's distinct
    * tokens; probe the test split's — a Bloom hit is "possibly in
    * train, run the exact q47-style check", a miss is a guaranteed
    * skip. The audit joins the exact membership leg (the verification
    * — production keeps the filter and drops this leg) to report the
    * measured false-positive rate next to the fill-derived estimate
    * (bits_set/m)^k — both in exact integer ppm, staged squarings so
    * DuckDB truncates identically.
    *
    * Deterministic by construction (md5 bit hashes, the q215 row-hash
    * convention) ⇒ the oracle rebuilds the identical bitset and the
    * gate is bit-for-bit. Plan: one distinct (split, token) pass
    * (SharedCache'd — vocabulary, not corpus, sized); the filter is a
    * ≤m-row distinct of exploded bit coordinates; the probe leg joins
    * 4 bit rows per probe token against the BROADCAST filter; the
    * exact leg is one token-keyed left join. Everything after the
    * vocab distinct is bounded by |vocab| or m, never corpus volume. */
  /** The k bit coordinates of a token — shared verbatim with
    * [[graft.streaming.StreamingBloom]] so the maintained bitset is
    * the batch bitset and the q221 oracle transitively gates the
    * streaming membership answers. */
  private[graft] def bloomBitArr(t: Column): Column =
    array((0 until BloomHashes).map(j =>
      md5Draw(concat(lit(s"bloom$j|"), t), 1, 12) % BloomBits): _*)

  val q221BloomPrecheck: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(splitOf(splitBucket(col("doc_id"))).as("split"),
        explode(tokens(col("text"))).as("t"))
      .distinct()
      .transform(graft.ops.SharedCache.persist)
    val train = vocab.filter(col("split") === "train").select(col("t"))
    val test = vocab.filter(col("split") === "test").select(col("t"))
    val bloom = train.select(explode(bloomBitArr(col("t"))).as("bit"))
      .distinct()
      .transform(graft.ops.SharedCache.persist)
    val inserted = train.agg(count(lit(1)).as("n_inserted"))
    val bitsSet = bloom.agg(count(lit(1)).as("bits_set"))
    // per probe token: all-4-bits-present hit flag (rows per j, NOT
    // distinct bits — two colliding hashes still contribute two rows,
    // mirrored by the oracle) + the exact-membership flag
    val hits = test
      .select(col("t"), explode(bloomBitArr(col("t"))).as("bit"))
      .join(broadcast(bloom.withColumn("present", lit(1L))), Seq("bit"), "left")
      .groupBy("t")
      .agg((sum(coalesce(col("present"), lit(0L))) === BloomHashes)
        .cast("long").as("hit"))
    val probe = hits
      .join(train.withColumn("member", lit(1L)), Seq("t"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(coalesce(col("member"), lit(0L))).as("n_members"),
        sum(col("hit")).as("n_hits"),
        sum(when(col("hit") === 1 && col("member").isNull, 1L).otherwise(0L))
          .as("n_false_pos"))
    // join-free scalar combine: a literal-key equi-join would constant-
    // fold into the BroadcastNestedLoopJoin the plan gate bans — union
    // the three 1-row legs (missing columns null) and max-fold instead
    probe
      .unionByName(inserted, allowMissingColumns = true)
      .unionByName(bitsSet, allowMissingColumns = true)
      .agg(max(col("n_probes")).as("n_probes"),
        max(col("n_members")).as("n_members"),
        max(col("n_hits")).as("n_hits"),
        max(col("n_false_pos")).as("n_false_pos"),
        max(col("n_inserted")).as("n_inserted"),
        max(col("bits_set")).as("bits_set"))
      .withColumn("fill_ppm", expr(s"bits_set * 1000000 div $BloomBits"))
      .withColumn("est_fpr_ppm",
        expr("(fill_ppm * fill_ppm div 1000000) * (fill_ppm * fill_ppm div 1000000) div 1000000"))
      .select(col("n_inserted"), col("bits_set"), col("fill_ppm"),
        col("n_probes"), col("n_members"), col("n_hits"), col("n_false_pos"),
        expr("n_false_pos * 1000000 div greatest(n_probes - n_members, 1)")
          .as("fpr_ppm"),
        col("est_fpr_ppm"))
  }

  // -- q222: AMS F2 self-join-size sketch ---------------------------------

  private val AmsEstimators = 16 // 4 groups × 4 — median-of-means
  private val AmsGroups = 4

  /** AMS TUG-OF-WAR SKETCH — the second frequency-moment estimator
    * beside the sketches above: F2 = Σ_t f_t² is the SELF-JOIN SIZE of
    * the token relation, the number a cost-based planner needs before
    * picking a join strategy, and AMS estimates it in O(1) memory
    * (Alon–Matias–Szegedy 1996): each estimator keeps one counter
    * X_i = Σ_t f_t·s_i(t) with four-wise-ish md5 signs s_i(t) = ±1;
    * E[X²] = F2, and median-of-means over 4 groups of 4 tames the
    * variance. Counters merge by + (mergeable, like every sketch in
    * the family), so 1000 executors each fold their partition and the
    * driver never sees more than 16 longs.
    *
    * Integer contract: signs are exactly ±1, X_i is an exact BIGINT
    * (|X| ≤ corpus tokens ≤ 2^27 here, X² < 2^54), group mean =
    * ⌊Σ/4⌋, median-of-4 = ⌊(m₂+m₃)/2⌋ over the rank-ordered means —
    * every step truncating integer math DuckDB restates bit-for-bit.
    * The exact F2 leg (one vocab-sized aggregate) is the verification;
    * production keeps the 16 counters and drops it.
    *
    * Plan: ONE token pass → 16-fold in-row (estimator, sign)
    * expansion → map-combined sum to 16 rows (the shuffle carries 16
    * longs per partition); everything downstream is windows over a
    * 16-row relation. The exact leg is one (token → count → Σn²)
    * two-level aggregate. */
  /** The 16 tug-of-war counter partials (i, x) of a token batch —
    * X_i = Σ_t s_i(t) over the batch's tokens. Shared verbatim with
    * [[graft.streaming.StreamingAmsF2]]: counters merge by `+`, so
    * the twin's chunk-fold is bit-equal to these partials over the
    * same rows and the q222 oracle transitively gates the streaming
    * F2 estimates. */
  private[graft] def amsCounterPartials(toks: DataFrame): DataFrame = {
    val sign = (i: Int) =>
      (md5Draw(concat(lit(s"ams$i|"), col("t")), 1, 12) % 2) * 2 - 1
    toks
      .select(explode(array((0 until AmsEstimators).map(i =>
        struct(lit(i.toLong).as("i"), sign(i).as("sg"))): _*)).as("e"))
      .groupBy(col("e.i").as("i"))
      .agg(sum(col("e.sg")).as("x"))
  }

  /** The q222 estimate tail over a 16-counter relation (i, x):
    * median-of-4-means of X², plus the min/max estimator spread —
    * shared with [[graft.streaming.StreamingAmsF2.estimateF2]] so the
    * streaming answer is the batch arithmetic over the maintained
    * counters. */
  private[graft] def amsEstimate(counters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ests = counters.withColumn("est", col("x") * col("x"))
    val means = ests
      .groupBy(expr(s"i div ${AmsEstimators / AmsGroups}").as("g"))
      .agg(expr(s"sum(est) div ${AmsEstimators / AmsGroups}").as("mean_est"))
    val medianOfMeans = means
      .withColumn("rn", row_number().over(Window.orderBy(col("mean_est"), col("g"))))
      .filter(col("rn") === 2 || col("rn") === 3)
      .agg(expr("sum(mean_est) div 2").as("est_f2"))
    val spread = ests
      .agg(min(col("est")).as("est_min"), max(col("est")).as("est_max"))
    medianOfMeans
      .unionByName(spread, allowMissingColumns = true)
      .agg(max(col("est_f2")).as("est_f2"),
        max(col("est_min")).as("est_min"), max(col("est_max")).as("est_max"))
  }

  val q222AmsF2: Q = (s, d) => {
    val toks = cmsTokens(Tables.documents(s, d))
      .transform(graft.ops.SharedCache.persist)
    // the estimate tail rides the SHARED helper (amsEstimate) so the
    // streaming twin's answer is this exact code path
    val estRow = amsEstimate(
      amsCounterPartials(toks).transform(graft.ops.SharedCache.persist))
    val exact = toks.groupBy("t").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("true_f2"))
    // join-free scalar combine (see q221): union the 1-row legs and
    // max-fold — a literal-key join would plan as a nested loop
    exact
      .unionByName(estRow, allowMissingColumns = true)
      .agg(max(col("true_f2")).as("true_f2"), max(col("est_f2")).as("est_f2"),
        max(col("est_min")).as("est_min"), max(col("est_max")).as("est_max"))
      .select(col("true_f2"), col("est_f2"),
        expr("abs(est_f2 - true_f2) * 1000000 div greatest(true_f2, 1)")
          .as("err_ppm"),
        col("est_min"), col("est_max"))
  }

  // -- q233: HLL cumulative adoption curve ----------------------------------

  /** MERGEABLE-SKETCH ADOPTION CURVE — q186 computes the exact
    * cumulative-distinct-users-per-day curve; THIS is how the same
    * curve is served at 100 TB: per-day HLL registers (q129's m = 16
    * estimator, verbatim constants) merged FORWARD with a running
    * per-bucket MAX — the property that registers merge by max is
    * exactly why HLL answers "distinct so far" without ever
    * re-scanning history; day N's estimate reads 16 registers, not N
    * days of events. The exact cumulative leg (q186's min-first-day
    * discipline) is the verification column, with per-day error —
    * production keeps the registers and drops it.
    *
    * Plan: one map-combined (day, bucket) register pass; the dense
    * day×16 grid comes from an IN-ROW sequence explode on the
    * |days|-row spine (no cross join); running max + harmonic fold
    * run on |days|·16 rows. The exact leg is one map-combined MIN-day
    * per user + a running count over the spine. */
  val q233HllAdoption: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val regs = hllRegisters(ev, "day")
    val spine = ev.select(col("day")).distinct()
      .select(col("day"), explode(sequence(lit(0L), lit(15L))).as("bucket"))
    val wcum = Window.partitionBy("bucket").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val est = spine.join(regs, Seq("day", "bucket"), "left")
      .withColumn("rc", max(col("r")).over(wcum)) // max skips nulls
      .groupBy("day")
      .agg(sum(when(col("rc").isNull, lit(1L << 45))
        .otherwise(expr("shiftleft(1L, cast(45 - rc as int))"))).as("s45"))
      .select(col("day"), expr(s"${HllAlphaNumerator}L div s45").as("est_cum_users"))
    val wday = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = graft.Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
      .withColumn("n_cum_users", sum(col("n_new")).over(wday))
      .select(col("day"), col("n_cum_users"))
    // left join from the full spine: a day with no NEW users still has
    // the previous cumulative — carry it forward with a running max
    est.join(exact, Seq("day"), "left")
      .withColumn("n_cum_users",
        max(col("n_cum_users")).over(wday))
      .select(col("day"), col("est_cum_users"), col("n_cum_users"),
        expr("abs(est_cum_users - n_cum_users) * 100 div n_cum_users")
          .as("err_pct"))
  }

  // -- q234: token frequency spectrum (doubling buckets) ---------------------

  /** FREQUENCY SPECTRUM — the distribution-SHAPE profile behind vocab
    * sizing and BPE budgets: q190 reads the head (top-k coverage),
    * this reads the whole curve by doubling bucket b = ⌊log2 f⌋ (the
    * exact integer identity length(bin(f)) − 1): per bucket, type and
    * token counts with corpus shares, plus the geometric decay ratio
    * n_types(b)/n_types(b−1) in e3 — Zipf with exponent ≈ 1 halves
    * type counts per doubling, so a decay far from ~500 flags a
    * non-power-law corpus (template spam inflates one bucket;
    * over-deduped corpora empty the tail). All exact integer math.
    *
    * Plan: one token pass → vocab-sized (token, f) map-combined
    * aggregate → ≤64-bucket rollup; windows (shares, lag decay) run on
    * the bucket relation only. */
  val q234FreqSpectrum: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val buckets = cmsTokens(Tables.documents(s, d))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .select((length(bin(col("f"))) - 1).cast("long").as("b"), col("f"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_types"), sum(col("f")).as("n_tokens"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    buckets
      .withColumn("tot_types", sum(col("n_types")).over(wAll))
      .withColumn("tot_tokens", sum(col("n_tokens")).over(wAll))
      .withColumn("prev_types",
        lag(col("n_types"), 1).over(Window.orderBy("b")))
      .select(col("b"), expr("shiftleft(1L, cast(b as int))").as("lo_freq"),
        col("n_types"), col("n_tokens"),
        expr("n_types * 1000000 div tot_types").as("types_share_ppm"),
        expr("n_tokens * 1000000 div tot_tokens").as("tokens_share_ppm"),
        expr("CASE WHEN prev_types IS NULL THEN NULL ELSE n_types * 1000 div prev_types END")
          .as("decay_e3"))
  }

  // -- q229: quality-gate agreement (Cohen's kappa) ------------------------

  /** GATE-AGREEMENT AUDIT — the corpus runs TWO quality filters (q22's
    * rule-based `is_quality` heuristic and q113's model-based `keep`
    * classifier), and this asks the inter-annotator question: do they
    * agree beyond chance? Cohen's kappa over the 2×2 contingency —
    * observed agreement po against chance agreement pe from the
    * marginals — is the number that distinguishes "both gates pass 90%
    * so they agree 81% by luck" from real signal overlap; a kappa near
    * 0 means the two gates encode INDEPENDENT judgments (run both), a
    * kappa near 1 means one is redundant (drop the expensive one).
    *
    * Integer contract: cells are exact counts; po/pe in truncating
    * ppm (pe's two marginal products each pre-divided by n — mirrored
    * exactly); kappa is SIGNED, so the division is wrapped in an
    * explicit toward-zero CASE — Spark's `div` truncates toward zero
    * while DuckDB's `//` floors, and they only agree on non-negative
    * operands (the README div contract), so both engines compute
    * |num|·1e6 div den and re-apply the sign.
    *
    * Plan: the two gate relations are narrow maps over the scan (q113
    * is zero-shuffle by design; q22 is a projection), one doc-keyed
    * join, ONE map-combined aggregate to a single row. */
  val q229GateAgreement: Q = (s, d) => {
    val ruleGate = LlmPipeline.q22TextStats(s, d)
      .select(col("doc_id"), col("is_quality").cast("long").as("a"))
    val modelGate = Curation.q113QualityClassifier(s, d)
      .select(col("doc_id"), col("keep").cast("long").as("b"))
    ruleGate.join(modelGate, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n10"),
        sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n01"),
        sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L)).as("n00"))
      .withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n"))
      .withColumn("pe_ppm", expr(
        "((n11 + n10) * (n11 + n01) div n + (n01 + n00) * (n10 + n00) div n) * 1000000 div n"))
      .withColumn("kappa_e6", expr(
        """CASE WHEN po_ppm >= pe_ppm
          |  THEN (po_ppm - pe_ppm) * 1000000 div greatest(1000000 - pe_ppm, 1)
          |  ELSE -((pe_ppm - po_ppm) * 1000000 div greatest(1000000 - pe_ppm, 1))
          |END""".stripMargin))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        col("po_ppm"), col("pe_ppm"), col("kappa_e6"))
  }

  val defs: Map[String, Q] = Map(
    "q229_gate_agreement" -> q229GateAgreement,
    "q233_hll_adoption" -> q233HllAdoption,
    "q234_freq_spectrum" -> q234FreqSpectrum,
    "q221_bloom_precheck" -> q221BloomPrecheck,
    "q222_ams_f2" -> q222AmsF2,
    "q206_dp_release" -> q206DpRelease,
    "q213_split_drift" -> q213SplitDrift,
    "q215_count_min" -> q215CountMinSketch,
    "q199_t_closeness" -> q199TCloseness,
    "q188_l_diversity" -> q188LDiversity,
    "q173_k_anonymity" -> q173KAnonymity,
    "q178_calibration_audit" -> q178CalibrationAudit,
    "q164_merkle_fingerprint" -> q164MerkleFingerprint,
    "q166_merkle_repair" -> q166MerkleRepair,
    "q167_fd_check" -> q167FdCheck,
    "q170_ri_check" -> q170RiCheck,
    "q148_decile_lift" -> q148DecileLift,
    "q149_exact_auc" -> q149ExactAuc,
    "q249_average_precision" -> q249AveragePrecision,
    "q140_quantile_normalize" -> q140QuantileNormalize,
    "q137_chisq_independence" -> q137ChisqIndependence,
    "q129_hll_distinct" -> q129HllDistinct,
    "q41_profile_sketch" -> q41ProfileSketch,
    "q118_source_drift" -> q118SourceDrift,
    "q111_embedding_dim_profile" -> q111EmbeddingDimProfile,
    "q120_embedding_bins" -> q120EmbeddingBins,
    "q42_train_test_split" -> q42TrainTestSplit,
    "q76_length_histogram" -> q76LengthHistogram,
    "q87_key_skew_profile" -> q87KeySkewProfile,
    "q97_equidepth_hist" -> q97EquiDepthHist,
    "q98_expectations" -> q98Expectations,
    "q99_incremental_rollup" -> q99IncrementalRollup)

  val oracles: Map[String, String] = Map(
    // Same tokenizer, same length(bin(f))−1 doubling bucket, same
    // window shares and lag decay.
    "q234_freq_spectrum" ->
      s"""WITH tok AS (
         |  SELECT u.t AS t
         |  FROM (SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |        FROM documents), LATERAL unnest(tk) u(t)
         |), f AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t
         |), bk AS (
         |  SELECT CAST(length(bin(f)) - 1 AS BIGINT) AS b,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(f) AS BIGINT) AS n_tokens
         |  FROM f GROUP BY 1
         |), t AS (
         |  SELECT CAST(sum(n_types) AS BIGINT) AS tt,
         |    CAST(sum(n_tokens) AS BIGINT) AS tk FROM bk
         |)
         |SELECT b, (CAST(1 AS BIGINT) << CAST(b AS INT)) AS lo_freq,
         |  n_types, n_tokens,
         |  n_types * 1000000 // t.tt AS types_share_ppm,
         |  n_tokens * 1000000 // t.tk AS tokens_share_ppm,
         |  CASE WHEN lag(n_types) OVER (ORDER BY b) IS NULL THEN NULL
         |       ELSE n_types * 1000 // lag(n_types) OVER (ORDER BY b) END AS decay_e3
         |FROM bk, t""".stripMargin,
    // q129's register construction verbatim, the same dense day×16
    // grid, running per-bucket max (window max skips nulls in both
    // engines), harmonic fold, and q186's exact cumulative leg.
    "q233_hll_adoption" ->
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |    CAST('0x' || substr(md5('hll' || CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS h48
         |  FROM events
         |), regs AS (
         |  SELECT day, h48 // ${1L << 44} AS bucket,
         |    CAST(max(CASE WHEN h48 % ${1L << 44} = 0 THEN 45
         |             ELSE 45 - length(bin(h48 % ${1L << 44})) END) AS BIGINT) AS r
         |  FROM ev GROUP BY 1, 2
         |), spine AS (
         |  SELECT day, j.b AS bucket
         |  FROM (SELECT DISTINCT day FROM ev), (SELECT unnest(range(16)) AS b) j
         |), cum AS (
         |  SELECT s.day, s.bucket,
         |    max(r.r) OVER (PARTITION BY s.bucket ORDER BY s.day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
         |  FROM spine s LEFT JOIN regs r ON r.day = s.day AND r.bucket = s.bucket
         |), est AS (
         |  SELECT day,
         |    ${HllAlphaNumerator} // CAST(sum(CASE WHEN rc IS NULL THEN ${1L << 45}
         |      ELSE (CAST(1 AS BIGINT) << CAST(45 - rc AS INT)) END) AS BIGINT) AS est_cum_users
         |  FROM cum GROUP BY 1
         |), firstday AS (
         |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
         |), newu AS (
         |  SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM firstday GROUP BY 1
         |), ex AS (
         |  SELECT day, CAST(sum(n_new) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum_users
         |  FROM newu
         |), joined AS (
         |  SELECT e.day, e.est_cum_users,
         |    max(x.n_cum_users) OVER (ORDER BY e.day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cum_users
         |  FROM est e LEFT JOIN ex x ON x.day = e.day
         |)
         |SELECT day, est_cum_users, CAST(n_cum_users AS BIGINT) AS n_cum_users,
         |  abs(est_cum_users - n_cum_users) * 100 // n_cum_users AS err_pct
         |FROM joined""".stripMargin,
    // q22's is_quality and q113's keep restated, same 2x2 cells,
    // same truncating po/pe ppm and the signed toward-zero kappa CASE.
    "q229_gate_agreement" ->
      s"""WITH tq AS (
         |  SELECT doc_id,
         |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
         |  FROM documents
         |), rule AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 5 AND n_chars <= 10000 AND n_punct * 10 <= n_chars
         |      THEN 1 ELSE 0 END AS a
         |  FROM tq
         |), tok AS (
         |  SELECT doc_id,
         |    (CAST('0x' || substr(md5(u.t), 1, 2) AS BIGINT) * 2654435761) % 2001 AS wshift
         |  FROM tq, LATERAL unnest(tk) u(t)
         |), model AS (
         |  SELECT doc_id,
         |    CASE WHEN (CAST(sum(wshift) AS BIGINT) * 1000 // count(*)) > 1000000
         |      THEN 1 ELSE 0 END AS b
         |  FROM tok GROUP BY doc_id
         |), cells AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
         |  FROM rule JOIN model USING (doc_id)
         |), pp AS (
         |  SELECT *, (n11 + n00) * 1000000 // n AS po_ppm,
         |    ((n11 + n10) * (n11 + n01) // n + (n01 + n00) * (n10 + n00) // n) * 1000000 // n AS pe_ppm
         |  FROM cells
         |)
         |SELECT n, n11, n10, n01, n00, po_ppm, pe_ppm,
         |  CASE WHEN po_ppm >= pe_ppm
         |    THEN (po_ppm - pe_ppm) * 1000000 // greatest(1000000 - pe_ppm, 1)
         |    ELSE -((pe_ppm - po_ppm) * 1000000 // greatest(1000000 - pe_ppm, 1))
         |  END AS kappa_e6
         |FROM pp""".stripMargin,
    // Same md5 bit hashes → the identical 65536-bit filter; same
    // per-j probe rows (duplicate bits still contribute rows), same
    // exact-membership leg, same staged squarings — bit-for-bit like
    // q129/q215.
    "q221_bloom_precheck" ->
      s"""WITH dt AS (
         |  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 < 8 THEN 'train'
         |              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS split,
         |         u.t AS t
         |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |        FROM documents), LATERAL unnest(tk) u(t)
         |), vocab AS (SELECT DISTINCT split, t FROM dt
         |), train AS (SELECT t FROM vocab WHERE split = 'train'
         |), test AS (SELECT t FROM vocab WHERE split = 'test'
         |), bloom AS (
         |  SELECT DISTINCT CAST('0x' || substr(md5('bloom' || CAST(j.j AS VARCHAR) || '|' || t), 1, 12) AS BIGINT) % $BloomBits AS bit
         |  FROM train, (SELECT unnest([0, 1, 2, 3]) AS j) j
         |), ins AS (SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM train
         |), bs AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bloom
         |), pb AS (
         |  SELECT t, CAST('0x' || substr(md5('bloom' || CAST(j.j AS VARCHAR) || '|' || t), 1, 12) AS BIGINT) % $BloomBits AS bit
         |  FROM test, (SELECT unnest([0, 1, 2, 3]) AS j) j
         |), hits AS (
         |  SELECT p.t, CASE WHEN count(b.bit) = $BloomHashes THEN 1 ELSE 0 END AS hit
         |  FROM pb p LEFT JOIN bloom b USING (bit) GROUP BY p.t
         |), mem AS (
         |  SELECT h.t, h.hit, CASE WHEN tr.t IS NULL THEN 0 ELSE 1 END AS member
         |  FROM hits h LEFT JOIN train tr ON tr.t = h.t
         |), pr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_probes,
         |         CAST(sum(member) AS BIGINT) AS n_members,
         |         CAST(sum(hit) AS BIGINT) AS n_hits,
         |         CAST(sum(CASE WHEN hit = 1 AND member = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
         |  FROM mem
         |), f AS (SELECT bits_set * 1000000 // $BloomBits AS fill_ppm FROM bs)
         |SELECT i.n_inserted, b.bits_set, f.fill_ppm,
         |  p.n_probes, p.n_members, p.n_hits, p.n_false_pos,
         |  p.n_false_pos * 1000000 // greatest(p.n_probes - p.n_members, 1) AS fpr_ppm,
         |  (f.fill_ppm * f.fill_ppm // 1000000) * (f.fill_ppm * f.fill_ppm // 1000000) // 1000000 AS est_fpr_ppm
         |FROM ins i, bs b, f, pr p""".stripMargin,
    // Same md5 sign hashes → the identical 16 counters; same group
    // means, same rank-ordered median-of-4, same exact-F2 leg.
    "q222_ams_f2" ->
      s"""WITH tok AS (
         |  SELECT u.t AS t
         |  FROM (SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |        FROM documents), LATERAL unnest(tk) u(t)
         |), x AS (
         |  SELECT j.i AS i,
         |    CAST(sum((CAST('0x' || substr(md5('ams' || CAST(j.i AS VARCHAR) || '|' || t), 1, 12) AS BIGINT) % 2) * 2 - 1) AS BIGINT) AS x
         |  FROM tok, (SELECT unnest(range($AmsEstimators)) AS i) j
         |  GROUP BY 1
         |), est AS (SELECT i, x * x AS est FROM x
         |), means AS (
         |  SELECT i // ${AmsEstimators / AmsGroups} AS g,
         |    CAST(sum(est) // ${AmsEstimators / AmsGroups} AS BIGINT) AS mean_est
         |  FROM est GROUP BY 1
         |), med AS (
         |  SELECT CAST(sum(mean_est) // 2 AS BIGINT) AS est_f2 FROM (
         |    SELECT mean_est, row_number() OVER (ORDER BY mean_est, g) AS rn FROM means)
         |  WHERE rn IN (2, 3)
         |), spread AS (
         |  SELECT CAST(min(est) AS BIGINT) AS est_min, CAST(max(est) AS BIGINT) AS est_max FROM est
         |), tf AS (
         |  SELECT CAST(sum(n * n) AS BIGINT) AS true_f2
         |  FROM (SELECT count(*) AS n FROM tok GROUP BY t))
         |SELECT t.true_f2, m.est_f2,
         |  abs(m.est_f2 - t.true_f2) * 1000000 // greatest(t.true_f2, 1) AS err_ppm,
         |  s.est_min, s.est_max
         |FROM tf t, med m, spread s""".stripMargin,
    // Same cell hash, same sign/trailing-zero decomposition, same cap
    // and clamp — the mechanism is deterministic, so both engines must
    // agree bit-for-bit on every released count.
    "q206_dp_release" ->
      s"""WITH cells AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1, 2
         |), nz AS (
         |  SELECT source, lang, n_docs,
         |    CAST('0x' || substr(md5('dpnoise' || source || '|' || lang), 1, 12)
         |      AS BIGINT) AS h
         |  FROM cells
         |), m AS (
         |  SELECT source, lang, n_docs,
         |    CAST((1 - 2 * (h % 2)) *
         |      least(length(bin((h // 2) & -(h // 2))) - 1, 20) AS BIGINT)
         |      AS noise
         |  FROM nz
         |)
         |SELECT source, lang, n_docs, noise,
         |  CAST(greatest(n_docs + noise, 0) AS BIGINT) AS released,
         |  abs(greatest(n_docs + noise, 0) - n_docs) * 1000000 // n_docs
         |    AS abs_err_ppm
         |FROM m""".stripMargin,
    // Same QI tuple (nation, segment, 1000-band of acctbal), same
    // conditional sums per threshold; the UNION ALL restates the
    // engine's stack unpivot.
    // Same (QI, segment) cell relation, same class rollup, same
    // threshold folds and truncating ppm.
    "q188_l_diversity" -> {
      val perL = LDivThresholds.map { l =>
        s"""SELECT CAST($l AS BIGINT) AS l,
           |  CAST(coalesce(sum(CASE WHEN div < $l THEN cls ELSE 0 END), 0)
           |    AS BIGINT) AS rows_at_risk,
           |  CAST(coalesce(sum(CASE WHEN div < $l THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS classes_at_risk
           |FROM classes""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH cells AS (
         |  SELECT c_nationkey,
         |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         |    c_mktsegment, count(*) AS cell
         |  FROM customer GROUP BY 1, 2, 3
         |), classes AS (
         |  SELECT c_nationkey, bal_band,
         |    CAST(sum(cell) AS BIGINT) AS cls,
         |    CAST(count(*) AS BIGINT) AS div
         |  FROM cells GROUP BY 1, 2
         |), tot AS (
         |  SELECT CAST(sum(cls) AS BIGINT) AS n_rows,
         |    CAST(count(*) AS BIGINT) AS n_classes
         |  FROM classes
         |)
         |SELECT l, n_rows, n_classes, rows_at_risk, classes_at_risk,
         |  rows_at_risk * 1000000 // n_rows AS risk_ppm
         |FROM ($perL), tot""".stripMargin
    },
    // Same (QI, segment) cells, same three windows over the cell
    // relation, same exact |cell·N − g·cls| + absent-mass identity and
    // truncating ppm divisions.
    "q199_t_closeness" -> {
      val perT = TCloseThresholds.map { t =>
        s"""SELECT CAST($t AS BIGINT) AS t,
           |  CAST(coalesce(sum(CASE WHEN dist_ppm > $t THEN cls ELSE 0 END), 0)
           |    AS BIGINT) AS rows_at_risk,
           |  CAST(coalesce(sum(CASE WHEN dist_ppm > $t THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS classes_at_risk
           |FROM dist""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH cells AS (
         |  SELECT c_nationkey AS q1,
         |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS q2,
         |    c_mktsegment AS sens, CAST(count(*) AS BIGINT) AS cell
         |  FROM customer GROUP BY 1, 2, 3
         |), enr AS (
         |  SELECT q1, q2, cell,
         |    CAST(sum(cell) OVER (PARTITION BY sens) AS BIGINT) AS g,
         |    CAST(sum(cell) OVER () AS BIGINT) AS n_tot,
         |    CAST(sum(cell) OVER (PARTITION BY q1, q2) AS BIGINT) AS cls
         |  FROM cells
         |), dist AS (
         |  SELECT max(cls) AS cls,
         |    (CAST(sum(abs(cell * n_tot - g * cls)) AS BIGINT)
         |      + max(cls) * (max(n_tot) - CAST(sum(g) AS BIGINT)))
         |      * 1000000 // (2 * max(cls) * max(n_tot)) AS dist_ppm
         |  FROM enr GROUP BY q1, q2
         |), tot AS (
         |  SELECT CAST(sum(cls) AS BIGINT) AS n_rows,
         |    CAST(count(*) AS BIGINT) AS n_classes
         |  FROM dist
         |)
         |SELECT t, n_rows, n_classes, rows_at_risk, classes_at_risk,
         |  rows_at_risk * 1000000 // n_rows AS risk_ppm
         |FROM ($perT), tot""".stripMargin
    },
    "q173_k_anonymity" -> {
      val perK = KAnonThresholds.map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  CAST(coalesce(sum(CASE WHEN cls < $k THEN cls ELSE 0 END), 0)
           |    AS BIGINT) AS rows_at_risk,
           |  CAST(coalesce(sum(CASE WHEN cls < $k THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS classes_at_risk
           |FROM sizes""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sizes AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         |    count(*) AS cls
         |  FROM customer GROUP BY 1, 2, 3
         |), tot AS (
         |  SELECT CAST(sum(cls) AS BIGINT) AS n_rows,
         |    CAST(count(*) AS BIGINT) AS n_classes
         |  FROM sizes
         |)
         |SELECT k, n_rows, n_classes, rows_at_risk, classes_at_risk,
         |  rows_at_risk * 1000000 // n_rows AS risk_ppm
         |FROM ($perK), tot""".stripMargin
    },
    // Same (n_chars, doc_id) total order, same explicit integer bin
    // formula, same truncating ppm means.
    "q178_calibration_audit" ->
      s"""WITH ranked AS (
         |  SELECT source,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
         |  FROM documents
         |), binned AS (
         |  SELECT source, pos,
         |    (rn - 1) * 1000000 // greatest(n_src - 1, 1) AS pred_ppm,
         |    (rn - 1) * $CalibBins // n_src + 1 AS bin
         |  FROM ranked
         |)
         |SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(pred_ppm) // count(*) AS BIGINT) AS mean_pred_ppm,
         |  CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS pos_ppm,
         |  CAST(abs(sum(pred_ppm) // count(*)
         |    - sum(pos) * 1000000 // count(*)) AS BIGINT) AS gap_ppm
         |FROM binned GROUP BY 1, 2""".stripMargin,
    // Same canonical row rendering ('|'-joined, integer cents,
    // explicit date format), same 48-bit '0x' hex cast, same XOR fold.
    "q164_merkle_fingerprint" ->
      s"""WITH r AS (
         |  SELECT o_orderkey % $MerkleBuckets AS bucket,
         |    CAST('0x' || substr(md5(concat_ws('|',
         |      o_orderkey, o_custkey, o_orderstatus,
         |      CAST(round(o_totalprice * 100, 0) AS BIGINT),
         |      strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d'))), 1, 12)
         |      AS BIGINT) AS h48
         |  FROM orders
         |), leaves AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(bit_xor(h48) AS BIGINT) AS fp
         |  FROM r GROUP BY 1
         |)
         |SELECT bucket, n_rows, fp, CAST(1 AS BIGINT) AS level FROM leaves
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(sum(n_rows) AS BIGINT),
         |  CAST(bit_xor(fp) AS BIGINT), CAST(0 AS BIGINT)
         |FROM leaves""".stripMargin,
    // Same replica derivation (two stages so the key rewrite can't
    // shadow the update predicate), same canonical digest, same
    // leaf-compare → bucket-pruned full-join repair.
    "q166_merkle_repair" ->
      s"""WITH replica0 AS (
         |  SELECT o_orderkey AS k0, o_custkey, o_orderstatus,
         |    CASE WHEN o_orderkey % $RepairMod = $RepairUpdKey
         |      THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         |    o_orderdate
         |  FROM orders WHERE o_orderkey % $RepairMod <> $RepairDelKey
         |), replica AS (
         |  SELECT CASE WHEN k0 % $RepairMod = $RepairMoveKey
         |      THEN k0 + $RepairMoveDelta ELSE k0 END AS o_orderkey,
         |    o_custkey, o_orderstatus, o_totalprice, o_orderdate
         |  FROM replica0
         |), rb AS (
         |  SELECT o_orderkey % $MerkleBuckets AS bucket, o_orderkey,
         |    CAST('0x' || substr(md5(concat_ws('|',
         |      o_orderkey, o_custkey, o_orderstatus,
         |      CAST(round(o_totalprice * 100, 0) AS BIGINT),
         |      strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d'))), 1, 12)
         |      AS BIGINT) AS h48
         |  FROM orders
         |), rr AS (
         |  SELECT o_orderkey % $MerkleBuckets AS bucket, o_orderkey,
         |    CAST('0x' || substr(md5(concat_ws('|',
         |      o_orderkey, o_custkey, o_orderstatus,
         |      CAST(round(o_totalprice * 100, 0) AS BIGINT),
         |      strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d'))), 1, 12)
         |      AS BIGINT) AS h48
         |  FROM replica
         |), lb AS (
         |  SELECT bucket, count(*) AS n, bit_xor(h48) AS fp FROM rb GROUP BY 1
         |), lr AS (
         |  SELECT bucket, count(*) AS n, bit_xor(h48) AS fp FROM rr GROUP BY 1
         |), db AS (
         |  SELECT coalesce(lb.bucket, lr.bucket) AS bucket
         |  FROM lb FULL JOIN lr ON lb.bucket = lr.bucket
         |  WHERE lb.bucket IS NULL OR lr.bucket IS NULL
         |     OR lb.n <> lr.n OR lb.fp <> lr.fp
         |), fb AS (SELECT rb.* FROM rb JOIN db USING (bucket)),
         |fr AS (SELECT rr.* FROM rr JOIN db USING (bucket))
         |SELECT bucket, o_orderkey, status FROM (
         |  SELECT coalesce(fb.bucket, fr.bucket) AS bucket,
         |    coalesce(fb.o_orderkey, fr.o_orderkey) AS o_orderkey,
         |    CASE WHEN fb.h48 IS NULL THEN 'replica_only'
         |         WHEN fr.h48 IS NULL THEN 'base_only'
         |         WHEN fb.h48 <> fr.h48 THEN 'changed' END AS status
         |  FROM fb FULL JOIN fr
         |    ON fb.bucket = fr.bucket AND fb.o_orderkey = fr.o_orderkey
         |) WHERE status IS NOT NULL""".stripMargin,
    // Same two-level aggregate and the same g3 identity per candidate.
    "q167_fd_check" -> {
      def fdSql(name: String, tbl: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd, CAST(sum(n) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating_groups,
           |  CAST(sum(n - keep) AS BIGINT) AS g3_rows,
           |  CAST(sum(n - keep) * 1000000 // sum(n) AS BIGINT) AS g3_e6
           |FROM (
           |  SELECT l, sum(cnt) AS n, max(cnt) AS keep, count(*) AS n_rhs
           |  FROM (SELECT $lhs AS l, $rhs AS r, CAST(count(*) AS BIGINT) AS cnt
           |        FROM $tbl GROUP BY 1, 2)
           |  GROUP BY 1)""".stripMargin
      Seq(
        fdSql("part.p_brand->p_type", "part", "p_brand", "p_type"),
        fdSql("part.p_type->p_brand", "part", "p_type", "p_brand"),
        fdSql("customer.c_nationkey->c_mktsegment",
          "customer", "c_nationkey", "c_mktsegment"),
        fdSql("customer.c_custkey->c_nationkey",
          "customer", "c_custkey", "c_nationkey"),
        fdSql("orders.o_custkey->o_orderpriority",
          "orders", "o_custkey", "o_orderpriority"))
        .mkString("\nUNION ALL\n")
    },
    // Same one-pass left-join-then-aggregate per FK edge.
    "q170_ri_check" -> {
      def riSql(name: String, child: String, fk: String,
          parent: String, pk: String) =
        s"""SELECT '$name' AS fk, CAST(count(*) AS BIGINT) AS n_child,
           |  CAST(count(DISTINCT c.fkv) AS BIGINT) AS n_fk_values,
           |  CAST(sum(CASE WHEN p.hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_orphans,
           |  CAST(sum(CASE WHEN p.hit IS NULL THEN 1 ELSE 0 END) * 1000000
           |    // count(*) AS BIGINT) AS orphan_ppm
           |FROM (SELECT $fk AS fkv FROM $child) c
           |LEFT JOIN (SELECT DISTINCT $pk AS fkv, 1 AS hit FROM $parent) p
           |  USING (fkv)""".stripMargin
      Seq(
        riSql("lineitem.l_orderkey->orders",
          "lineitem", "l_orderkey", "orders", "o_orderkey"),
        riSql("orders.o_custkey->customer",
          "orders", "o_custkey", "customer", "c_custkey"),
        riSql("customer.c_nationkey->nation",
          "customer", "c_nationkey", "nation", "n_nationkey"),
        riSql("lineitem.l_partkey->part",
          "lineitem", "l_partkey", "part", "p_partkey"),
        riSql("lineitem.l_suppkey->supplier",
          "lineitem", "l_suppkey", "supplier", "s_suppkey"))
        .mkString("\nUNION ALL\n")
    },
    // Same decile windows; every ratio an integer cross-product.
    "q148_decile_lift" ->
      """WITH base AS (
        |  SELECT source, doc_id, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CAST(ntile(10) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS decile
        |  FROM documents
        |), cells AS (
        |  SELECT source, decile, count(*) AS n_docs,
        |    CAST(sum(pos) AS BIGINT) AS n_pos
        |  FROM base GROUP BY 1, 2
        |), t AS (
        |  SELECT *,
        |    CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS n_total,
        |    CAST(sum(n_pos) OVER (PARTITION BY source) AS BIGINT) AS n_pos_total,
        |    CAST(sum(n_pos) OVER (PARTITION BY source ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
        |  FROM cells
        |)
        |SELECT source, decile, n_docs, n_pos,
        |  CASE WHEN n_pos_total > 0
        |    THEN CAST(n_pos * n_total * 1000000 // (n_docs * n_pos_total) AS BIGINT)
        |    END AS lift_e6,
        |  CASE WHEN n_pos_total > 0
        |    THEN CAST(cum_pos * 1000000 // n_pos_total AS BIGINT)
        |    END AS cum_capture_e6
        |FROM t""".stripMargin,
    // Same tie-correct 2·r̄ integers and the single e6 division.
    "q149_exact_auc" ->
      """WITH r AS (
        |  SELECT source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CAST(rank() OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT)
        |      AS rank_min,
        |    CAST(count(*) OVER (PARTITION BY source, n_chars) AS BIGINT) AS tie_n
        |  FROM documents
        |), m AS (
        |  SELECT source,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(1 - pos) AS BIGINT) AS n_neg,
        |    CAST(sum(CASE WHEN pos = 1 THEN 2 * rank_min + tie_n - 1 ELSE 0 END)
        |      AS BIGINT) AS sum_two_r
        |  FROM r GROUP BY 1
        |)
        |SELECT source, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST((sum_two_r - n_pos * (n_pos + 1)) * 1000000
        |      // (2 * n_pos * n_neg) AS BIGINT)
        |    END AS auc_e6
        |FROM m""".stripMargin,
    // Same (n_chars DESC, doc_id) total order, same truncating
    // per-term ppm and final n_pos division.
    "q249_average_precision" ->
      """WITH r AS (
        |  SELECT source,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS k,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
        |      AS BIGINT) AS cum_pos
        |  FROM documents
        |), m AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN pos = 1
        |      THEN cum_pos * 1000000 // k ELSE 0 END) AS BIGINT) AS term_sum
        |  FROM r GROUP BY 1
        |)
        |SELECT source, n_docs, n_pos,
        |  CASE WHEN n_pos > 0 THEN term_sum // n_pos END AS ap_e6,
        |  n_pos * 1000000 // n_docs AS base_e6
        |FROM m""".stripMargin,
    // Same per-source ntile (deterministic under the total order) and
    // the same truncating cross-source mean.
    "q140_quantile_normalize" ->
      s"""WITH ranked AS (
         |  SELECT source, doc_id, n_chars,
         |    CAST(ntile($QnCentiles) OVER (PARTITION BY source
         |      ORDER BY n_chars, doc_id) AS BIGINT) AS centile
         |  FROM documents
         |), rep AS (
         |  SELECT source, centile, max(n_chars) AS rep
         |  FROM ranked GROUP BY 1, 2
         |), target AS (
         |  SELECT centile,
         |    CAST(sum(rep) // count(*) AS BIGINT) AS norm_chars,
         |    count(*) AS n_sources
         |  FROM rep GROUP BY 1
         |)
         |SELECT r.doc_id, r.source, r.n_chars, r.centile,
         |  t.norm_chars, t.n_sources
         |FROM ranked r JOIN target t USING (centile)""".stripMargin,
    // Same marginal windows and the identical algebraic double shape.
    "q137_chisq_independence" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
        |), m AS (
        |  SELECT *,
        |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS rt,
        |    CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS ct,
        |    CAST(sum(o) OVER () AS BIGINT) AS g
        |  FROM cells
        |), c2 AS (
        |  SELECT *,
        |    CAST(round(CAST(rt AS DOUBLE) * ct / g * 1000000, 0) AS BIGINT)
        |      AS expected_e6,
        |    CAST(round(
        |      (CAST(o * g - rt * ct AS DOUBLE) * (o * g - rt * ct))
        |      / (CAST(g AS DOUBLE) * rt * ct) * 1000000, 0) AS BIGINT)
        |      AS cell_chi2_e6
        |  FROM m
        |)
        |SELECT source, lang, o, rt, ct, g, expected_e6, cell_chi2_e6,
        |  CAST(sum(cell_chi2_e6) OVER ()
        |    + g * 1000000 - sum(expected_e6) OVER () AS BIGINT)
        |    AS chi2_total_e6
        |FROM c2""".stripMargin,
    // Same estimator restated relationally: '0x' hex cast, length(bin)
    // rank, integer-scaled harmonic sum with the absent-bucket term.
    "q129_hll_distinct" ->
      s"""WITH h AS (
         |  SELECT event_type, user_id,
         |    CAST('0x' || substr(md5('hll' || CAST(user_id AS VARCHAR)), 1, 12)
         |      AS BIGINT) AS h48
         |  FROM events
         |), r AS (
         |  SELECT event_type, h48 // ${1L << 44} AS bucket,
         |    CAST(max(CASE WHEN h48 % ${1L << 44} = 0 THEN 45
         |      ELSE 45 - length(bin(h48 % ${1L << 44})) END) AS BIGINT) AS reg
         |  FROM h GROUP BY 1, 2
         |), s AS (
         |  SELECT event_type,
         |    CAST(sum(1::BIGINT << CAST(45 - reg AS INTEGER)) AS BIGINT)
         |      + (16 - count(*)) * (1::BIGINT << 45) AS s45
         |  FROM r GROUP BY 1
         |), est AS (
         |  SELECT event_type, CAST($HllAlphaNumerator // s45 AS BIGINT) AS est_users
         |  FROM s
         |), exact AS (
         |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |  FROM events GROUP BY 1
         |)
         |SELECT e.event_type, e.est_users, x.n_users,
         |  CAST(abs(e.est_users - x.n_users) * 100 // x.n_users AS BIGINT) AS err_pct
         |FROM est e JOIN exact x USING (event_type)""".stripMargin,
    // Same absent-mass algebra: L1 = Σ ppm_c + Σ_present(|Δ| − ppm_c).
    // Same md5 row hashes → the identical 4×1024 sketch; same top-32
    // window, same min-over-rows estimate — bit-for-bit like q129.
    "q215_count_min" ->
      s"""WITH tok AS (
         |  SELECT u.t AS t
         |  FROM (SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |        FROM documents), LATERAL unnest(tk) u(t)
         |), cells AS (
         |  SELECT j.j AS r,
         |    CAST('0x' || substr(md5('cms' || CAST(j.j AS VARCHAR) || '|' || t), 1, 12) AS BIGINT) % $CmsWidth AS c,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM tok, (SELECT unnest([0, 1, 2, 3]) AS j) j
         |  GROUP BY 1, 2
         |), top AS (
         |  SELECT t, n_true FROM (
         |    SELECT t, CAST(count(*) AS BIGINT) AS n_true,
         |      row_number() OVER (ORDER BY count(*) DESC, t) AS rn
         |    FROM tok GROUP BY t)
         |  WHERE rn <= $CmsTopK
         |), probe AS (
         |  SELECT t, n_true, j.j AS r,
         |    CAST('0x' || substr(md5('cms' || CAST(j.j AS VARCHAR) || '|' || t), 1, 12) AS BIGINT) % $CmsWidth AS c
         |  FROM top, (SELECT unnest([0, 1, 2, 3]) AS j) j
         |)
         |SELECT p.t AS token, p.n_true, CAST(min(c2.n) AS BIGINT) AS n_est,
         |  (min(c2.n) - p.n_true) * 1000000 // p.n_true AS over_ppm
         |FROM probe p JOIN cells c2 ON c2.r = p.r AND c2.c = p.c
         |GROUP BY 1, 2""".stripMargin,
    // q118's oracle with the q42 split CASE in place of source.
    "q213_split_drift" ->
      s"""WITH tok AS (
         |  SELECT split, CAST('0x' || substr(md5(u.t), 1, 12) AS BIGINT) AS gh
         |  FROM (SELECT
         |          CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 < 8 THEN 'train'
         |               WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 8 THEN 'val'
         |               ELSE 'test' END AS split,
         |          string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |        FROM documents), LATERAL unnest(tk) u(t)
         |), corpus AS (
         |  SELECT gh, count(*) AS n_gh FROM tok GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n_gh) AS BIGINT) AS n_total FROM corpus
         |), ref AS (
         |  SELECT gh, n_gh * 1000000 // n_total AS ppm_c
         |  FROM (SELECT gh, n_gh, row_number() OVER (ORDER BY n_gh DESC, gh) AS rn
         |        FROM corpus), tot
         |  WHERE rn <= $DriftRefK
         |), refc AS (
         |  SELECT CAST(sum(ppm_c) AS BIGINT) AS c_ppm FROM ref
         |), st AS (
         |  SELECT split, count(*) AS n_tokens FROM tok GROUP BY 1
         |), pres AS (
         |  SELECT sg.split,
         |    CAST(sum(abs((sg.n_sg * 1000000 // st.n_tokens) - r.ppm_c) - r.ppm_c) AS BIGINT) AS adj
         |  FROM (SELECT split, gh, count(*) AS n_sg FROM tok GROUP BY 1, 2) sg
         |  JOIN ref r USING (gh)
         |  JOIN st ON st.split = sg.split
         |  GROUP BY 1
         |)
         |SELECT st.split, st.n_tokens, c_ppm + coalesce(adj, 0) AS l1_ppm
         |FROM st LEFT JOIN pres USING (split), refc""".stripMargin,
    "q118_source_drift" ->
      s"""WITH tok AS (
         |  SELECT source, CAST('0x' || substr(md5(u.t), 1, 12) AS BIGINT) AS gh
         |  FROM (SELECT source,
         |          string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |        FROM documents), LATERAL unnest(tk) u(t)
         |), corpus AS (
         |  SELECT gh, count(*) AS n_gh FROM tok GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n_gh) AS BIGINT) AS n_total FROM corpus
         |), ref AS (
         |  SELECT gh, n_gh * 1000000 // n_total AS ppm_c
         |  FROM (SELECT gh, n_gh, row_number() OVER (ORDER BY n_gh DESC, gh) AS rn
         |        FROM corpus), tot
         |  WHERE rn <= $DriftRefK
         |), refc AS (
         |  SELECT CAST(sum(ppm_c) AS BIGINT) AS c_ppm FROM ref
         |), st AS (
         |  SELECT source, count(*) AS n_tokens FROM tok GROUP BY 1
         |), pres AS (
         |  SELECT sg.source,
         |    CAST(sum(abs((sg.n_sg * 1000000 // st.n_tokens) - r.ppm_c) - r.ppm_c) AS BIGINT) AS adj
         |  FROM (SELECT source, gh, count(*) AS n_sg FROM tok GROUP BY 1, 2) sg
         |  JOIN ref r USING (gh)
         |  JOIN st ON st.source = sg.source
         |  GROUP BY 1
         |)
         |SELECT st.source, st.n_tokens, c_ppm + coalesce(adj, 0) AS l1_ppm
         |FROM st LEFT JOIN pres USING (source), refc""".stripMargin,
    // Same e4 quantization + (qx, vec_id) total order; DuckDB's ntile
    // follows the same SQL-standard remainder-to-first-buckets rule.
    "q120_embedding_bins" ->
      s"""WITH q AS (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT) AS qx
         |  FROM (SELECT vec_id, unnest(embedding) AS x,
         |          generate_subscripts(embedding, 1) AS i
         |        FROM embeddings)
         |), b AS (
         |  SELECT dim, qx,
         |    ntile($DepthBuckets) OVER (PARTITION BY dim ORDER BY qx, vec_id) AS bucket
         |  FROM q
         |)
         |SELECT dim, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_vals,
         |  min(qx) AS lo_e4, max(qx) AS hi_e4
         |FROM b GROUP BY 1, 2""".stripMargin,
    // Same e4 quantization; unnest zipped with generate_subscripts
    // (1-based, hence the -1) replaces posexplode.
    "q111_embedding_dim_profile" ->
      """WITH q AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT) AS qx
        |  FROM (SELECT unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS i
        |        FROM embeddings)
        |)
        |SELECT dim, count(*) AS n,
        |  min(qx) AS min_e4, max(qx) AS max_e4,
        |  CAST(sum(qx) AS BIGINT) AS sum_e4,
        |  CAST(sum(CASE WHEN qx > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN qx < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST((CAST(sum(qx) AS BIGINT) + count(*) * 10000) // count(*) - 10000
        |    AS BIGINT) AS mean_e4
        |FROM q GROUP BY dim""".stripMargin,
    // Deterministic-sketch profile: identical KMV + rank-percentile
    // integer math restated over the same value-frequency relation.
    "q41_profile_sketch" ->
      s"""WITH m AS (
         |  SELECT 'l_quantity' AS column_name,
         |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS v FROM lineitem
         |  UNION ALL
         |  SELECT 'l_extendedprice',
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) FROM lineitem
         |  UNION ALL
         |  SELECT 'l_discount',
         |    CAST(round(l_discount * 100, 0) AS BIGINT) FROM lineitem
         |), c AS (
         |  SELECT column_name, CAST(count(v) AS BIGINT) AS n,
         |    CAST(count(*) - count(v) AS BIGINT) AS n_null
         |  FROM m GROUP BY 1
         |), r AS (
         |  SELECT column_name,
         |    CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 10) AS BIGINT) AS h,
         |    row_number() OVER (PARTITION BY column_name
         |      ORDER BY CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 10) AS BIGINT), v
         |    ) AS rn
         |  FROM (SELECT DISTINCT column_name, v FROM m WHERE v IS NOT NULL)
         |), dd AS (
         |  SELECT column_name, CAST(count(*) AS BIGINT) AS n_distinct,
         |    greatest(max(CASE WHEN rn <= $KmvK THEN h END), 1) AS hk
         |  FROM r GROUP BY 1
         |), pf AS (
         |  SELECT column_name, v, count(*) AS cnt
         |  FROM m WHERE v IS NOT NULL
         |    AND column_name IN (${ExactPctCols.map("'" + _ + "'").mkString(", ")})
         |  GROUP BY 1, 2
         |), pr AS (
         |  SELECT column_name, v,
         |    sum(cnt) OVER (PARTITION BY column_name) AS n,
         |    sum(cnt) OVER (PARTITION BY column_name ORDER BY v
         |                   ROWS UNBOUNDED PRECEDING) AS running
         |  FROM pf
         |), p AS (
         |  SELECT column_name,
         |    CAST(min(CASE WHEN running * 2 >= n THEN v END) AS BIGINT) AS p50_e2,
         |    CAST(min(CASE WHEN running * 10 >= n * 9 THEN v END) AS BIGINT) AS p90_e2,
         |    CAST(min(CASE WHEN running * 100 >= n * 99 THEN v END) AS BIGINT) AS p99_e2
         |  FROM pr GROUP BY 1
         |)
         |SELECT c.column_name, c.n, c.n_null,
         |  CAST(coalesce(dd.n_distinct, 0) AS BIGINT) AS n_distinct,
         |  CAST(coalesce(CASE WHEN dd.n_distinct < $KmvK THEN dd.n_distinct
         |            ELSE $KmvNumerator // hk END, 0) AS BIGINT) AS est_distinct,
         |  p50_e2, p90_e2, p99_e2
         |FROM c LEFT JOIN dd USING (column_name) LEFT JOIN p USING (column_name)""".stripMargin,
    // The one-shot recompute the batch folds must reproduce.
    "q99_incremental_rollup" ->
      """SELECT o_custkey,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_v,
        |  CAST(min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS min_v,
        |  CAST(max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS max_v
        |FROM orders GROUP BY 1""".stripMargin,
    // Each rule restated as an independent direct count.
    "q98_expectations" ->
      """WITH o AS (
        |  SELECT *, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_e2 FROM orders
        |), rep AS (
        |  SELECT 'orders' AS table_name, 'not_null:o_custkey' AS rule,
        |    CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS n_violations
        |  FROM o
        |  UNION ALL
        |  SELECT 'orders', 'unique:o_orderkey',
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM o
        |  UNION ALL
        |  SELECT 'orders', 'in_range:price_e2[1,30000000]',
        |    CAST(count(CASE WHEN price_e2 < 1 OR price_e2 > 30000000 THEN 1 END) AS BIGINT)
        |  FROM o
        |  UNION ALL
        |  SELECT 'orders', 'ref_integrity:o_custkey',
        |    CAST(count(CASE WHEN c_custkey IS NULL THEN 1 END) AS BIGINT)
        |  FROM o LEFT JOIN customer ON o_custkey = c_custkey
        |  WHERE o_custkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'customer', 'not_null:c_name',
        |    CAST(count(CASE WHEN c_name IS NULL THEN 1 END) AS BIGINT) FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'accepted_values:c_mktsegment',
        |    CAST(count(CASE WHEN c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
        |      ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'MACHINERY') THEN 1 END) AS BIGINT)
        |  FROM customer
        |)
        |SELECT table_name, rule, n_violations, n_violations = 0 AS pass FROM rep""".stripMargin,
    "q97_equidepth_hist" ->
      s"""WITH b AS (
         |  SELECT lang, n_chars,
         |    CAST(ntile($DepthBuckets) OVER (PARTITION BY lang
         |      ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
         |  FROM documents
         |)
         |SELECT lang, bucket, count(*) AS n_docs,
         |  CAST(min(n_chars) AS BIGINT) AS lo_chars,
         |  CAST(max(n_chars) AS BIGINT) AS hi_chars
         |FROM b GROUP BY 1, 2""".stripMargin,
    "q87_key_skew_profile" ->
      """WITH freq AS (
        |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
        |), r AS (
        |  SELECT cnt,
        |    CAST(row_number() OVER (ORDER BY cnt, l_suppkey) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS n_keys
        |  FROM freq
        |), a AS (
        |  SELECT CAST(max(n_keys) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(max(cnt) AS BIGINT) AS top1_cnt,
        |    CAST(sum(CASE WHEN rn = (n_keys + 1) // 2 THEN cnt ELSE 0 END) AS BIGINT) AS p50_cnt,
        |    CAST(sum(CASE WHEN rn = (n_keys * 99 + 99) // 100 THEN cnt ELSE 0 END) AS BIGINT) AS p99_cnt
        |  FROM r
        |)
        |SELECT n_keys, n_rows, top1_cnt, p50_cnt, p99_cnt,
        |  CAST(top1_cnt * 1000000 // n_rows AS BIGINT) AS top1_share_ppm,
        |  CAST(p99_cnt * 100 // p50_cnt AS BIGINT) AS skew_p99_over_p50_e2
        |FROM a""".stripMargin,
    "q76_length_histogram" ->
      s"""SELECT bucket, count(*) AS n_docs,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars,
         |  CAST(bucket * $HistWidthChars AS BIGINT) AS bucket_lo
         |FROM (
         |  SELECT CAST(least(${HistBins - 1}, n_chars // $HistWidthChars) AS BIGINT) AS bucket,
         |    n_chars
         |  FROM documents)
         |GROUP BY bucket""".stripMargin,
    "q42_train_test_split" ->
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 < 8 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin)
}
