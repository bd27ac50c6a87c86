package graft.queries

import graft.Tables
import graft.ops.{QualityStage, Scd2Merge}
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational parity surface: one query per operator class in
  * SURVEY.md §2 (scans, filters, projections, joins, aggregates,
  * scalar functions, set ops, SCD2 merge, quality staging, gold
  * marts), re-expressed over the driver testdata tables.
  *
  * Cross-engine determinism rules (DuckDB oracle hash-compares):
  *  - sums of integer-valued doubles (quantities) are exact — no round;
  *  - sums of 2-dp monetary doubles: NEVER `round(sum(x), 2)` — Spark
  *    and DuckDB accumulate the per-group double sum in different
  *    orders and the 2-dp round can't absorb the difference at scale
  *    (q11 failed exactly this way at sf0.1 in rounds 1-2). Instead
  *    integer-scale to cents and sum exactly:
  *    `graft.ops.Exact.sumE2` = `sum(round(x*100,0).cast("long"))`;
  *  - sums of derived products (price × discount): scale to integer
  *    first (`Exact.e4`) and sum exactly (`Exact.sumE4`);
  *  - scalar math over identical inputs is IEEE-deterministic — emit
  *    raw, never re-round.
  */
object Relational {
  private type Q = (SparkSession, String) => DataFrame

  private def ts(s: String): Column = to_timestamp(lit(s))

  // ---------------------------------------------------------------
  // Scans / filters / projections (SURVEY §2.1-2.2)
  // ---------------------------------------------------------------

  /** S3+P8: pruned scan with pushed-down predicate. `.explain` shows
    * PushedFilters on l_shipdate/l_quantity and a 3-column ReadSchema. */
  val q01PrunedScan: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") && col("l_quantity") < 3.0)
      .select("l_orderkey", "l_extendedprice", "l_shipdate")

  /** P5/P6: quarantine-style boolean + null-predicate filters. */
  val q02FilterPredicates: Q = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_acctbal") < 0.0 && col("c_name").isNotNull)
      .select("c_custkey", "c_name", "c_acctbal")

  /** P1/P2: bulk rename / aliasing projection (cpt_codes.py:18-20 style). */
  val q03RenameProject: Q = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey").as("part_key"),
      lower(col("p_name")).as("part_name"),
      col("p_retailprice").as("retail_price"))

  /** P3/P4: conditional datasource tagging (claims.py:19-22 style). */
  val q04DerivedTag: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      col("o_orderpriority"),
      when(col("o_orderpriority").startsWith("1-"), lit("urgent"))
        .when(col("o_orderpriority").startsWith("2-"), lit("high"))
        .otherwise(lit("normal")).as("datasource"))

  /** §2.5 set ops: UNION ALL two tagged branches (silver.sql:27-29). */
  val q05UnionTag: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val a = c.filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey"), col("c_name"), lit("hosa").as("datasource"))
    val b = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"), lit("hosb").as("datasource"))
    a.unionByName(b)
  }

  // ---------------------------------------------------------------
  // Joins (SURVEY §2.3)
  // ---------------------------------------------------------------

  /** J1: fact ⟕ dim equi-join; dim explicitly broadcast. */
  val q06JoinLeftBroadcast: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.filter(col("o_orderstatus") === "F")
      .join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
      .select(o("o_orderkey"), o("o_totalprice"), c("c_name"), c("c_mktsegment"))
  }

  /** J2: expression join on a split composite key (gold.sql:21-22). */
  val q07JoinSplitKey: Q = (s, d) => {
    val dim = Tables.nation(s, d).select(
      concat(col("n_nationkey").cast("string"), lit("-"), col("n_name")).as("nation_code"))
    val c = Tables.customer(s, d)
    c.join(broadcast(dim),
        split(dim("nation_code"), "-").getItem(0) === c("c_nationkey").cast("string"),
        "left")
      .select(c("c_custkey"), dim("nation_code"))
  }

  /** J3: multi-way left-join fan-out denormalization (gold.sql:75-81).
    *
    * Scale plan: the preserved left side is a 2%-filtered dim, so a
    * naive chain plans SMJ and shuffles both fact tables (the round-1/2
    * bench's most expensive query). Instead the facts are semi-
    * prefiltered down to the 2% of rows that can match (broadcast key
    * sets), after which every join is a BroadcastHashJoin — zero
    * shuffles. Identical results: rows dropped by the semi-prefilter
    * could never survive the equi-joins. */
  val q08JoinMultiwayFanout: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_custkey") % 50 === 0)
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    val o2 = o.join(broadcast(c.select(c("c_custkey").as("k"))),
      o("o_custkey") === col("k"), "left_semi")
    val l2 = l.join(broadcast(o2.select(o("o_orderkey").as("k"))),
      l("l_orderkey") === col("k"), "left_semi")
    c.join(broadcast(o2), c("c_custkey") === o2("o_custkey"), "left")
      .join(broadcast(l2), o2("o_orderkey") === l2("l_orderkey"), "left")
      .select(c("c_custkey"), c("c_name"), o2("o_orderkey"), o2("o_totalprice"),
        l2("l_linenumber"), l2("l_quantity"))
  }

  /** Semi join (EXISTS) — §2.3 noted-absent kind, covered natively. */
  val q09JoinSemi: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  /** Anti join (NOT EXISTS). */
  val q10JoinAnti: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  // ---------------------------------------------------------------
  // Aggregations (SURVEY §2.4)
  // ---------------------------------------------------------------

  /** A1: grouped SUM with null-default (gold.sql:14-25 shape) — the
    * TPC-H q1 pricing summary. Partial (map-side) aggregation is
    * automatic; the shuffle carries one row per group. */
  val q11AggPricingSummary: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(coalesce(col("l_quantity"), lit(0.0))).as("sum_qty"),
        sumE2(col("l_extendedprice")).as("sum_base_price_e2"),
        sumE4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue_e4"),
        count(lit(1)).as("count_order"))

  /** A2/A3/A5: multi-aggregate KPI block with conditional distinct
    * counts and a safe ratio (gold.sql:106-128). Multi-distinct plans
    * via Catalyst Expand — no custom code. */
  val q12AggKpiDashboard: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(when(col("o_orderstatus") === "F", col("o_orderkey"))).as("n_filled"),
        sumE2(col("o_totalprice")).as("gross_e2"))
      .withColumn("fill_rate",
        col("n_filled").cast("double") /
          when(col("n_orders") === 0, lit(null)).otherwise(col("n_orders").cast("double")))

  /** A4: grouped AVG — computed as exact cents-sum / count so both
    * engines divide identical operands (IEEE-deterministic). */
  val q13AggAvg: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(sumE2(col("c_acctbal")).as("total_bal_e2"), count(lit(1)).as("n"))
      .withColumn("avg_bal",
        col("total_bal_e2").cast("double") / (lit(100.0) * col("n").cast("double")))

  /** A6/J5: ungrouped MAX — the audit-watermark lookup shape. */
  val q14WatermarkMax: Q = (s, d) =>
    Tables.orders(s, d).agg(max(col("o_orderdate")).as("wm"), count(lit(1)).as("n"))

  /** A8: DISTINCT (hash aggregate over all projected columns). */
  val q15Distinct: Q = (s, d) =>
    Tables.lineitem(s, d).select("l_returnflag", "l_linestatus", "l_quantity").distinct()

  // ---------------------------------------------------------------
  // Scalar function surface (SURVEY §2.6 F1-F10)
  // ---------------------------------------------------------------

  val q16ScalarFunctions: Q = (s, d) =>
    Tables.customer(s, d).select(
      col("c_custkey"),
      concat(col("c_custkey").cast("string"), lit("-"), col("c_mktsegment")).as("surrogate_key"),
      concat(coalesce(col("c_name"), lit("")), lit(" "), coalesce(col("c_mktsegment"), lit(""))).as("display_name"),
      when(col("c_acctbal").isNull || lower(col("c_name")) === "null", lit(true))
        .otherwise(lit(false)).as("is_quarantined"),
      split(col("c_name"), "#").getItem(1).as("name_suffix"),
      split(col("c_name"), "#").getItem(1).try_cast("long").as("name_num"),
      (col("c_acctbal") /
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise((col("c_custkey") % 7).cast("double"))
      ).as("safe_ratio"),
      round(col("c_acctbal") * lit(2.0), 2).as("doubled_bal"))

  // ---------------------------------------------------------------
  // Compound operators (SURVEY §2.7)
  // ---------------------------------------------------------------

  /** C1: SCD Type-2 merge through [[graft.ops.Scd2Merge]], on a
    * deterministic synthetic target/source derived from orders; the
    * oracle re-states the merge as plain SQL, independently. */
  val q17Scd2Merge: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val t0 = ts("2020-01-01 00:00:00")
    val target = o.filter(col("o_orderkey") % 3 =!= 0).select(
      col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"),
      t0.as("inserted_date"), t0.as("modified_date"), lit(true).as("is_current"))
    val source = o.filter(col("o_orderkey") % 11 =!= 0).select(
      col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"),
      when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1000.0))
        .otherwise(col("o_totalprice")).as("price"))
    Scd2Merge(Seq("key"), Seq("status", "price"), ts("2021-06-01 00:00:00"))(target, source)
  }

  /** C1-read: POINT-IN-TIME (as-of) dimension lookup — the query SCD2
    * history exists to answer, closing the loop on q17's write side.
    * Two merge runs build real version history (t1 = q17's merge,
    * t2 = a second drift), then each probe timestamp picks its key's
    * version valid at that instant: `inserted_date ≤ p AND (is_current
    * OR modified_date > p)` — a KEYED equi-join with a residual
    * validity filter (versions per key are bounded, so no fan-out; no
    * range-join blow-up). Probes inside the reference's close-then-
    * insert-NEXT-run coverage gap (quirk b: changed keys are closed at
    * t1 and only re-inserted at t2) correctly find NO version and
    * surface NULLs — the gap is reference semantics, faithfully
    * reproduced, and the oracle restates both merges chained plus the
    * same validity algebra. */
  val q103AsofDimension: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val merged1 = q17Scd2Merge(s, d)
    val source2 = o.filter(col("o_orderkey") % 7 =!= 0).select(
      col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"),
      (col("o_totalprice") +
        when(col("o_orderkey") % 2 === 0, lit(500.0)).otherwise(lit(0.0))).as("price"))
    val merged2 = Scd2Merge(Seq("key"), Seq("status", "price"),
      ts("2022-01-01 00:00:00"))(merged1, source2)
    val probes = o.select(
      col("o_orderkey").as("probe_key"),
      when(col("o_orderkey") % 3 === 0, ts("2020-06-01 00:00:00"))
        .when(col("o_orderkey") % 3 === 1, ts("2021-12-01 00:00:00"))
        .otherwise(ts("2022-06-01 00:00:00")).as("probe_ts"))
    probes.join(merged2,
      col("probe_key") === col("key") &&
        col("inserted_date") <= col("probe_ts") &&
        (col("is_current") || col("modified_date") > col("probe_ts")),
      "left")
      .select(col("probe_key"), col("probe_ts"), col("status"),
        e2(col("price")).as("price_e2"),
        col("inserted_date").as("version_inserted"))
  }

  /** C2: quality staging over two drifted "sources" (customer split by
    * parity; odd half arrives with renamed columns + a planted literal
    * "NULL" sentinel — the hospital-B patients fixture shape). */
  val q18QualityStage: Q = (s, d) => {
    val c = Tables.customer(s, d).withColumn("c_name",
      when(col("c_custkey") % 97 === 0, lit("NULL")).otherwise(col("c_name")))
    val srcA = c.filter(col("c_custkey") % 2 === 0)
      .select("c_custkey", "c_name", "c_acctbal")
    val srcB = c.filter(col("c_custkey") % 2 === 1).select(
      col("c_custkey").as("cust_id"), col("c_name").as("full_name"), col("c_acctbal").as("bal"))
    QualityStage(QualityStage.EntitySpec(
      sources = Seq(
        QualityStage.Source(srcA, "hosa"),
        QualityStage.Source(srcB, "hosb",
          renames = Map("cust_id" -> "c_custkey", "full_name" -> "c_name", "bal" -> "c_acctbal"))),
      naturalKey = "c_custkey",
      criticalCols = Seq("c_name"),
      surrogateKeyCol = "entity_key"))
  }

  /** C4: gold-mart shape — provider_charge_summary analog
    * (gold.sql:13-25): fact ⟕ dim ⟕ dim, quarantine-style filters,
    * grouped SUM. Both dims broadcast. */
  val q19GoldChargeSummary: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    l.filter(col("l_returnflag") =!= "R")
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"), "left")
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"), "left")
      .filter(sup("s_name").isNotNull)
      .groupBy(sup("s_name").as("provider_name"), n("n_name").as("dept_name"))
      .agg(
        sumE2(coalesce(l("l_extendedprice"), lit(0.0))).as("total_charge_e2"),
        count(lit(1)).as("n_tx"))
  }

  val defs: Map[String, Q] = Map(
    "q01_pruned_scan" -> q01PrunedScan,
    "q02_filter_predicates" -> q02FilterPredicates,
    "q03_rename_project" -> q03RenameProject,
    "q04_derived_tag" -> q04DerivedTag,
    "q05_union_tag" -> q05UnionTag,
    "q06_join_left_broadcast" -> q06JoinLeftBroadcast,
    "q07_join_split_key" -> q07JoinSplitKey,
    "q08_join_multiway_fanout" -> q08JoinMultiwayFanout,
    "q09_join_semi" -> q09JoinSemi,
    "q10_join_anti" -> q10JoinAnti,
    "q11_agg_pricing_summary" -> q11AggPricingSummary,
    "q12_agg_kpi_dashboard" -> q12AggKpiDashboard,
    "q13_agg_avg" -> q13AggAvg,
    "q14_watermark_max" -> q14WatermarkMax,
    "q15_distinct" -> q15Distinct,
    "q16_scalar_functions" -> q16ScalarFunctions,
    "q17_scd2_merge" -> q17Scd2Merge,
    "q18_quality_stage" -> q18QualityStage,
    "q19_gold_charge_summary" -> q19GoldChargeSummary,
    "q103_asof_dimension" -> q103AsofDimension)

  val oracles: Map[String, String] = Map(
    // Both merges chained as CTEs (run-1 block = q17's oracle), then
    // the probe join with the same validity algebra.
    "q103_asof_dimension" ->
      """WITH target AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS price,
        |         TIMESTAMP '2020-01-01 00:00:00' AS inserted_date,
        |         TIMESTAMP '2020-01-01 00:00:00' AS modified_date,
        |         TRUE AS is_current
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |), source AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 11 <> 0
        |), j1 AS (
        |  SELECT t.key AS t_key, t.status AS t_status, t.price AS t_price,
        |         t.inserted_date AS t_ins, t.modified_date AS t_mod, t.is_current AS t_cur,
        |         s.key AS s_key, s.status AS s_status, s.price AS s_price,
        |         COALESCE(t.status <> s.status OR t.price <> s.price, FALSE) AS changed
        |  FROM target t FULL OUTER JOIN source s ON t.key = s.key
        |), m1 AS (
        |  SELECT t_key AS key, t_status AS status, t_price AS price, t_ins AS inserted_date,
        |         TIMESTAMP '2021-06-01 00:00:00' AS modified_date, FALSE AS is_current
        |    FROM j1 WHERE t_key IS NOT NULL AND s_key IS NOT NULL AND changed
        |  UNION ALL
        |  SELECT t_key, t_status, t_price, t_ins, t_mod, t_cur
        |    FROM j1 WHERE t_key IS NOT NULL AND (s_key IS NULL OR NOT changed)
        |  UNION ALL
        |  SELECT s_key, s_status, s_price,
        |         TIMESTAMP '2021-06-01 00:00:00', TIMESTAMP '2021-06-01 00:00:00', TRUE
        |    FROM j1 WHERE t_key IS NULL
        |), source2 AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         o_totalprice + CASE WHEN o_orderkey % 2 = 0 THEN 500.0 ELSE 0.0 END AS price
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |), cur2 AS (SELECT * FROM m1 WHERE is_current
        |), hist2 AS (SELECT * FROM m1 WHERE NOT is_current
        |), j2 AS (
        |  SELECT t.key AS t_key, t.status AS t_status, t.price AS t_price,
        |         t.inserted_date AS t_ins, t.modified_date AS t_mod, t.is_current AS t_cur,
        |         s.key AS s_key, s.status AS s_status, s.price AS s_price,
        |         COALESCE(t.status <> s.status OR t.price <> s.price, FALSE) AS changed
        |  FROM cur2 t FULL OUTER JOIN source2 s ON t.key = s.key
        |), m2 AS (
        |  SELECT * FROM hist2
        |  UNION ALL
        |  SELECT t_key AS key, t_status AS status, t_price AS price, t_ins AS inserted_date,
        |         TIMESTAMP '2022-01-01 00:00:00' AS modified_date, FALSE AS is_current
        |    FROM j2 WHERE t_key IS NOT NULL AND s_key IS NOT NULL AND changed
        |  UNION ALL
        |  SELECT t_key, t_status, t_price, t_ins, t_mod, t_cur
        |    FROM j2 WHERE t_key IS NOT NULL AND (s_key IS NULL OR NOT changed)
        |  UNION ALL
        |  SELECT s_key, s_status, s_price,
        |         TIMESTAMP '2022-01-01 00:00:00', TIMESTAMP '2022-01-01 00:00:00', TRUE
        |    FROM j2 WHERE t_key IS NULL
        |), probes AS (
        |  SELECT o_orderkey AS probe_key,
        |         CASE WHEN o_orderkey % 3 = 0 THEN TIMESTAMP '2020-06-01 00:00:00'
        |              WHEN o_orderkey % 3 = 1 THEN TIMESTAMP '2021-12-01 00:00:00'
        |              ELSE TIMESTAMP '2022-06-01 00:00:00' END AS probe_ts
        |  FROM orders
        |)
        |SELECT probe_key, probe_ts, v.status,
        |       CAST(round(v.price * 100, 0) AS BIGINT) AS price_e2,
        |       v.inserted_date AS version_inserted
        |FROM probes p LEFT JOIN m2 v
        |  ON p.probe_key = v.key
        | AND v.inserted_date <= p.probe_ts
        | AND (v.is_current OR v.modified_date > p.probe_ts)""".stripMargin,
    "q01_pruned_scan" ->
      """SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_quantity < 3.0""".stripMargin,
    "q02_filter_predicates" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal < 0.0 AND c_name IS NOT NULL",
    "q03_rename_project" ->
      "SELECT p_partkey AS part_key, lower(p_name) AS part_name, p_retailprice AS retail_price FROM part",
    "q04_derived_tag" ->
      """SELECT o_orderkey, o_orderpriority,
        |CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent'
        |     WHEN o_orderpriority LIKE '2-%' THEN 'high'
        |     ELSE 'normal' END AS datasource FROM orders""".stripMargin,
    "q05_union_tag" ->
      """SELECT c_custkey, c_name, 'hosa' AS datasource FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION ALL
        |SELECT c_custkey, c_name, 'hosb' AS datasource FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "q06_join_left_broadcast" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F'""".stripMargin,
    "q07_join_split_key" ->
      """WITH dim AS (SELECT concat(CAST(n_nationkey AS VARCHAR), '-', n_name) AS nation_code FROM nation)
        |SELECT c.c_custkey, dim.nation_code
        |FROM customer c LEFT JOIN dim
        |  ON string_split(dim.nation_code, '-')[1] = CAST(c.c_nationkey AS VARCHAR)""".stripMargin,
    "q08_join_multiway_fanout" ->
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_quantity
        |FROM customer c
        |LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_custkey % 50 = 0""".stripMargin,
    "q09_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,
    "q10_join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,
    "q11_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(coalesce(l_quantity, 0.0)) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_e2,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q12_agg_kpi_dashboard" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_orderkey END) AS n_filled,
        |  CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS gross_e2,
        |  CAST(count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_orderkey END) AS DOUBLE)
        |    / CASE WHEN count(*) = 0 THEN NULL ELSE CAST(count(*) AS DOUBLE) END AS fill_rate
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q13_agg_avg" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(round(c_acctbal * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_bal_e2, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100.0, 0) AS BIGINT)) AS DOUBLE)
        |    / (100.0 * CAST(count(*) AS DOUBLE)) AS avg_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q14_watermark_max" ->
      "SELECT max(o_orderdate) AS wm, count(*) AS n FROM orders",
    "q15_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem",
    "q16_scalar_functions" ->
      """SELECT c_custkey,
        |  concat(CAST(c_custkey AS VARCHAR), '-', c_mktsegment) AS surrogate_key,
        |  concat(coalesce(c_name, ''), ' ', coalesce(c_mktsegment, '')) AS display_name,
        |  CASE WHEN c_acctbal IS NULL OR lower(c_name) = 'null' THEN TRUE ELSE FALSE END AS is_quarantined,
        |  string_split(c_name, '#')[2] AS name_suffix,
        |  TRY_CAST(string_split(c_name, '#')[2] AS BIGINT) AS name_num,
        |  c_acctbal / CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE CAST(c_custkey % 7 AS DOUBLE) END AS safe_ratio,
        |  round(c_acctbal * 2.0, 2) AS doubled_bal
        |FROM customer""".stripMargin,
    "q17_scd2_merge" ->
      """WITH target AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS price,
        |         TIMESTAMP '2020-01-01 00:00:00' AS inserted_date,
        |         TIMESTAMP '2020-01-01 00:00:00' AS modified_date,
        |         TRUE AS is_current
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |), source AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS status,
        |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 11 <> 0
        |), j AS (
        |  SELECT t.key AS t_key, t.status AS t_status, t.price AS t_price,
        |         t.inserted_date AS t_ins, t.modified_date AS t_mod, t.is_current AS t_cur,
        |         s.key AS s_key, s.status AS s_status, s.price AS s_price,
        |         COALESCE(t.status <> s.status OR t.price <> s.price, FALSE) AS changed
        |  FROM target t FULL OUTER JOIN source s ON t.key = s.key
        |)
        |SELECT t_key AS key, t_status AS status, t_price AS price, t_ins AS inserted_date,
        |       TIMESTAMP '2021-06-01 00:00:00' AS modified_date, FALSE AS is_current
        |  FROM j WHERE t_key IS NOT NULL AND s_key IS NOT NULL AND changed
        |UNION ALL
        |SELECT t_key, t_status, t_price, t_ins, t_mod, t_cur
        |  FROM j WHERE t_key IS NOT NULL AND (s_key IS NULL OR NOT changed)
        |UNION ALL
        |SELECT s_key, s_status, s_price,
        |       TIMESTAMP '2021-06-01 00:00:00', TIMESTAMP '2021-06-01 00:00:00', TRUE
        |  FROM j WHERE t_key IS NULL""".stripMargin,
    "q18_quality_stage" ->
      """WITH dirty AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 97 = 0 THEN 'NULL' ELSE c_name END AS c_name,
        |         c_acctbal
        |  FROM customer
        |), unioned AS (
        |  SELECT c_custkey, c_name, c_acctbal, 'hosa' AS datasource FROM dirty WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 'hosb' AS datasource FROM dirty WHERE c_custkey % 2 = 1
        |)
        |SELECT DISTINCT c_custkey, c_name, c_acctbal, datasource,
        |  concat(CAST(c_custkey AS VARCHAR), '-', datasource) AS entity_key,
        |  CASE WHEN c_custkey IS NULL OR lower(CAST(c_custkey AS VARCHAR)) = 'null'
        |         OR c_name IS NULL OR lower(c_name) = 'null'
        |       THEN TRUE ELSE FALSE END AS is_quarantined
        |FROM unioned""".stripMargin,
    "q19_gold_charge_summary" ->
      """SELECT s.s_name AS provider_name, n.n_name AS dept_name,
        |  CAST(sum(CAST(round(coalesce(l.l_extendedprice, 0.0) * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_charge_e2,
        |  count(*) AS n_tx
        |FROM lineitem l
        |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE l.l_returnflag <> 'R' AND s.s_name IS NOT NULL
        |GROUP BY s.s_name, n.n_name""".stripMargin)
}
