package graft.queries

import graft.Tables
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The remaining three gold-mart builders (SURVEY §2.7 C4, reference
  * /root/reference/src/pipelines/transforms/gold.sql:55-82, :103-128,
  * :145-162) re-expressed over the driver testdata star schema, plus
  * the provenance/cast scalar surface (F12 `input_file_name`, F14
  * `Column.contains`, F5 data-column string→timestamp cast).
  *
  * Determinism follows the Relational.scala rules: monetary sums are
  * exact integer cents (`sumE2`) / e4 sums; ratios are a single IEEE
  * divide over identical exact operands; raw doubles pass through
  * un-rounded.
  *
  * Scale notes per mart are on each query; the common theme is that
  * dim-sized sides are broadcast and the one unavoidable shuffle is the
  * fact-fact equi-join (patient_history) or the grouped aggregate —
  * both keyed, both AQE-coalesced, both bucketing-friendly at 100 TB.
  */
object GoldMarts {
  private type Q = (SparkSession, String) => DataFrame

  /** C4 mart 2: patient_history analog (gold.sql:55-82) — the 4-way
    * left-join denormalized fan-out: patient ⟕ encounters ⟕
    * transactions ⟕ procedure dim, with the `is_current`-style filter
    * on the preserved side and COALESCE display-name building
    * (gold.sql:69-70).
    *
    * Scale plan: the filtered customer side (1 segment ≈ 20%) is far
    * too big to broadcast at 100 TB, so customer⟕orders and the
    * orders⟕lineitem fan-out are keyed shuffle joins — the honest plan
    * for fact-fact denormalization (bucket both fact tables on the join
    * key to make them co-located zero-shuffle at scale). The procedure
    * dim IS dim-sized and is broadcast. */
  val q27GoldPatientHistory: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE")
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .join(broadcast(p), l("l_partkey") === p("p_partkey"), "left")
      .select(
        c("c_custkey").as("patient_key"),
        concat(coalesce(c("c_name"), lit("")), lit(" "),
          coalesce(c("c_mktsegment"), lit(""))).as("patient_name"),
        o("o_orderkey").as("encounter_id"),
        o("o_orderdate").as("encounter_date"),
        l("l_linenumber").as("tx_line"),
        l("l_extendedprice").as("charge_amount"),
        p("p_name").as("procedure_name"))
  }

  /** C4 mart 3: provider_performance analog (gold.sql:103-128) — the
    * 7-KPI block per provider: distinct encounters/claims, exact
    * monetary sums, conditional distinct counts, and the approval-rate
    * safe ratio (gold.sql:118-120; a single IEEE divide of exact
    * integer operands, like q12's fill_rate).
    *
    * Scale plan: supplier is a broadcast dim. The three DISTINCT
    * counts all key on l_orderkey, so instead of Catalyst's
    * multi-distinct Expand (which quadruples every fact row before
    * partial aggregation and shuffles one row per distinct-group ×
    * order), the aggregate runs in two exact phases: groupBy
    * (provider, order) folds each order to one row with per-order
    * flags and partial integer sums, then groupBy(provider) counts
    * rows and sums flags — n_encounters = rows, n_approved/returned =
    * sum of max-flags, identical algebra, one fact-side shuffle of
    * distinct (provider, order) pairs and zero Expand. */
  val q28GoldProviderPerformance: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    val perOrder = l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"), "left")
      .filter(sup("s_name").isNotNull)
      .groupBy(sup("s_name").as("provider_name"), l("l_orderkey").as("ok"))
      .agg(
        count(lit(1)).as("tx"),
        sumE2(coalesce(l("l_extendedprice"), lit(0.0))).as("charge_e2"),
        sumE4(l("l_extendedprice") * (lit(1.0) - l("l_discount"))).as("paid_e4"),
        // flags guard on a non-null order key: the oracle's
        // count(DISTINCT CASE …) skips NULL keys, so a (provider, NULL)
        // group must contribute to NO distinct-count column (count(ok)
        // skips it for n_encounters; the flags must match)
        max(when(l("l_orderkey").isNotNull && l("l_returnflag") === "N", 1L)
          .otherwise(0L)).as("has_n"),
        max(when(l("l_orderkey").isNotNull && l("l_returnflag") === "R", 1L)
          .otherwise(0L)).as("has_r"))
    perOrder.groupBy("provider_name")
      .agg(
        count(col("ok")).as("n_encounters"),
        sum("tx").as("n_tx"),
        sum("charge_e2").as("total_charge_e2"),
        sum("paid_e4").as("total_paid_e4"),
        sum("has_n").as("n_approved"),
        sum("has_r").as("n_returned"))
      .withColumn("approval_rate",
        col("n_approved").cast("double") /
          when(col("n_encounters") === 0, lit(null))
            .otherwise(col("n_encounters").cast("double")))
  }

  /** C4 mart 4: department_performance analog (gold.sql:145-162) — the
    * split-composite-key dim join (gold.sql:157-160) + 5 KPIs with a
    * quarantine filter on the dim side (gold.sql:161) and an exact-
    * operand AVG (gold.sql:155).
    *
    * Scale plan: the preserved side is a dim; a tiny-preserved-left ⟕
    * huge-fact join cannot broadcast (Spark must build on the
    * non-preserved side), so the lineitem leg is one keyed shuffle on
    * s_suppkey — the honest plan for "keep empty departments"
    * semantics; everything upstream of it is broadcast. */
  val q29GoldDeptPerformance: Q = (s, d) => {
    val dept = Tables.nation(s, d)
      .filter(col("n_regionkey") =!= 4)
      .select(concat(col("n_nationkey").cast("string"), lit("-"), col("n_name")).as("dept_id"),
        col("n_name").as("dept_name"))
    val sup = Tables.supplier(s, d)
    val l = Tables.lineitem(s, d).filter(col("l_returnflag") =!= "R")
    dept
      .join(broadcast(sup),
        split(dept("dept_id"), "-").getItem(0) === sup("s_nationkey").cast("string"), "left")
      .join(l, sup("s_suppkey") === l("l_suppkey"), "left")
      .groupBy(dept("dept_id"), dept("dept_name"))
      .agg(
        countDistinct(sup("s_suppkey")).as("n_providers"),
        count(l("l_orderkey")).as("n_tx"),
        sumE2(coalesce(l("l_extendedprice"), lit(0.0))).as("total_charge_e2"),
        countDistinct(l("l_partkey")).as("n_procedures"))
      .withColumn("avg_charge",
        col("total_charge_e2").cast("double") /
          when(col("n_tx") === 0, lit(null))
            .otherwise(lit(100.0) * col("n_tx").cast("double")))
  }

  /** F12 + F14 + F5: provenance tagging from the scanned file path
    * (claims.py:19-22 — `input_file_name().contains(...)`), plus the
    * silver string→timestamp data-column casts (silver.sql:101-103):
    * a strict-shaped cast on a well-formed string and a SAFE_CAST on
    * garbage (→ NULL). Pure narrow projection — no shuffle. */
  val q30ProvenanceCast: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      when(input_file_name().contains("orders"), lit("orders_feed"))
        .otherwise(lit("unknown")).as("src_feed"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("date_str"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .cast("timestamp").as("parsed_ts"),
      col("o_orderpriority").try_cast("timestamp").as("bad_ts"))

  val defs: Map[String, Q] = Map(
    "q27_gold_patient_history" -> q27GoldPatientHistory,
    "q28_gold_provider_performance" -> q28GoldProviderPerformance,
    "q29_gold_dept_performance" -> q29GoldDeptPerformance,
    "q30_provenance_cast" -> q30ProvenanceCast)

  val oracles: Map[String, String] = Map(
    "q27_gold_patient_history" ->
      """SELECT c.c_custkey AS patient_key,
        |  concat(coalesce(c.c_name, ''), ' ', coalesce(c.c_mktsegment, '')) AS patient_name,
        |  o.o_orderkey AS encounter_id,
        |  o.o_orderdate AS encounter_date,
        |  l.l_linenumber AS tx_line,
        |  l.l_extendedprice AS charge_amount,
        |  p.p_name AS procedure_name
        |FROM customer c
        |LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE c.c_mktsegment = 'AUTOMOBILE'""".stripMargin,
    "q28_gold_provider_performance" ->
      """SELECT s.s_name AS provider_name,
        |  count(DISTINCT l.l_orderkey) AS n_encounters,
        |  count(*) AS n_tx,
        |  CAST(sum(CAST(round(coalesce(l.l_extendedprice, 0.0) * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_charge_e2,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0, 0) AS BIGINT)) AS BIGINT) AS total_paid_e4,
        |  count(DISTINCT CASE WHEN l.l_returnflag = 'N' THEN l.l_orderkey END) AS n_approved,
        |  count(DISTINCT CASE WHEN l.l_returnflag = 'R' THEN l.l_orderkey END) AS n_returned,
        |  CAST(count(DISTINCT CASE WHEN l.l_returnflag = 'N' THEN l.l_orderkey END) AS DOUBLE)
        |    / CASE WHEN count(DISTINCT l.l_orderkey) = 0 THEN NULL
        |           ELSE CAST(count(DISTINCT l.l_orderkey) AS DOUBLE) END AS approval_rate
        |FROM lineitem l
        |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_name IS NOT NULL
        |GROUP BY s.s_name""".stripMargin,
    "q29_gold_dept_performance" ->
      """WITH dept AS (
        |  SELECT concat(CAST(n_nationkey AS VARCHAR), '-', n_name) AS dept_id, n_name AS dept_name
        |  FROM nation WHERE n_regionkey <> 4
        |), lf AS (
        |  SELECT * FROM lineitem WHERE l_returnflag <> 'R'
        |)
        |SELECT d.dept_id, d.dept_name,
        |  count(DISTINCT s.s_suppkey) AS n_providers,
        |  count(l.l_orderkey) AS n_tx,
        |  CAST(sum(CAST(round(coalesce(l.l_extendedprice, 0.0) * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_charge_e2,
        |  count(DISTINCT l.l_partkey) AS n_procedures,
        |  CAST(sum(CAST(round(coalesce(l.l_extendedprice, 0.0) * 100.0, 0) AS BIGINT)) AS DOUBLE)
        |    / CASE WHEN count(l.l_orderkey) = 0 THEN NULL
        |           ELSE 100.0 * CAST(count(l.l_orderkey) AS DOUBLE) END AS avg_charge
        |FROM dept d
        |LEFT JOIN supplier s ON string_split(d.dept_id, '-')[1] = CAST(s.s_nationkey AS VARCHAR)
        |LEFT JOIN lf l ON s.s_suppkey = l.l_suppkey
        |GROUP BY d.dept_id, d.dept_name""".stripMargin,
    "q30_provenance_cast" ->
      """SELECT o_orderkey,
        |  'orders_feed' AS src_feed,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS date_str,
        |  CAST(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS parsed_ts,
        |  TRY_CAST(o_orderpriority AS TIMESTAMP) AS bad_ts
        |FROM orders""".stripMargin)
}
