package graft.queries

import graft.Tables
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table: tumbling-window
  * aggregation with JSON property extraction (q34) and gap-based
  * sessionization (q35). These are the batch expressions of the two
  * canonical streaming shapes — the SAME `window()` aggregation runs
  * under Structured Streaming in [[graft.streaming.StreamingEvents]],
  * and EventStreamSpec pins batch/stream equality, so the batch oracle
  * here transitively verifies the streaming path.
  *
  * Scale notes:
  *  - q34 is one shuffle on (window, event_type) with map-side partial
  *    aggregation; countDistinct(user_id) adds the usual Catalyst
  *    Expand (x2) — the honest exact-distinct plan (approx_count_
  *    distinct would break the oracle by design).
  *  - q35's session assignment is lag + running-sum over
  *    (user_id, ts) — ONE shuffle on user_id; both window functions
  *    share the same sort order so Catalyst evaluates them in a
  *    single Window node, and the session groupBy re-uses the
  *    user_id partitioning (no second full shuffle of raw events).
  *  - Monetary sums follow the repo cents convention (sum of
  *    round(x*100) as BIGINT; see Relational.scala float rules);
  *    durations are integer microseconds (unix_micros) — no float
  *    time math on either engine.
  */
object EventAnalytics {
  private type Q = (SparkSession, String) => DataFrame

  // -- q34: tumbling-window aggregation + JSON extraction -------------

  /** Hourly event KPIs per event_type: counts, distinct users, cents
    * value sum, and the sum of the JSON `k` property
    * (get_json_object — the JSON path operator; the testdata props are
    * single-key objects, oracle-matched via regexp extraction). */
  val q34EventsWindowed: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sumE2(col("value")).as("value_sum_e2"),
        sum(col("k")).as("k_sum"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("n_users"), col("value_sum_e2"), col("k_sum"))

  // -- q35: gap-based sessionization ----------------------------------

  private val SessionGapMicros = 30L * 60 * 1000000 // 30 minutes

  /** `events` plus `session_seq`: per user, in (ts, event_id) order,
    * the running count of session openers (a user's first event, or
    * one more than 30 minutes after the user's previous event). */
  private def sessionSeq(events: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(order))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > SessionGapMicros, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session"))
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user sessions split on >30-minute inactivity gaps: session id
    * = running count of gap-openers over (user_id, ts, event_id), then
    * one aggregate per session (bounds, duration in microseconds,
    * event count, cents value sum). Exposed over a plain DataFrame so
    * EventStreamSpec can pin the streaming sessionizer against it on
    * the same input. */
  private[graft] def sessionizeBatch(events: DataFrame): DataFrame = {
    sessionSeq(events)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"),
        count(lit(1)).as("n_events"),
        sumE2(col("value")).as("value_sum_e2"))
  }

  val q35Sessionize: Q = (s, d) => sessionizeBatch(Tables.events(s, d))

  // -- q117: top session paths (user-journey mining) ---------------------

  /** SEQUENCE MINING over q35's sessions: each session becomes its
    * ordered event-type path (first 5 steps), and the corpus's top-20
    * paths by session count surface the dominant user journeys — the
    * funnel-discovery complement of q65 (which checks ONE declared
    * funnel; this finds which funnels exist). Per-session work is an
    * in-row fold of a bounded collect (sessions are gap-bounded;
    * sort_array over (us, event_id, type) structs makes the order
    * deterministic on both engines), the path aggregate shuffles only
    * (path, count), and the final top-20 lowers to
    * TakeOrderedAndProject — Spark's built-in distributed top-k: each
    * partition keeps its best 20, the driver merges; no global sort at
    * any corpus size, ties at the cut break by path asc in both
    * engines. */
  val q117SessionPaths: Q = (s, d) => {
    val paths = sessionSeq(Tables.events(s, d))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
        col("event_type").as("et")))).as("evs"))
      .select(array_join(
        transform(slice(col("evs"), 1, 5), _.getField("et")), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  // -- q40: as-of join (last-touch attribution) ------------------------

  /** AS-OF JOIN: each purchase picks the same user's most recent click
    * at-or-before its timestamp (last-touch attribution — the
    * point-in-time lookup of feature-store and CDC pipelines).
    *
    * Spark-first plan: instead of a range join (whose equi-key +
    * inequality candidate set explodes quadratically on active users),
    * both sides are UNIONED and attributed in ONE window pass — clicks
    * sort before purchases at equal ts (side 0 < 1, "at-or-before"),
    * and `last(click_id, ignoreNulls)` over the running frame carries
    * the latest click forward to every later purchase. One shuffle of
    * clicks+purchases on user_id, both attribution columns in a single
    * Window node, linear in events at any scale. The DuckDB oracle is
    * the independent per-row LATERAL restatement of the same contract.
    * Gap is integer microseconds (no float time math); purchase value
    * follows the cents convention. */
  val q40AsofJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"), lit(null).cast("double").as("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"), col("value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), coalesce(col("click_id"), col("purchase_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      // both attribution columns in ONE select so they land in a single
      // Window node (chained withColumns defeat CollapseWindow here)
      .select(col("*"),
        last(col("click_id"), ignoreNulls = true).over(w).as("attr_click_id"),
        last(when(col("side") === 0, unix_micros(col("ts"))), ignoreNulls = true).over(w)
          .as("attr_click_us"))
      .filter(col("side") === 1)
      .select(col("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("attr_click_id"),
        (unix_micros(col("ts")) - col("attr_click_us")).as("gap_micros"),
        e2(col("value")).as("value_e2"))
  }

  // -- q62: time-RANGE window frame (trailing 1 hour) ------------------

  private val HourMicros = 3600L * 1000000

  /** Per-event trailing-hour activity: for every event, the count and
    * cents-value sum of the same user's events in the preceding hour
    * (inclusive) — the time-RANGE frame family next to q38's ROWS
    * frames. The frame is declared over integer microseconds
    * (`unix_micros`), so the range bound is exact and both engines
    * agree on tie handling (RANGE includes all equal-ts peers). Both
    * aggregates share one frame ⇒ a single Window node; one shuffle
    * on user_id, linear scan within partition (Spark's sliding range
    * frame keeps a moving [lo, hi] pointer pair, not a re-scan). */
  val q62TrailingWindow: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-HourMicros, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"),
        e2(col("value")).as("value_e2"))
      .select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value_e2")).over(w).as("sum_e2_1h"))
  }

  // -- q63: interval join via time-bucketing ---------------------------

  private val WinPadBeforeUs = 900L * 1000000 // 15 min before the hour
  private val WinLenUs = 3600L * 1000000 // 60-minute windows

  /** INTERVAL JOIN, Spark-first: tag every event falling inside one of
    * the corpus-derived "hot windows" (per event_type, the 3 busiest
    * hours, widened to [hour−15min, hour+45min)). A naive range join
    * (`e.ts BETWEEN w.start AND w.end`) plans as BroadcastNestedLoop —
    * quadratic work at scale. Instead both sides are bucketed to the
    * hour: windows explode into the (≤2) hour buckets they overlap,
    * events key to their own bucket, and the join is a plain EQUI-join
    * on (event_type, bucket) with the range predicate as a residual
    * filter — per-bucket candidate sets, linear in events. The window
    * side here is tiny (3 per type) and broadcasts; with millions of
    * windows the same plan becomes a shuffled hash join on the bucket
    * key. Windows are stride-aligned and 60 min wide, so an event
    * matches at most one window per type — output is join-exact. */
  val q63IntervalJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
    val topW = Window.partitionBy("event_type")
      .orderBy(col("cnt").desc, col("h").asc)
    val wins = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(topW))
      .filter(col("rn") <= 3)
      .select(col("event_type"), col("h"),
        (unix_micros(col("h")) - WinPadBeforeUs).as("start_us"),
        (unix_micros(col("h")) - WinPadBeforeUs + WinLenUs).as("end_us"))
      .withColumn("b", explode(sequence(
        expr(s"start_us div $HourMicros"), expr(s"(end_us - 1) div $HourMicros"))))
    ev.withColumn("b", expr(s"ts_us div $HourMicros"))
      .join(wins, Seq("event_type", "b"))
      .filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .select(col("event_id"), col("event_type"),
        col("h").as("window_hour"), col("ts"))
  }

  // -- q65: ordered funnel conversion ----------------------------------

  /** FUNNEL: per-user ordered view → click → purchase conversion, the
    * step-sequence analysis behind every product/behavior dashboard. A
    * step only counts if it happens at-or-after the previous completed
    * step (strict funnel semantics, ties broken by event_id), which is
    * inherently sequential — expressed as THREE stacked running-frame
    * window columns over ONE (user_id, ts, event_id) sort: the running
    * min of view times marks rows with a view in their past, a click
    * row is "qualified" iff that min is set, and a purchase is
    * qualified iff a qualified click precedes it. One shuffle on
    * user_id total; Catalyst stacks the three Window nodes over the
    * same sort with no extra exchange. The naive alternative (three
    * self-joins on user_id with inequality predicates) shuffles the
    * fact table three times and blows up on active users.
    * All step times are integer microseconds. */
  val q65Funnel: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("v_us", when(col("event_type") === "view", col("us")))
      .withColumn("t1_run", min(col("v_us")).over(w))
      .withColumn("c_us",
        when(col("event_type") === "click" && col("t1_run").isNotNull, col("us")))
      .withColumn("t2_run", min(col("c_us")).over(w))
      .withColumn("p_us",
        when(col("event_type") === "purchase" && col("t2_run").isNotNull, col("us")))
      .groupBy("user_id")
      .agg(
        min(col("v_us")).as("t_view_us"),
        min(col("c_us")).as("t_click_us"),
        min(col("p_us")).as("t_purchase_us"))
      .withColumn("funnel_stage",
        when(col("t_purchase_us").isNotNull, 3L)
          .when(col("t_click_us").isNotNull, 2L)
          .when(col("t_view_us").isNotNull, 1L)
          .otherwise(0L))
  }

  // -- q196: funnel time-to-convert percentiles --------------------------

  /** FUNNEL LATENCY REPORT — q65 counts WHO converts; this reports HOW
    * LONG conversion takes, the number a growth team actually tunes
    * against: over fully-converted users (stage 3), the view→purchase
    * latency in whole seconds, summarized rank-exact (q41/q185
    * percentile discipline — p50/p90/p99 + e3 mean, zero full sorts,
    * zero interpolation/float).
    *
    * Plan: q65's one-shuffle funnel plan verbatim, filtered to
    * converted users; the (latency-second) frequency relation is
    * map-combined and CALENDAR-BOUNDED (distinct whole seconds within
    * the event window — the q185 declared domain bound), so the
    * single-partition running-count window runs over that bounded
    * relation, never over users. */
  val q196FunnelLatency: Q = (s, d) => {
    val freq = q65Funnel(s, d)
      .filter(col("funnel_stage") === 3L)
      .select(expr("(t_purchase_us - t_view_us) div 1000000").as("lat_s"))
      .groupBy("lat_s").agg(count(lit(1)).as("cnt"))
    nearestRank(freq, Nil, "lat_s", col("cnt"),
      Seq(("p50_s", 1, 2), ("p90_s", 9, 10), ("p99_s", 99, 100)),
      sum(col("cnt")).as("n_converted"), sum(col("lat_s") * col("cnt")).as("sum_lat_s"))
      .select(col("n_converted"),
        expr("sum_lat_s * 1000 div n_converted").as("mean_s_e3"),
        col("p50_s"), col("p90_s"), col("p99_s"))
  }

  // -- q66: signup-cohort weekly retention ------------------------------

  private val WeekMicros = 7L * 86400 * 1000000

  /** COHORT RETENTION: users grouped by the ISO week of their first
    * event; for each (cohort_week, week_offset) cell, how many cohort
    * members were active, and what fraction of the cohort that is —
    * the classic retention triangle. Plan: the only fact-sized work is
    * the FIRST aggregate (user_id, week) → distinct activity weeks,
    * partial-combined map-side; everything after runs on the tiny
    * (user × week) relation (a per-user min window, a cell count, and
    * a per-cohort max window for the denominator — DuckDB's engine
    * mirrors each step exactly). Offsets are integer microsecond
    * subtraction / WeekMicros, not calendar week-diff, so both engines
    * agree on every boundary. */
  val q66RetentionCohorts: Q = (s, d) => {
    val act = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .agg(count(lit(1)).as("n_events"))
    val byUser = Window.partitionBy("user_id")
    val cells = act
      .withColumn("cohort_week", min(col("week")).over(byUser))
      .withColumn("week_offset",
        expr(s"(unix_micros(week) - unix_micros(cohort_week)) div $WeekMicros"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
    val byCohort = Window.partitionBy("cohort_week")
    cells
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(byCohort))
      .withColumn("retention_e6",
        round(lit(1e6) * col("n_active").cast("double") /
          col("cohort_size").cast("double"), 0).cast("long"))
  }

  // -- q77: activity streaks (gaps and islands) -------------------------

  /** GAPS-AND-ISLANDS: each user's maximal runs of consecutive active
    * DAYS — the streak/engagement primitive (and the canonical
    * islands formulation: day minus row_number is constant exactly
    * within a consecutive run, so one window + one aggregate finds
    * every island; no self-joins, no recursion). Fact-sized work is
    * the per-(user, day) DISTINCT collapse (partial-combined
    * map-side); the window and the island aggregate then ride the
    * same user_id partitioning on the tiny distinct-days relation —
    * one fact shuffle + one small keyed shuffle total at any scale. */
  val q77ActivityStreaks: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("day"))
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(
        min(col("day")).as("streak_start"),
        max(col("day")).as("streak_end"),
        count(lit(1)).as("n_days"))
      .drop("anchor")
  }

  // -- q79: calendar-spine densification ---------------------------------

  /** CALENDAR SPINE: hourly event counts DENSIFIED over the full
    * (event_type × hour) grid — missing hours surface as explicit
    * zeros, which every time-series consumer (charting, anomaly
    * windows, forecasting feeds) requires and a plain groupBy can
    * never produce. The spine is GENERATED (`sequence` + explode over
    * the corpus min/max hour), so the grid needs no stored calendar
    * table; the types×hours cross join multiplies two control-plane
    * relations (|types| · |hours| rows — bounded by design, the q33
    * exemption class), and the fact-sized work remains the one
    * partial-aggregated (event_type, hour) count, LEFT-joined back to
    * the grid on its own keys. */
  val q79HourlySpine: Q = (s, d) => {
    // counts is persisted and the spine bounds + type list both derive
    // FROM it, so the fact table is scanned exactly once; the three
    // derived relations are all control-plane sized (≤ types × hours)
    val counts = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("n_events"))
      .transform(graft.ops.SharedCache.persist)
    val spine = counts.agg(min(col("h")).as("h_min"), max(col("h")).as("h_max"))
      .select(explode(sequence(col("h_min"), col("h_max"), expr("INTERVAL 1 HOUR"))).as("h"))
    val types = counts.select("event_type").distinct()
    types.crossJoin(spine)
      .join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  // -- q81: LOCF forward fill (imputation) --------------------------------

  /** LOCF (last observation carried forward): every event carries the
    * user's most recent purchase value and the microseconds elapsed
    * since it — the gap-fill/imputation pattern of feature
    * backfills and session enrichment (null until the first purchase,
    * exactly like a feature store's point-in-time correctness rule).
    * Both carried columns ride ONE running frame over one user_id
    * shuffle (`last(_, ignoreNulls)` — same single-Window discipline
    * as q40); DuckDB's `last_value(x IGNORE NULLS)` is the identical
    * SQL-standard semantics. */
  val q81ForwardFill: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        when(col("event_type") === "purchase",
          e2(col("value"))).as("p_e2"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("us"),
        last(col("p_e2"), ignoreNulls = true).over(w).as("last_purchase_e2"),
        (col("us") - last(when(col("p_e2").isNotNull, col("us")), ignoreNulls = true)
          .over(w)).as("us_since_purchase"))
  }

  // -- q116: time-weighted linear interpolation --------------------------

  /** LINEAR INTERPOLATION RESAMPLING — the two-sided complement of
    * q81's LOCF: each event's value is re-estimated from its
    * neighbors, weighted by time —
    * interp(t) = (v_prev·(t_next−t) + v_next·(t−t_prev)) / (t_next−t_prev)
    * — the classic time-series smoothing/gap-fill primitive (sensor
    * resampling, anomaly baselines: a value far from its own
    * interpolation is the outlier candidate). Integer-exact: e2-scaled
    * values × microsecond timestamps; both numerator terms are
    * products of non-negatives bounded by the ADJACENT-event gap (not
    * the stream span), so the math fits a long even on years-long
    * logs, and every div operand is non-negative (README contract).
    * Endpoints (no neighbor) and zero-width spans (equal-ts neighbors)
    * are null, not fabricated. Plan: lag + lead ride ONE (user_id)
    * sort — a single shuffle at any scale; ordering ties broken by
    * event_id so both engines see the same neighbor assignment. */
  val q116LinearInterp: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        e2(col("value")).as("v_e2"))
      .select(col("event_id"), col("user_id"), col("us"), col("v_e2"),
        lag(col("us"), 1).over(w).as("pus"), lag(col("v_e2"), 1).over(w).as("pv"),
        lead(col("us"), 1).over(w).as("nus"), lead(col("v_e2"), 1).over(w).as("nv"))
      .select(col("event_id"), col("user_id"), col("us"), col("v_e2"),
        when(col("pus").isNotNull && col("nus").isNotNull && col("nus") > col("pus"),
          expr("(pv * (nus - us) + nv * (us - pus)) div (nus - pus)")).as("interp_e2"))
  }

  // -- registry --------------------------------------------------------

  // -- q83: trailing-7-day distinct users (sliding distinct, no DISTINCT) --

  /** TRAILING-WINDOW DISTINCT: distinct active users over the trailing
    * 7 days, for every window-day — the rolling-MAU/WAU metric.
    * COUNT(DISTINCT) over a sliding frame is unsupported (and would be
    * quadratic); the naive grid×events range join re-scans every event
    * 7 times and still needs a distinct. Spark-first plan instead makes
    * each user contribute EXACTLY ONE row per window-day they're
    * active in: collapse to per-user sorted active-day arrays (one
    * shuffle on user_id), then in-row, each active day d with successor
    * nd covers window-days [d, min(d+6, nd-1)] — d is the LAST active
    * day in precisely those windows, so summing contributions per day
    * IS the distinct count, with a plain COUNT and bounded ≤7× fan-out
    * of the (user, day) relation, never of raw events. Second shuffle
    * is the tiny per-day count. Arrays are bounded by calendar days,
    * not event volume. Output covers [min_day, max_day+6] window-days
    * with ≥1 trailing-active user (oracle: grid + range join +
    * count(DISTINCT) — the independent quadratic restatement). */
  val q83TrailingDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("day"))).as("days"))
      .select(explode(flatten(zip_with(
        col("days"),
        concat(slice(col("days"), lit(2), size(col("days"))),
          array(lit(null).cast("date"))),
        (day, nd) => sequence(
          day,
          when(nd.isNull, date_add(day, 6))
            .otherwise(least(date_add(day, 6), date_sub(nd, 1))))))).as("window_day"))
      .groupBy(col("window_day"))
      .agg(count(lit(1)).as("n_active_users"))

  // -- q84: event-transition matrix (Markov bigrams) ---------------------

  /** TRANSITION MATRIX: per-user consecutive event-type pairs with
    * per-source-state rates — the behavioral-sequence profile (Markov
    * chain estimate) of product analytics. lag over the total
    * (ts, event_id) per-user order is ONE shuffle on user_id; the pair
    * counts partial-aggregate into a ≤|types|² relation, and the rate
    * divides by the source-state total on that tiny relation (window,
    * no extra shuffle of facts). Rates are integer floor-divided ppm —
    * exact in both engines. */
  val q84TransitionMatrix: Q = (s, d) => transitionRates(s, d)

  /** Per (prev_type, next_type) pair of a user's consecutive events in
    * (ts, event_id) order: `n_trans` and `rate_ppm`, its integer ppm
    * share of the transitions out of prev_type. */
  private def transitionRates(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(order))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("src_total", sum(col("n_trans")).over(Window.partitionBy("prev_type")))
      .withColumn("rate_ppm", expr("n_trans * 1000000 div src_total"))
      .drop("src_total")
  }

  // -- q204: stationary event mix (Markov steady state) -----------------

  /** Power-iteration depth — fixed unrolled iterations, the q90/q57
    * convention for iterative numerics (the oracle chains the same
    * CTEs; Round10bOpsSpec pins that the last iteration moves no
    * type's share by more than a few ppm at test sf, the convergence
    * witness). */
  private[graft] val StationaryIters = 6

  /** STATIONARY EVENT MIX — where q84's Markov chain CONVERGES: the
    * long-run share of each event type if users keep behaving like
    * the observed transition matrix (the steady-state load forecast —
    * what the event mix drifts toward, read against today's mix to
    * see which processors will grow). [[StationaryIters]] power
    * iterations in integer e9 from the uniform start, each edge
    * contributing pi·rate_ppm div 1e6 (the q90 floor discipline;
    * floor loss and sink types shed mass rather than redistributing —
    * documented, the q90-vs-q90b distinction, and the shares are read
    * relatively).
    *
    * Scale: ONE shuffle of facts (the q84 lag window) builds the
    * ≤|types|²-row transition relation; every iteration after that is
    * a keyed join + map-combined sum on that domain-bounded relation
    * — corpus volume is touched exactly once, like q165's dictionary
    * rounds. */
  val q204StationaryMix: Q = (s, d) => {
    val trans = transitionRates(s, d)
      .select(col("prev_type"), col("next_type"), col("rate_ppm"))
      .transform(graft.ops.SharedCache.persist) // read every iteration
    val types = trans.select(col("prev_type").as("node"))
      .unionByName(trans.select(col("next_type").as("node")))
      .distinct()
      .transform(graft.ops.SharedCache.persist) // spine of every iteration
    val n = types.count() // control-plane scalar (q61 convention)
    var pi = types.select(col("node"), lit(1000000000L / n).as("pi_e9"))
    (1 to StationaryIters).foreach { _ =>
      val inflow = trans.join(pi, col("prev_type") === col("node"))
        .select(col("next_type"), expr("pi_e9 * rate_ppm div 1000000").as("c"))
        .groupBy("next_type").agg(sum(col("c")).as("inflow"))
      pi = types.join(inflow, col("node") === col("next_type"), "left")
        .select(col("node"), coalesce(col("inflow"), lit(0L)).as("pi_e9"))
        .localCheckpoint(true) // |types| rows; lineage cut per iteration
    }
    pi.select(col("node").as("event_type"), col("pi_e9"),
      expr("pi_e9 div 1000").as("share_ppm"))
  }

  // -- q91: sliding distinct via mergeable sketch (q83's scale path) ----

  /** Built-in-sketch variant: ONE HyperLogLog sketch per day
    * (`hll_sketch_agg` — the only pass over events), every trailing
    * window assembled by UNION-MERGING the 7 daily sketches
    * (`hll_union_agg` → `hll_sketch_estimate`). Production default
    * (lgK 12 ⇒ ~1.6% rsd), but HLL register bits are engine-private,
    * so this variant has no external oracle — ProfilingSpec pins every
    * window against exact q83. The DRIVER-GATED variant is
    * [[q91SlidingSketch]] below. */
  private[graft] val slidingHll: Q = (s, d) =>
    Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("window_day"),
        col("sk"))
      .groupBy(col("window_day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))

  /** Sampling fraction of the q91 user-space sample: users whose first
    * md5 hex digit is 0–3 (4 of 16 buckets ⇒ f = 1/4). Estimate rsd is
    * √((1−f)/(f·D)) per window (D = true distinct) — tune f down as D
    * grows; at 100 TB MAU scale f=2⁻¹⁰ still leaves 10⁴+ sampled users
    * per window. */
  private[graft] val SketchBuckets = Seq("0", "1", "2", "3")
  // integer division must be exact or est_users is silently biased low
  // in BOTH engines (the oracle gate cannot catch a shared bias)
  require(16 % SketchBuckets.size == 0,
    s"SketchBuckets.size=${SketchBuckets.size} must divide 16")
  private[graft] val SketchScale = 16L / SketchBuckets.size

  /** TRAILING-7-DAY DISTINCT USERS, SKETCHED + ORACLE-EXACT: the same
    * pre-aggregation pattern as [[slidingHll]] — per-day distinct
    * state computed ONCE and reused by every window that covers it,
    * fan-out bounded by window width, never of events, incremental by
    * construction — but the per-day state is a DETERMINISTIC
    * hash-threshold user sample (md5 first hex digit ∈ 0–3, a fixed
    * 1/4 of user-id space): a KMV-style bottom-fraction sketch whose
    * merge is plain set union and whose every bit is a pure function
    * of the data, so a DuckDB oracle reproduces `est_users =
    * SketchScale · |∪ samples|` exactly. Daily sample sets are bounded
    * by f·(users/day); the window merge touches sets, never events.
    * Emits the same window-day set as q83 (every active day
    * contributes a row even when its sample is empty). ProfilingSpec
    * pins each window's estimate against exact q83 within the
    * analytic rsd bound. */
  val q91SlidingSketch: Q = (s, d) => {
    val sampled = substring(md5(col("user_id").cast("string")), 1, 1)
      .isin(SketchBuckets: _*)
    Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(collect_set(when(sampled, col("user_id"))).as("su"))
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("window_day"),
        col("su"))
      .groupBy(col("window_day"))
      .agg(size(array_distinct(flatten(collect_list(col("su")))))
        .cast("long").as("n_sampled"))
      .select(col("window_day"), col("n_sampled"),
        (col("n_sampled") * SketchScale).as("est_users"))
  }

  // -- q108: skew-salted fact-to-dim join -----------------------------

  private val JoinSalts = 16

  /** SKEW-SALTED JOIN, surfaced as a first-class query: enrich every
    * event with its user's first-seen timestamp (a per-user dimension
    * — at 100 TB far past broadcast range) and roll activity up by
    * user tenure. A plain shuffle join keys both sides on user_id
    * alone, so ONE power user's events all land in one task — the
    * classic straggler AQE's skew split cannot always fix (a hot key
    * concentrated enough is a single task's worth of one key even
    * after splitting). [[graft.ops.Skew.saltedJoin]] spreads each
    * user's fact rows over [[JoinSalts]] sub-keys and replicates the
    * dim row once per salt, bounding the heaviest task by
    * hot_rows/16 at ANY skew. Salt placement never reaches the
    * output — the result is join-exact, so the DuckDB oracle is the
    * plain unsalted join. The tenure rollup then re-aggregates to a
    * bounded (event_type × bucket) grid; n_users stays exact through
    * the salted join because dim replication never duplicates a
    * (fact-row, dim-row) match. */
  val q108SaltedSkewJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    val dim = e.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
    graft.ops.Skew.saltedJoin(e, dim, Seq("user_id"), JoinSalts)
      .withColumn("age_days",
        datediff(to_date(col("ts")), to_date(col("first_ts"))))
      .withColumn("tenure",
        when(col("age_days") === 0, "day0")
          .when(col("age_days") <= 7, "week1")
          .when(col("age_days") <= 30, "month1")
          .otherwise("later"))
      .groupBy(col("event_type"), col("tenure"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  // -- q122: exponentially weighted moving average ----------------------

  private val EwmaTaps = 8 // α = 1/2 over the trailing 8 events

  /** EWMA SMOOTHING per user: the trailing exponentially weighted
    * average of the cents value (α = 1/2, truncated at 8 taps — the
    * tail weight beyond that is < 1/128 of the head), the classic
    * time-series denoiser next to q38's flat moving average and q116's
    * gap interpolation. ALL arithmetic is integer: weights are exact
    * powers of two scaled by 2^7, so
    * ewma_e2 = Σ v_{t-k}·2^(7-k) div Σ_present 2^(7-k)
    * with the denominator adapting at partition heads where fewer taps
    * exist — no float accumulation order anywhere, bit-equal across
    * engines, and `div` truncation = floor because values are
    * non-negative (README contract; testdata min value is 0.01).
    *
    * Plan: the 8 lag() taps share ONE (user_id, ts, event_id) sort, so
    * Catalyst evaluates them in a single Window node — one shuffle on
    * user_id total, per-row work O(taps). At 100 TB this is the
    * standard per-key window shape: no state beyond the frame, no
    * iteration, skew bounded by the busiest single user. */
  val q122EwmaSmooth: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val taps = (0 until EwmaTaps).map { k =>
      val weight = 1L << (EwmaTaps - 1 - k)
      val v = if (k == 0) col("v_e2") else lag(col("v_e2"), k).over(w)
      (coalesce(v * weight, lit(0L)),
        when(v.isNotNull, lit(weight)).otherwise(lit(0L)))
    }
    Tables.events(s, d)
      .withColumn("v_e2", e2(col("value")))
      .withColumn("num", taps.map(_._1).reduce(_ + _))
      .withColumn("den", taps.map(_._2).reduce(_ + _))
      .select(col("event_id"), col("user_id"), col("ts"), col("v_e2"),
        expr("num div den").as("ewma_e2"))
  }

  // -- q268: Holt linear-trend forecast ---------------------------------

  /** Holt smoothing constants as e1 integers: α = 0.2 (level), β = 0.1
    * (trend) — the textbook defaults, declared rather than fitted. */
  private val HoltAlphaNum = 2L  // α·10
  private val HoltBetaNum = 1L   // β·10

  /** Offsets that keep every `div` operand NON-NEGATIVE (the README
    * integer-div convention: cross-engine floor/truncate agree only
    * there). (x + 10·K) div 10 − K = floor(x/10) for any x ≥ −10·K,
    * so the recursion is uniform FLOOR arithmetic in both engines.
    * Magnitudes: |l|,|b| ≤ ~1e14 at 30× ≪ K = 1e15. */
  private val HoltOff = 1000000000000000L        // 10^15 (for div 10)
  private val HoltOffF = 1000000000000L          // 10^12 (for div 1e6)

  /** q268's plain-Holt step from ONE template serving both engines
    * (the [[hwStep]] discipline, used by q268 AND q270's backtest):
    *   l' = α·y + (1−α)(l + b)
    *   b' = β(l' − l) + (1−β)b
    * in e6 fixed-point FLOOR arithmetic via the [[HoltOff]] offset
    * convention; l' inlined where referenced. */
  private def holtStep(accL: String, accB: String, y6: String, div: String)
      : (String, String) = {
    val off = s"${10 * HoltOff}"
    val lNew = s"(($HoltAlphaNum * ($y6) + ${10 - HoltAlphaNum} * " +
      s"($accL + $accB) + $off) $div 10 - $HoltOff)"
    val bNew = s"(($HoltBetaNum * ($lNew - $accL) + ${10 - HoltBetaNum} * " +
      s"$accB + $off) $div 10 - $HoltOff)"
    (lNew, bNew)
  }

  /** The (event_type, day, y-cents) daily relation every
    * forecast-family member (q268–q273) folds — ADDITIVE under any
    * chunking of the event stream (same-day partials merge by +),
    * which is exactly what [[graft.streaming.StreamingForecast]]
    * maintains continuously: batch queries and streaming reports
    * share this relation and the finalizers verbatim, so the six
    * DuckDB oracles transitively verify the streaming reports. */
  private[graft] def forecastDaily(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        e2(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum(col("cents")).as("y"))

  /** HOLT LINEAR-TREND FORECAST (Holt 1957) — the missing FORECASTING
    * member of the time-series family: q122 smooths, q150/q160 fit a
    * global slope, q253 tests for trend, but nothing answers "what do
    * we expect NEXT week". Per event type, double exponential
    * smoothing over the observed daily cents series (level l and
    * trend b, α=0.2 / β=0.1) folded in day order, then the h-step
    * forecasts ŷ(h) = l + h·b for h = 1..7 — the capacity-planning
    * read next to q204's long-run mix.
    *
    * Exactness: the fold is pure e6 fixed-point integer arithmetic —
    *   l_t = floor((α10·y_t·1e6 + (10−α10)·(l+b)) / 10)
    *   b_t = floor((β10·(l_t − l) + (10−β10)·b) / 10)
    * with every division made non-negative by the [[HoltOff]] shift
    * (so both engines compute the identical FLOOR regardless of their
    * negative-operand division convention), initialized l_0 = y_0·1e6,
    * b_0 = 0. The oracle replays the identical recursion as a
    * recursive CTE keyed by (type, rn). The series is the OBSERVED
    * days in order (calendar gaps carry no zero-fill — the declared
    * semantics; q79's spine is the gap-filling tool when a strictly
    * daily cadence is wanted).
    *
    * Plan: one map-combined (type, day) collapse (the only row-scaled
    * stage), then the fold runs as one in-row `aggregate` HOF over the
    * day-ordered array per type (the q254 discipline — the array is
    * calendar-bounded, ≤|days| entries), and h = 1..7 explodes off the
    * |types|-row result. One shuffle, no windows over data-scaled
    * relations, no driver loop. */
  val q268HoltForecast: Q = (s, d) =>
    holtForecastFinalize(forecastDaily(Tables.events(s, d)))

  /** q268 off an existing daily relation (the streaming-shared form). */
  private[graft] def holtForecastFinalize(daily: DataFrame): DataFrame = {
    val (lN, bN) = holtStep("acc.l", "acc.b", "s.y * 1000000", "div")
    val folded = daily
      .transform(dailySeries)
      .select(col("event_type"), col("n_days"),
        expr(s"""aggregate(ys,
               |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
               |               'n', CAST(0 AS BIGINT)),
               |  (acc, s) -> CASE WHEN acc.n = 0
               |    THEN named_struct('l', s.y * 1000000L,
               |                      'b', CAST(0 AS BIGINT), 'n', 1L)
               |    ELSE named_struct('l', $lN, 'b', $bN, 'n', acc.n + 1L)
               |  END)""".stripMargin).as("st"))
      .select(col("event_type"), col("n_days"),
        col("st.l").as("level_e6"), col("st.b").as("trend_e6"))
    folded
      .select(col("event_type"), col("n_days"), col("level_e6"),
        col("trend_e6"), explode(expr("sequence(1L, 7L)")).as("h"))
      .withColumn("forecast_cents",
        expr(s"(level_e6 + h * trend_e6 + ${1000000L * HoltOffF}L) " +
          s"div 1000000L - ${HoltOffF}L"))
  }

  // -- q269: Holt-Winters additive seasonal forecast --------------------

  /** γ = 0.3 seasonal smoothing constant (e1 integer), joining q268's
    * α = 0.2 / β = 0.1. Period is the week, slotted by CALENDAR
    * day-of-week (epoch-day mod 7, identical arithmetic both engines)
    * rather than position mod 7, so calendar gaps can never rotate the
    * seasonal index. */
  private val HwGammaNum = 3L

  /** ONE string-builder serves both engines' Holt-Winters step — the
    * Spark fold lambda and the DuckDB recursive-CTE arm are generated
    * from the same template, so the two recursions cannot drift.
    * `accL`/`accB`/`accS(i)` reference the prior state, `y6` the e6
    * observation, `slot` the day-of-week slot, `div` the engine's
    * integer division (both compute FLOOR here: every operand is
    * offset non-negative per the [[HoltOff]] convention). Returns
    * (l', b', s0'..s6') with the additive HW update
    *   l' = α(y − s_w) + (1−α)(l + b)
    *   b' = β(l' − l) + (1−β)b
    *   s_w' = γ(y − l') + (1−γ)s_w   (other slots unchanged)
    * — l' inlined where referenced (neither engine's lambda/SELECT arm
    * can bind intermediates). */
  private def hwStep(accL: String, accB: String, accS: Int => String,
      y6: String, slot: String, div: String)
      : (String, String, IndexedSeq[String]) = {
    val off = s"${10 * HoltOff}"
    val sw = (0 to 6).map(i => s"WHEN $i THEN ${accS(i)}")
      .mkString(s"(CASE $slot ", " ", " END)")
    val lNew = s"(($HoltAlphaNum * (($y6) - $sw) + ${10 - HoltAlphaNum} * " +
      s"($accL + $accB) + $off) $div 10 - $HoltOff)"
    val bNew = s"(($HoltBetaNum * ($lNew - $accL) + ${10 - HoltBetaNum} * " +
      s"$accB + $off) $div 10 - $HoltOff)"
    val sNew = (0 to 6).map { i =>
      s"(CASE WHEN $slot = $i THEN ($HwGammaNum * (($y6) - $lNew) + " +
        s"${10 - HwGammaNum} * ${accS(i)} + $off) $div 10 - $HoltOff " +
        s"ELSE ${accS(i)} END)"
    }
    (lNew, bNew, sNew)
  }

  /** HOLT-WINTERS ADDITIVE SEASONAL FORECAST (Winters 1960) — q268's
    * Holt plus the seasonal term the daily-cents series visibly has
    * (q135 measures hour-of-week seasonality; this LEARNS a day-of-week
    * component and forecasts with it): per event type, triple
    * exponential smoothing over the observed daily cents series with a
    * 7-slot additive seasonal state indexed by calendar day-of-week,
    * then ŷ(h) = l + h·b + s[slot(last_day + h)] for h = 1..7.
    *
    * Exactness: the identical e6 fixed-point FLOOR recursion on both
    * engines — the step expressions are generated from ONE template
    * ([[hwStep]]) with every division offset non-negative. Declared
    * init (documented, not fitted): l_0 = y_0·1e6, b_0 = 0, all
    * seasonal slots 0 — each slot's first visit then sets it to
    * γ·(y − l), warming up over the first week. The series is the
    * OBSERVED days in order (q268's gap semantics; slots are calendar
    * dow, so gaps never rotate the season).
    *
    * Plan: identical shape to q268 — one map-combined (type, day)
    * collapse, the fold is one in-row aggregate HOF over the
    * calendar-bounded day array, horizons explode off the |types|-row
    * result. One shuffle, no driver loop; the 7-slot state rides the
    * fold struct, so the seasonal dimension adds zero plan nodes. */
  val q269HoltWinters: Q = (s, d) =>
    hwForecastFinalize(forecastDaily(Tables.events(s, d)))

  /** q269 off an existing daily relation (the streaming-shared form). */
  private[graft] def hwForecastFinalize(dailyRaw: DataFrame): DataFrame = {
    val daily = dailyRaw
      .withColumn("slot", expr("datediff(day, DATE '1970-01-01') % 7"))
    val (lN, bN, sN) = hwStep("acc.l", "acc.b", i => s"acc.s$i",
      "s.y * 1000000", "s.slot", "div")
    val zeroS = (0 to 6).map(i => s"'s$i', CAST(0 AS BIGINT)").mkString(", ")
    val stepS = (0 to 6).map(i => s"'s$i', ${sN(i)}").mkString(", ")
    val folded = daily
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), max(col("day")).as("last_day"),
        sort_array(collect_list(struct(col("day"), col("slot"), col("y"))))
          .as("ys"))
      .select(col("event_type"), col("n_days"), col("last_day"),
        expr(s"""aggregate(ys,
               |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
               |               $zeroS, 'n', CAST(0 AS BIGINT)),
               |  (acc, s) -> CASE WHEN acc.n = 0
               |    THEN named_struct('l', s.y * 1000000, 'b', CAST(0 AS BIGINT),
               |                      $zeroS, 'n', CAST(1 AS BIGINT))
               |    ELSE named_struct('l', $lN, 'b', $bN, $stepS, 'n', acc.n + 1)
               |  END)""".stripMargin).as("st"))
    val sH = (0 to 6).map(i => s"WHEN $i THEN st.s$i")
      .mkString("CASE slot_h ", " ", " END")
    folded
      .select(col("event_type"), col("n_days"), col("st"),
        expr("datediff(last_day, DATE '1970-01-01')").as("last_idx"),
        explode(expr("sequence(1L, 7L)")).as("h"))
      .withColumn("slot_h", expr("(last_idx + h) % 7"))
      .select(col("event_type"), col("n_days"),
        col("st.l").as("level_e6"), col("st.b").as("trend_e6"), col("h"),
        expr(sH).as("season_e6"),
        expr(s"(st.l + h * st.b + ($sH) + ${1000000L * HoltOffF}) " +
          s"div 1000000 - $HoltOffF").as("forecast_cents"))
  }

  // -- q270: rolling-origin forecast backtest ---------------------------

  /** First usable backtest origin: the Holt state is two observations
    * deep by rn = 3, so every evaluated forecast has seen level AND a
    * fitted trend. Declared, mirrored by the oracle. */
  private val BacktestMinOrigin = 3L

  /** The day-ordered series of a daily relation per event type:
    * `n_days` and `ys`, the sorted (day, y) structs. */
  private def dailySeries(daily: DataFrame): DataFrame =
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("y")))).as("ys"))

  /** `hist`, the [[holtStep]] state history over `ys`: element rn is
    * the (l, b) state fitted on y_1..y_rn, so a rolling-origin refit is
    * an array read. */
  private def holtHistory: Column = {
    val (lN, bN) = holtStep("acc.l", "acc.b", "s.y * 1000000", "div")
    expr(s"""aggregate(ys,
            |  named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),
            |    'n', CAST(0 AS BIGINT),
            |    'hist', CAST(array() AS ARRAY<STRUCT<l: BIGINT, b: BIGINT>>)),
            |  (acc, s) -> CASE WHEN acc.n = 0
            |    THEN named_struct('l', s.y * 1000000L, 'b', CAST(0 AS BIGINT),
            |      'n', 1L, 'hist', array(named_struct('l', s.y * 1000000L,
            |                                          'b', CAST(0 AS BIGINT))))
            |    ELSE named_struct('l', $lN, 'b', $bN, 'n', acc.n + 1L,
            |      'hist', array_append(acc.hist,
            |        named_struct('l', $lN, 'b', $bN)))
            |  END).hist""".stripMargin).as("hist")
  }

  /** `sad`, the in-sample one-step naive error Σ|y_t − y_{t−1}| of `ys`:
    * the MASE denominator. */
  private def naiveSad: Column =
    expr("""aggregate(sequence(2, CAST(size(ys) AS INT)), CAST(0 AS BIGINT),
           |  (a, i) -> a + abs(element_at(ys, i).y
           |                    - element_at(ys, i - 1).y))""".stripMargin)
      .as("sad")

  /** One row per backtest origin `rn`, [[BacktestMinOrigin]] ≤ rn <
    * n_days. Spark's sequence() descends when stop < start, so a
    * shorter series gets an empty array: no origins, not a reversed
    * ramp. */
  private def origins: Column =
    explode(expr(s"CASE WHEN n_days - 1 >= $BacktestMinOrigin THEN " +
      s"sequence(${BacktestMinOrigin}L, n_days - 1) " +
      "ELSE CAST(array() AS ARRAY<BIGINT>) END")).as("rn")

  /** One row per horizon `h` = 1..min(7, n_days − rn) of origin rn. */
  private def horizons: Column =
    explode(expr("sequence(1L, least(7L, n_days - rn))")).as("h")

  /** One row per (origin `rn`, horizon `h`) of `folded` (event_type,
    * n_days, ys, hist, sad), with `so`, the state history's element
    * rn. */
  private def originHorizons(folded: DataFrame): DataFrame =
    folded
      .select(col("event_type"), col("n_days"), col("ys"), col("hist"),
        col("sad"), origins)
      .select(col("event_type"), col("n_days"), col("sad"), col("rn"),
        expr("element_at(hist, CAST(rn AS INT))").as("so"), col("ys"),
        horizons)

  /** Per (event_type, h, method): the eval count, the summed absolute
    * error and the MASE in e6, (sae·(N−1)·1e6) div (n_evals·sad), NULL
    * for a constant series (sad = 0). `methods` is a `stack(2, ...)`
    * of (method, abs_err) over the rows of `evals`. */
  private def mase(evals: DataFrame, methods: String): DataFrame =
    evals
      .select(col("event_type"), col("n_days"), col("sad"), col("h"),
        expr(methods).as(Seq("method", "abs_err")))
      .groupBy(col("event_type"), col("h"), col("method"))
      .agg(count(lit(1)).as("n_evals"), sum(col("abs_err")).as("sae_cents"),
        max(col("sad")).as("sad"), max(col("n_days")).as("nd"))
      .select(col("event_type"), col("h"), col("method"), col("n_evals"),
        col("sae_cents"),
        expr("CASE WHEN sad > 0 THEN (sae_cents * (nd - 1) * 1000000) " +
          "div (n_evals * sad) END").as("mase_e6"))

  /** ROLLING-ORIGIN FORECAST BACKTEST (Tashman 2000's evaluation
    * protocol; MASE per Hyndman & Koehler 2006) — the eval that tells
    * you whether q268's forecaster EARNS its keep: for every origin
    * rn ≥ 3 and horizon h = 1..7, forecast ŷ(rn+h) from the Holt state
    * fitted on y_1..y_rn and from the naive last-value rule, score
    * both against the actual, and report per (type, horizon, method)
    * the eval count, summed absolute error (cents, exact), and MASE
    * scaled e6 — |errors| normalized by the in-sample one-step naive
    * error Σ|y_t − y_{t−1}|/(N−1), so MASE < 1e6 reads "beats naive".
    *
    * Exactness: the per-origin states are the SAME [[holtStep]]
    * recursion (template-shared with q268 on both engines), the fold
    * keeps the whole state HISTORY as an in-row array (one (l,b) per
    * prefix — rolling-origin refits are array reads, not refits), and
    * MASE is one integer division: (sae·(N−1)·1e6) div (n_evals·sad),
    * NULL-guarded when the series is constant (sad = 0).
    *
    * Plan: q268's shape plus two in-row explodes — the fold array is
    * calendar-bounded (≤|days| states/type), origins × horizons
    * expand the |types|-row relation to ≤|types|·|days|·7 eval rows
    * (control-plane-sized at any corpus scale), and the final
    * aggregate groups a bounded relation. One data-scaled shuffle
    * total (the (type, day) collapse); everything downstream is
    * calendar-bounded. */
  val q270ForecastBacktest: Q = (s, d) =>
    backtestFinalize(forecastDaily(Tables.events(s, d)))

  /** q270 off an existing daily relation (the streaming-shared form). */
  private[graft] def backtestFinalize(daily: DataFrame): DataFrame = {
    val folded = daily
      .transform(dailySeries)
      .select(col("event_type"), col("n_days"), col("ys"),
        holtHistory,
        naiveSad)
    val evals = originHorizons(folded)
      .select(col("event_type"), col("n_days"), col("sad"), col("h"),
        expr("element_at(ys, CAST(rn + h AS INT)).y").as("actual"),
        expr(s"(so.l + h * so.b + ${1000000L * HoltOffF}) " +
          s"div 1000000 - $HoltOffF").as("fc_holt"),
        expr("element_at(ys, CAST(rn AS INT)).y").as("y0"))
    mase(evals, """stack(2, 'holt', abs(fc_holt - actual),
                   |         'naive', abs(y0 - actual))""".stripMargin)
  }

  // -- q271: seasonal forecast backtest ---------------------------------

  /** SEASONAL FORECAST BACKTEST — q270's rolling-origin protocol
    * applied to the SEASONAL pair: the seasonal-naive rule (ŷ(rn+h) =
    * y_{rn+h−7}, the no-skill baseline that "knows" the week; falls
    * back to last-value when the series hasn't seen a full week) and
    * the Holt-Winters model (q269's recursion, state history kept by
    * the fold). Same origins, same in-sample naive MASE denominator,
    * and the SAME output schema as q270 — UNION the two relations and
    * you have the 4-method model-selection table (naive / snaive /
    * holt / hw), each method's MASE on one comparable scale where
    * < 1e6 reads "beats last-value". The HW forecast for origin rn,
    * horizon h uses the seasonal slot of the ACTUAL target day
    * (element rn+h of the observed series — known at eval time), so
    * calendar gaps score against the right weekday slot.
    *
    * Exactness: the per-origin HW states are the SAME [[hwStep]]
    * template recursion; the fold keeps the full 9-field state per
    * prefix as an in-row array (prior state = the array's last
    * element — no separate scalar copy to drift). All errors exact
    * cents; MASE the same integer division as q270.
    *
    * Plan: q270's shape exactly — one data-scaled (type, day)
    * collapse, a calendar-bounded fold, two in-row explodes, one
    * bounded aggregate. The 7-slot seasonal state rides the fold
    * array; no extra shuffle. */
  val q271SeasonalBacktest: Q = (s, d) =>
    seasonalBacktestFinalize(forecastDaily(Tables.events(s, d)))

  /** q271 off an existing daily relation (the streaming-shared form). */
  private[graft] def seasonalBacktestFinalize(dailyRaw: DataFrame): DataFrame = {
    val daily = dailyRaw
      .withColumn("slot", expr("datediff(day, DATE '1970-01-01') % 7"))
    val prior = "element_at(acc.hist, size(acc.hist))"
    val (lN, bN, sN) = hwStep(s"$prior.l", s"$prior.b",
      i => s"$prior.s$i", "s.y * 1000000", "s.slot", "div")
    val zeroS = (0 to 6).map(i => s"'s$i', CAST(0 AS BIGINT)").mkString(", ")
    val stepS = (0 to 6).map(i => s"'s$i', ${sN(i)}").mkString(", ")
    val histT = "ARRAY<STRUCT<l: BIGINT, b: BIGINT, " +
      (0 to 6).map(i => s"s$i: BIGINT").mkString(", ") + ">>"
    val folded = daily
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("slot"), col("y"))))
          .as("ys"))
      .select(col("event_type"), col("n_days"), col("ys"),
        expr(s"""aggregate(ys,
               |  named_struct('n', CAST(0 AS BIGINT),
               |    'hist', CAST(array() AS $histT)),
               |  (acc, s) -> CASE WHEN acc.n = 0
               |    THEN named_struct('n', 1L, 'hist',
               |      array(named_struct('l', s.y * 1000000L,
               |        'b', CAST(0 AS BIGINT), $zeroS)))
               |    ELSE named_struct('n', acc.n + 1L, 'hist',
               |      array_append(acc.hist,
               |        named_struct('l', $lN, 'b', $bN, $stepS)))
               |  END).hist""".stripMargin).as("hist"),
        naiveSad)
    val sT = (0 to 6).map(i => s"WHEN $i THEN so.s$i")
      .mkString("CASE tslot ", " ", " END")
    val evals = originHorizons(folded)
      .select(col("event_type"), col("n_days"), col("sad"), col("h"),
        expr("element_at(ys, CAST(rn + h AS INT)).y").as("actual"),
        expr("element_at(ys, CAST(rn + h AS INT)).slot").as("tslot"),
        expr("CASE WHEN rn + h - 7 >= 1 THEN " +
          "element_at(ys, CAST(rn + h - 7 AS INT)).y ELSE " +
          "element_at(ys, CAST(rn AS INT)).y END").as("fc_snaive"),
        col("so"))
      .select(col("event_type"), col("n_days"), col("sad"), col("h"),
        col("actual"), col("fc_snaive"),
        expr(s"(so.l + h * so.b + ($sT) + ${1000000L * HoltOffF}) " +
          s"div 1000000 - $HoltOffF").as("fc_hw"))
    mase(evals, """stack(2, 'hw', abs(fc_hw - actual),
                   |         'snaive', abs(fc_snaive - actual))""".stripMargin)
  }

  // -- q272: split-conformal forecast intervals -------------------------

  /** Conformal miscoverage budget: 1 − α = 0.9 target coverage, as the
    * e1 integer pair used in the exact rank k = ⌈0.9·(n_cal+1)⌉. */
  private val ConformalCovNum = 9L

  /** SPLIT-CONFORMAL FORECAST INTERVALS (Vovk et al. 2005; split
    * conformal per Lei et al. 2018) — the distribution-free answer to
    * "how wide must the error bars around q268's forecast be": take
    * q270's rolling-origin Holt eval points, split origins
    * CALIBRATION (odd rn) / TEST (even rn — interleaved, so both
    * splits span the series), and per (type, horizon) report the
    * conformal radius q̂ = the k-th smallest calibration |error| with
    * k = ⌈0.9·(n_cal+1)⌉ (the finite-sample-valid rank, clamped to
    * n_cal), plus the EMPIRICAL coverage of ŷ ± q̂ on the held-out
    * test origins (e6 share). Conformal theory promises ≥90% coverage
    * on exchangeable errors — the test column measures how close a
    * trending series gets.
    *
    * Exactness: errors are exact cents off the shared [[holtStep]]
    * history fold; q̂ is an integer ORDER STATISTIC (k-th smallest of
    * a multiset — tie-order-free on both engines: Spark reads
    * element k of the sorted calibration array, the oracle the
    * row_number-k row of the sorted relation); coverage one integer
    * division, NULL when a cell has no test origins.
    *
    * Plan: q270's shape plus one bounded (type, h) aggregate whose
    * collect_list holds ≤|origins| integers per cell — calendar-
    * bounded at any corpus scale; one data-scaled shuffle total. */
  val q272ConformalIntervals: Q = (s, d) =>
    conformalFinalize(forecastDaily(Tables.events(s, d)))

  /** q272 off an existing daily relation (the streaming-shared form). */
  private[graft] def conformalFinalize(daily: DataFrame): DataFrame = {
    val folded = daily
      .transform(dailySeries)
      .select(col("event_type"), col("n_days"), col("ys"),
        holtHistory)
    val evals = folded
      .select(col("event_type"), col("n_days"), col("ys"), col("hist"),
        origins)
      .select(col("event_type"), col("rn"),
        expr("element_at(hist, CAST(rn AS INT))").as("so"), col("ys"),
        col("n_days"),
        horizons)
      .select(col("event_type"), col("h"), expr("rn % 2 = 1").as("is_cal"),
        expr(s"abs((so.l + h * so.b + ${1000000L * HoltOffF}) " +
          s"div 1000000 - $HoltOffF " +
          "- element_at(ys, CAST(rn + h AS INT)).y)").as("abs_err"))
    evals
      .groupBy(col("event_type"), col("h"))
      .agg(sum(expr("CASE WHEN is_cal THEN 1L ELSE 0L END")).as("n_cal"),
        sum(expr("CASE WHEN is_cal THEN 0L ELSE 1L END")).as("n_test"),
        sort_array(collect_list(expr("CASE WHEN is_cal THEN abs_err END")))
          .as("cal_errs"),
        collect_list(expr("CASE WHEN NOT is_cal THEN abs_err END"))
          .as("test_errs"))
      .select(col("event_type"), col("h"), col("n_cal"), col("n_test"),
        expr(s"element_at(cal_errs, CAST(least(($ConformalCovNum * " +
          s"(n_cal + 1) + 9) div 10, n_cal) AS INT))").as("qhat_cents"),
        col("test_errs"))
      .select(col("event_type"), col("h"), col("n_cal"), col("n_test"),
        col("qhat_cents"),
        expr("CASE WHEN n_test > 0 THEN (1000000 * CAST(size(filter(" +
          "test_errs, e -> e <= qhat_cents)) AS BIGINT)) div n_test END")
          .as("cover_e6"))
  }

  // -- q273: forecast-residual anomaly flags ----------------------------

  /** FORECAST-RESIDUAL ANOMALY FLAGS — the monitoring composition the
    * forecasting family exists for: a day is anomalous when it breaks
    * from what the model EXPECTED given the whole history, not when it
    * is merely extreme (q134's seasonal-baseline flags) or when the
    * level has shifted (q132's CUSUM). Per (type, day ≥ 2): the
    * one-step-ahead Holt forecast ŷ_t = ⌊(l_{t−1} + b_{t−1})/1e6⌋
    * from the shared state-history fold, the residual r_t = y_t − ŷ_t,
    * and the robust flag |r_t − median(r)| > 3·MAD(r) — median/MAD
    * over the type's own residual series, declared as LOWER medians
    * (k = (n+1) div 2-th smallest), so every statistic is an integer
    * order statistic and the flag is bit-deterministic on both
    * engines (no interpolated midpoints — q123's interpolating
    * median is the unbounded-column tool; this series is
    * calendar-bounded, so exact ranks are free). MAD = 0 (better
    * than half the days forecast exactly) degenerates to flagging
    * any nonzero deviation from the median residual — declared.
    *
    * Plan: q270's fold (one data-scaled shuffle), then residuals,
    * medians, and flags are all in-row array reads on the |types|-row
    * relation; the output explodes back to one row per (type, day) —
    * calendar-bounded. */
  val q273ResidualAnomalies: Q = (s, d) =>
    anomalyFinalize(forecastDaily(Tables.events(s, d)))

  /** q273 off an existing daily relation (the streaming-shared form). */
  private[graft] def anomalyFinalize(daily: DataFrame): DataFrame = {
    val folded = daily
      .transform(dailySeries)
      .select(col("event_type"), col("ys"),
        holtHistory)
      .select(col("event_type"), col("ys"),
        // size guard: sequence() DESCENDS when size(ys) < 2
        expr(s"""CASE WHEN size(ys) >= 2 THEN
               |transform(sequence(2, CAST(size(ys) AS INT)),
               |  t -> named_struct('t', t,
               |    'r', element_at(ys, t).y
               |         - ((element_at(hist, t - 1).l
               |             + element_at(hist, t - 1).b
               |             + ${1000000L * HoltOffF}) div 1000000
               |            - $HoltOffF)))
               |ELSE CAST(array() AS ARRAY<STRUCT<t: INT, r: BIGINT>>)
               |END""".stripMargin).as("resid"))
      .withColumn("med", expr("CASE WHEN size(resid) > 0 THEN element_at(" +
        "sort_array(transform(resid, x -> x.r)), " +
        "CAST((size(resid) + 1) div 2 AS INT)) END"))
      .withColumn("mad", expr("CASE WHEN size(resid) > 0 THEN element_at(" +
        "sort_array(transform(resid, x -> abs(x.r - med))), " +
        "CAST((size(resid) + 1) div 2 AS INT)) END"))
    folded
      .select(col("event_type"), col("ys"), col("med"), col("mad"),
        explode(col("resid")).as("rv"))
      .select(col("event_type"),
        expr("element_at(ys, rv.t).day").as("day"),
        expr("element_at(ys, rv.t).y").as("y_cents"),
        expr("element_at(ys, rv.t).y - rv.r").as("fc_cents"),
        col("rv.r").as("resid_cents"),
        col("med").as("med_cents"), col("mad").as("mad_cents"),
        expr("abs(rv.r - med) > 3 * mad").as("flagged"))
  }

  // -- q127: OHLC bars --------------------------------------------------

  /** OHLC BARS per (hour, event_type): open/high/low/close of the
    * cents value plus the event count — the time-series downsampling
    * primitive (candlesticks, telemetry rollups) that needs ORDERED
    * endpoints, not just extrema. open/close use min_by/max_by over
    * the (ts, event_id) struct — ONE hash aggregate with map-side
    * partials carrying a single (key, value) pair per group per
    * partition; no window function, no per-group sort, one shuffle on
    * the bounded (bar, type) key. The (ts, event_id) tiebreak makes
    * the endpoints total-order deterministic; the oracle restates
    * them independently via dual row_number() passes. */
  /** Delegates to the batch/stream-shared transform (q34 convention):
    * the oracle gate on this batch form transitively verifies the
    * streaming OHLC plan pinned by EventStreamSpec. */
  val q127OhlcBars: Q = (s, d) =>
    graft.streaming.StreamingEvents.ohlcBars(Tables.events(s, d))

  // -- q132: lag-1 autocorrelation of the daily series ------------------

  /** Pearson r over `Exact.moments`, unrounded: cxy / (√vx·√vy). */
  private val PearsonR =
    "CAST(cxy AS DOUBLE) / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))"

  /** The least-squares slope of y on x, cxy / vx, in millionths. */
  private val ThetaE6 = "CAST(round(CAST(cxy AS DOUBLE) / vx * 1000000, 0) AS BIGINT)"

  /** r² = cxy² / (vx·vy) in millionths: no square root. */
  private val R2E6 =
    "CAST(round((CAST(cxy AS DOUBLE) * cxy) / (CAST(vx AS DOUBLE) * vy) * 1000000, 0) AS BIGINT)"

  /** SERIAL-CORRELATION PROFILE: Pearson autocorrelation at lag 1 day
    * of each event type's daily total value — the time-series health
    * check behind seasonality detection and forecast-model selection
    * (white noise ≈ 0, trending/persistent ≈ +1, alternating ≈ −1).
    *
    * Determinism contract: the six moment sums (n, Σx, Σy, Σxy, Σx²,
    * Σy²) are EXACT cents-scaled BIGINTs — integer addition commutes,
    * so partition order cannot perturb them — and the final Pearson
    * value is one fixed-shape double expression over those exact
    * integers (IEEE ÷/×/sqrt are correctly rounded, so JVM and DuckDB
    * agree bit-for-bit; no libm transcendentals per the repo log rule).
    * Pairs are CONSECUTIVE calendar days only (day = prev + 1) so data
    * gaps don't silently become lag-2 comparisons.
    *
    * Plan: one shuffle to (event_type, day) daily partials
    * (map-side-combined), one |types|-partition window for the lag,
    * one tiny final aggregate. At 100 TB the daily relation is
    * |types|×|days| rows — the raw events never pass the window. */
  val q132Autocorr: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(sumE2(col("value")).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pairs = daily
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("y", lag(col("x"), 1).over(w))
      .filter(col("prev_day").isNotNull &&
        col("day") === col("prev_day") + expr("INTERVAL 1 DAY"))
    moments(pairs.groupBy("event_type"), col("x"), col("y"))
      .select(col("event_type"), col("n").as("n_pairs"), expr(PearsonR).as("acf1"))
  }

  // -- q133: deterministic-split A/B z-test -----------------------------

  /** EXPERIMENT READOUT: Welch two-sample z-test of mean event value,
    * variant assigned by the deterministic user-id parity split
    * (`user_id % 2` — the SQL-expressible stand-in for a salted
    * assignment hash; both engines and any replay agree on every
    * user's arm). One conditional aggregate per event type computes
    * both arms' count / Σv / Σv² in a single shuffle — no self-join,
    * no second scan.
    *
    * Determinism: the six accumulators are exact cents BIGINTs; means,
    * Welch variances and the z statistic are one fixed-shape double
    * expression over them (IEEE-exact ops only). Σv² of cents at 100 TB
    * would overflow BIGINT around 3×10¹⁸ cents² — the decimal money
    * mode (HealthSilver) is the declared escape hatch there. */
  val q133AbZtest: Q = (s, d) => {
    val e = Tables.events(s, d).select(
      col("event_type"),
      (col("user_id") % 2 === 1).as("treat"),
      e2(col("value")).as("v"))
    e.groupBy("event_type")
      .agg(
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("treat"), col("v")).otherwise(0L)).as("s0"),
        sum(when(col("treat"), col("v")).otherwise(0L)).as("s1"),
        sum(when(!col("treat"), col("v") * col("v")).otherwise(0L)).as("q0"),
        sum(when(col("treat"), col("v") * col("v")).otherwise(0L)).as("q1"))
      .withColumn("z_score",
        expr("""CASE WHEN n0 > 1 AND n1 > 1 THEN
               |  (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
               |  / sqrt(
               |      ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
               |    + ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0)
               | END""".stripMargin))
      .select(col("event_type"), col("n0"), col("n1"),
        expr("s0 div n0").as("mean0_e2"), expr("s1 div n1").as("mean1_e2"),
        col("z_score"))
  }

  // -- q245: permutation test for the A/B mean difference -----------------

  private val PermReps = 64

  /** PERMUTATION TEST — the nonparametric companion to q133's Welch
    * z-test, same hypothesis (does the user-parity split differ in
    * mean event value?), no normality assumption: the observed
    * |Δmean| is ranked against B = 64 random USER relabelings and
    * p = (1 + #{perm ≥ obs}) / (B + 1), the add-one Monte-Carlo
    * convention (Phipson & Smyth 2010). Relabeling is per USER, not
    * per event — the split being tested is user-level, so the
    * permutation must respect the clustering (a row-level flip would
    * test a different, too-easy null).
    *
    * The q244 scale recipe, sharpened: events first COLLAPSE to
    * per-(type, user) cells (map-combined — the corpus never meets
    * the replicates), then the B-way in-row expansion runs on the
    * cell relation, orders of magnitude smaller; flips are md5 BITS
    * (48 per digest — 2 digests per user for all 64 replicates),
    * partial-aggregated to |types|·B rows. Declared linear in
    * B·cells (the q202 convention). All-one-side replicates are
    * greatest(...,1)-guarded in both engines.
    *
    * Integer contract: cents sums, truncating means, p in exact ppm
    * — every column bit-for-bit against the oracle. Under this true
    * null (orderkey parity is noise) the report is also a
    * SELF-CALIBRATION: p should be well away from 0, and the gate
    * pins the exact value. */
  /** The per-(type, user) cells of an events batch — the flip unit's
    * aggregates; shared verbatim with
    * [[graft.streaming.StreamingPermTest]]. */
  private[graft] def permBaseCells(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("user_id"),
        (col("user_id") % 2 === 1).as("treat"),
        e2(col("value")).as("v"))
      .groupBy("event_type", "user_id", "treat")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

  /** The additive observed-leg partials (event_type, n0, n1, s0, s1)
    * — mergeable by +; shared with the streaming twin. */
  private[graft] def permObsPartials(cells: DataFrame): DataFrame =
    cells.groupBy("event_type")
      .agg(sum(when(!col("treat"), col("n")).otherwise(0L)).as("n0"),
        sum(when(col("treat"), col("n")).otherwise(0L)).as("n1"),
        sum(when(!col("treat"), col("sv")).otherwise(0L)).as("s0"),
        sum(when(col("treat"), col("sv")).otherwise(0L)).as("s1"))

  /** The additive permuted-side partials (event_type, r, pn0, pn1,
    * ps0, ps1): the flip is a pure (user, r) function, so a user's
    * contributions ADD across any chunking of their events —
    * mergeable by +; shared with the streaming twin. */
  private[graft] def permCellPartials(cells: DataFrame): DataFrame =
    cells
      .select(col("event_type"), col("n"), col("sv"),
        explode(array((0 until PermReps).map { r =>
          val j = r / 48
          val t = r % 48
          struct(lit(r.toLong).as("r"),
            shiftright(md5Draw(concat(lit(s"perm$j|"),
              col("user_id").cast("string")), 1, 12), t).bitwiseAND(lit(1L)).as("b"))
        }: _*)).as("e"))
      .groupBy(col("event_type"), col("e.r").as("r"))
      .agg(sum(when(col("e.b") === 0L, col("n")).otherwise(0L)).as("pn0"),
        sum(when(col("e.b") === 1L, col("n")).otherwise(0L)).as("pn1"),
        sum(when(col("e.b") === 0L, col("sv")).otherwise(0L)).as("ps0"),
        sum(when(col("e.b") === 1L, col("sv")).otherwise(0L)).as("ps1"))

  /** The q245 report tail over the two additive state relations —
    * shared with [[graft.streaming.StreamingPermTest.report]] so the
    * streaming answer is this exact code path. */
  private[graft] def permFinalize(obsRows: DataFrame, permCells: DataFrame): DataFrame = {
    val obs = obsRows
      .select(col("event_type"), col("n0"), col("n1"),
        expr("s0 div greatest(n0, 1)").as("mean0_e2"),
        expr("s1 div greatest(n1, 1)").as("mean1_e2"),
        expr("abs(s1 div greatest(n1, 1) - s0 div greatest(n0, 1))")
          .as("obs_diff_e2"))
    val perm = permCells
      .select(col("event_type"), col("r"),
        expr("abs(ps1 div greatest(pn1, 1) - ps0 div greatest(pn0, 1))")
          .as("perm_diff_e2"))
    val counts = perm
      .join(broadcast(obs.select(col("event_type"), col("obs_diff_e2"))),
        Seq("event_type"))
      .groupBy("event_type")
      .agg(sum(when(col("perm_diff_e2") >= col("obs_diff_e2"), 1L)
        .otherwise(0L)).as("n_perm_ge"))
    obs.join(broadcast(counts), Seq("event_type"))
      .select(col("event_type"), col("n0"), col("n1"),
        col("mean0_e2"), col("mean1_e2"), col("obs_diff_e2"),
        col("n_perm_ge"),
        expr(s"(1 + n_perm_ge) * 1000000 div ${PermReps + 1}").as("p_ppm"))
  }

  val q245PermutationTest: Q = (s, d) => {
    // SharedCache: the cells feed BOTH partial legs within this
    // query, and q252's BH step-up re-derives the identical plans —
    // CacheManager's canonical-plan dedup turns its whole p-value
    // source into a |types|·(B+1)-row cache hit in shared mode.
    val cells = permBaseCells(Tables.events(s, d))
      .transform(graft.ops.SharedCache.persist)
    permFinalize(
      graft.ops.SharedCache.persist(permObsPartials(cells)),
      graft.ops.SharedCache.persist(permCellPartials(cells)))
  }

  // -- q246: Mann–Whitney U rank-sum test --------------------------------

  /** MANN–WHITNEY U TEST — the rank-based robust member of the
    * experiment-readout family (q133 Welch z on MEANS, q245 the
    * Monte-Carlo permutation, q238 the sequential walk; this is the
    * closed-form nonparametric test): does the user-parity split shift
    * the event-value DISTRIBUTION, judged on ranks so a heavy tail or
    * a few whale purchases can't swamp the answer the way they can a
    * mean. q149 already uses the rank-sum identity as an AUC point
    * estimate; this is the inference side — U with tie-correct average
    * ranks, the tie-adjusted normal-approximation variance
    * σ²_U = n₀n₁/12·[(N+1) − Σ(t³−t)/(N(N−1))], and the z score.
    *
    * Exactness: doubled average ranks 2·r̄_v = 2·cumbefore_v + t_v + 1
    * are exact BIGINTs (the q149 trick), so 2·U₁ is an exact integer
    * accumulator; the tie term Σ(t³−t) and its zero-variance guard
    * N(N²−1) accumulate in DECIMAL(38,0) (BIGINT forms would wrap at
    * only ~2.1×10⁶ rows per type — far below the family's ~10⁹
    * ceilings — and Spark wraps silently where DuckDB widens, so the
    * cross-engine equality would break SILENTLY past the ceiling;
    * decimal is exact to ~10³⁸.
    * Past that unreachable ceiling the engines diverge in FAILURE
    * MODE, not in emitted values: Spark's non-ANSI decimal overflow
    * yields NULL tie3/z for the row while DuckDB's HUGEINT raises —
    * either way no wrong number is ever reported, which is the
    * contract; a NULL z at ~1e38 rows is a loud enough flare that we
    * keep non-ANSI mode rather than fail the whole job). tie3 is
    * REPORTED as
    * one correctly-rounded DOUBLE from the exact decimal — it only
    * feeds the IEEE variance expression; z is ONE fixed-shape IEEE
    * double expression (q133 convention) and the common-language
    * effect size U₁/(n₀n₁) is an exact truncating ppm.
    * The all-tied degenerate group (σ = 0 ⟺ Σ(t³−t) = N³−N) and
    * one-sided groups are CASE-guarded to NULL in both engines.
    *
    * Plan: events collapse map-combined to per-(type, value) cells
    * (the q187 frequency-relation discipline — the only row-scaled
    * stage), ONE running-count window per type over the cells orders
    * by value (cell count is bounded by the cents-value domain, not
    * by rows), then a |types|-row aggregate. Overflow ceilings (q224
    * documentation convention): the BIGINT rank sums Σ n_v·(2N+1) ≤
    * N·(2N+1) and cles_ppm's 2U₁·1e6 bound N at ≈ 2×10⁹ and ≈ 4×10⁶
    * per type respectively (cles is a bounded diagnostic ratio; its
    * 1e6 product is the binding term), while the decimal tie term is
    * exact past 10¹² — the cents-cell relation, not raw rows, is what
    * the window walks at any scale. */
  /** The per-(type, cents-value, arm) count cells both rank tests walk
    * — additive by + under any chunking of the event stream; shared
    * verbatim with [[graft.streaming.StreamingRankTests]]. */
  private[graft] def rankCells(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        (col("user_id") % 2 === 1).as("treat"),
        e2(col("value")).as("v"))
      .groupBy("event_type", "v")
      .agg(sum(when(!col("treat"), 1L).otherwise(0L)).as("n0v"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("n1v"))

  /** The q246 report tail over the cell relation — shared with the
    * streaming twin so its answer is this exact code path. */
  private[graft] def rankSumFinalize(cells: DataFrame): DataFrame = {
    val wRun = Window.partitionBy("event_type").orderBy("v")
    cells
      .withColumn("t", col("n0v") + col("n1v"))
      .withColumn("cumbefore", sum(col("t")).over(wRun) - col("t"))
      .withColumn("two_r", lit(2) * col("cumbefore") + col("t") + 1)
      .groupBy("event_type")
      .agg(sum(col("n0v")).as("n0"), sum(col("n1v")).as("n1"),
        sum(col("n1v") * col("two_r")).as("sum_two_r1"),
        // the tie term and its zero-variance guard accumulate in
        // DECIMAL(38,0) — exact to t ≈ 4.6×10¹² per value cell, where
        // BIGINT would wrap at ~2.1×10⁶ rows/type, silently in Spark
        // while DuckDB widens to HUGEINT, breaking the declared
        // cross-engine equality
        sum((col("t").cast("decimal(38,0)") * col("t") * col("t")
          - col("t")).cast("decimal(38,0)")).as("tie3d"))
      .select(col("event_type"), col("n0"), col("n1"),
        (col("sum_two_r1") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        col("tie3d"))
      .select(col("event_type"), col("n0"), col("n1"), col("u1_x2"),
        // reported as DOUBLE (one correctly-rounded conversion from
        // the exact decimal; the oracle converts its HUGEINT the same
        // way) — it only feeds the IEEE variance expression anyway
        col("tie3d").cast("double").as("tie3"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0
               | THEN u1_x2 * 1000000 div (2 * n0 * n1) END""".stripMargin)
          .as("cles_ppm"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0
               |  AND CAST(n0 + n1 AS DECIMAL(38,0))
               |      * (CAST(n0 + n1 AS DECIMAL(38,0)) * (n0 + n1) - 1)
               |      > tie3d THEN
               | (CAST(u1_x2 - n0 * n1 AS DOUBLE) / 2)
               | / sqrt(CAST(n0 AS DOUBLE) * n1 / 12
               |        * ((n0 + n1 + 1)
               |           - CAST(tie3d AS DOUBLE)
               |             / ((n0 + n1) * (CAST(n0 AS DOUBLE) + n1 - 1))))
               | END""".stripMargin).as("z_score"))
  }

  val q246RankSumTest: Q = (s, d) =>
    rankSumFinalize(rankCells(Tables.events(s, d)))

  // -- q247: Kolmogorov–Smirnov two-sample distance -----------------------

  /** KOLMOGOROV–SMIRNOV TWO-SAMPLE TEST — the whole-distribution
    * complement of q246's location test: D = max_x |F₀(x) − F₁(x)|
    * between the two arms' event-value ECDFs, per event type. A split
    * can leave the mean AND the rank-sum untouched while deforming the
    * shape (variance, bimodality); D is the sup-norm detector every
    * distribution-equality audit reaches for, and the same statistic
    * doubles as the drift monitor between any two cohorts.
    *
    * Exactness: with n₀, n₁ fixed, n₀n₁·D = max over distinct values
    * of |c₀(v)·n₁ − c₁(v)·n₀| is an exact BIGINT (cross-multiplied
    * cumulative counts — no rational ever materializes); ks_e6 divides
    * once at the end. The argmax value v_at_d (smallest v attaining
    * the max) is recovered with a max-window + conditional-min, same
    * deterministic tiebreak in both engines. The α = 0.05 decision
    * compares D against c(α)·√((n₀+n₁)/(n₀n₁)) with c = 1.358 baked
    * as a literal (the q131 convention) — sqrt is IEEE-correctly-
    * rounded so the comparison is engine-exact.
    *
    * Plan: the q246 cell relation (map-combined, value-domain-sized),
    * one ordered window per type for the two running counts + one
    * partition-max window on the SAME partitioning (single Window
    * node region, no extra shuffle), then a |types|-row aggregate.
    * Overflow: c·n products ≤ N² — exact to N ≈ 3×10⁹ rows per type
    * (q224 convention). */
  /** Two-arm value cells (event_type, v, n0v, n1v) plus, per type,
    * the running counts `c0`/`c1` up to v and the arm totals `n0`/`n1`. */
  private def cumulativeCells(cells: DataFrame): DataFrame = {
    val wRun = Window.partitionBy("event_type").orderBy("v")
    val wAll = Window.partitionBy("event_type")
    cells
      .withColumn("c0", sum(col("n0v")).over(wRun))
      .withColumn("c1", sum(col("n1v")).over(wRun))
      .withColumn("n0", sum(col("n0v")).over(wAll))
      .withColumn("n1", sum(col("n1v")).over(wAll))
  }

  /** The q247 report tail over the SAME cell relation — shared with
    * the streaming twin. */
  private[graft] def ksFinalize(cells: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("event_type")
    cumulativeCells(cells)
      .withColumn("gap", abs(col("c0") * col("n1") - col("c1") * col("n0")))
      .withColumn("d_num", max(col("gap")).over(wAll))
      .groupBy("event_type")
      .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        max(col("gap")).as("d_num"),
        min(when(col("gap") === col("d_num"), col("v"))).as("v_at_d"))
      .select(col("event_type"), col("n0"), col("n1"), col("d_num"),
        col("v_at_d"),
        expr("CASE WHEN n0 > 0 AND n1 > 0 THEN d_num * 1000000 div (n0 * n1) END")
          .as("ks_e6"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0 THEN
               | CASE WHEN CAST(d_num AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)
               |        > 1.358 * sqrt((CAST(n0 AS DOUBLE) + n1)
               |                       / (CAST(n0 AS DOUBLE) * n1))
               |      THEN 1 ELSE 0 END END""".stripMargin)
          .cast("long").as("reject_05"))
  }

  val q247KsTwoSample: Q = (s, d) =>
    ksFinalize(rankCells(Tables.events(s, d)))

  // -- q261: winsorized (capped-metric) A/B readout ------------------------

  /** WINSORIZED MEAN A/B READOUT — the capped-metric discipline every
    * revenue experiment ships alongside the raw mean (a single whale
    * purchase can flip q133's sign; platforms therefore report the
    * metric winsorized at a high quantile, trading a small bias for
    * variance the test can actually afford): per event type, the
    * EXACT p99 cap from the value distribution, each arm's winsorized
    * mean Σ n_v·min(v, cap) / n, their difference, and the raw means
    * for contrast, plus how many observations the cap touched.
    *
    * Exactness: the cap is the exact rank-ceil(0.99·N) order
    * statistic off the cents-value cell relation (the q185
    * rank-percentile convention — ceil via (99N+99) div 100, no float
    * quantile); winsorized sums are exact BIGINT Σ n_av·least(v, cap)
    * (values non-negative, house div contract holds); means are
    * truncating cents divisions, the diff an exact signed BIGINT
    * subtraction of two non-negative truncations. No sampling, no
    * t-digest — the cell relation makes the exact quantile affordable
    * at any corpus size.
    *
    * Plan: the q246/q247 cell relation (map-combined, value-domain-
    * sized), ONE window region per type (running count + per-type
    * total + conditional-min cap share the (type | v) partitioning),
    * then a |types|-row aggregate. Overflow: Σ n_v·v ≤ N·v_max — the
    * family's standard cents-sum ceiling. */
  /** The q261 report tail over the SAME cell relation as q246/q247 —
    * shared with the streaming twin. */
  private[graft] def winsorFinalize(cells: DataFrame): DataFrame = {
    val wRun = Window.partitionBy("event_type").orderBy("v")
    val wAll = Window.partitionBy("event_type")
    cells
      .withColumn("t", col("n0v") + col("n1v"))
      .withColumn("cum", sum(col("t")).over(wRun))
      .withColumn("n_all", sum(col("t")).over(wAll))
      .withColumn("thr", expr("(99 * n_all + 99) div 100"))
      .withColumn("cap", min(when(col("cum") >= col("thr"), col("v")))
        .over(wAll))
      .groupBy("event_type")
      .agg(sum(col("n0v")).as("n0"), sum(col("n1v")).as("n1"),
        max(col("cap")).as("cap_cents"),
        sum(when(col("v") > col("cap"), col("t")).otherwise(0L))
          .as("n_capped"),
        sum(col("n0v") * least(col("v"), col("cap"))).as("ws0"),
        sum(col("n1v") * least(col("v"), col("cap"))).as("ws1"),
        sum(col("n0v") * col("v")).as("rs0"),
        sum(col("n1v") * col("v")).as("rs1"))
      .select(col("event_type"), col("n0"), col("n1"),
        col("cap_cents"), col("n_capped"),
        expr("CASE WHEN n0 > 0 THEN ws0 div n0 END").as("wmean0_cents"),
        expr("CASE WHEN n1 > 0 THEN ws1 div n1 END").as("wmean1_cents"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0
               | THEN ws1 div n1 - ws0 div n0 END""".stripMargin)
          .as("wdiff_cents"),
        expr("CASE WHEN n0 > 0 THEN rs0 div n0 END").as("rmean0_cents"),
        expr("CASE WHEN n1 > 0 THEN rs1 div n1 END").as("rmean1_cents"))
  }

  val q261WinsorizedMeans: Q = (s, d) =>
    winsorFinalize(rankCells(Tables.events(s, d)))

  // -- q263: quantile treatment effects ------------------------------------

  /** The declared quantile rungs (×100) for the q263 QTE table. */
  private[graft] val QtePctX100 = Seq(25L, 50L, 75L)

  /** QUANTILE TREATMENT EFFECTS — the distributional readout that
    * says WHERE the split moves the money: q133/q261 compare means
    * (one number), q247 only DETECTS a shape change; QTE quantifies
    * it — per event type and quantile p ∈ {25, 50, 75}, each arm's
    * exact p-th value and their difference (Δmedian ≠ Δmean is the
    * classic whale-vs-typical-user diagnosis, and quantile effects
    * are what a heavy-tailed revenue metric actually supports
    * reporting).
    *
    * Exactness: per-arm quantiles are exact rank-ceil(p·n_a/100)
    * order statistics off the SAME cents-value cell relation as
    * q246/q247/q261 (the q185/q261 convention — (p·n+99) div 100,
    * conditional-min over the per-arm running count; no float
    * quantile, no interpolation: the lower exact order statistic is
    * the declared semantics); qte = q₁ − q₀ is an exact signed BIGINT.
    * One-armed types guard to NULL.
    *
    * Plan: the shared cell relation (map-combined, value-domain-
    * sized), ONE window region per type (both arms' running counts +
    * totals + all six conditional mins share the (type | v)
    * partitioning), a |types|-row aggregate, then the 3-rung in-row
    * expansion ABOVE it (q251/q262 discipline — rungs never touch
    * the corpus). */
  /** The q263 report tail over the SAME cell relation — shared with
    * the streaming twin. */
  private[graft] def qteFinalize(cells: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("event_type")
    val based = cumulativeCells(cells)
    val qCols = QtePctX100.flatMap { p =>
      Seq(
        min(when(col("c0") >= expr(s"($p * n0 + 99) div 100"), col("v")))
          .over(wAll).as(s"q0_$p"),
        min(when(col("c1") >= expr(s"($p * n1 + 99) div 100"), col("v")))
          .over(wAll).as(s"q1_$p"))
    }
    val withQ = based.select(
      (Seq(col("event_type"), col("n0"), col("n1")) ++ qCols): _*)
    val aggTail = Seq(max(col("n1")).as("n1")) ++
      QtePctX100.flatMap(p => Seq(
        max(col(s"q0_$p")).as(s"q0_$p"),
        max(col(s"q1_$p")).as(s"q1_$p")))
    val agg = withQ.groupBy("event_type")
      .agg(max(col("n0")).as("n0"), aggTail: _*)
    val rungs = QtePctX100.map { p =>
      struct(lit(p).as("pct"),
        col(s"q0_$p").as("q0"), col(s"q1_$p").as("q1"))
    }
    agg
      .select(col("event_type"), col("n0"), col("n1"),
        explode(array(rungs: _*)).as("r"))
      .select(col("event_type"), col("r.pct").as("pct_x100"),
        col("n0"), col("n1"),
        expr("CASE WHEN n0 > 0 THEN r.q0 END").as("q0_cents"),
        expr("CASE WHEN n1 > 0 THEN r.q1 END").as("q1_cents"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0
               | THEN r.q1 - r.q0 END""".stripMargin).as("qte_cents"))
  }

  val q263QuantileEffects: Q = (s, d) =>
    qteFinalize(rankCells(Tables.events(s, d)))

  // -- q262: Schoenfeld events-needed ladder -------------------------------

  /** Hazard-ratio rungs (×100) for the q262 power ladder and their
    * driver-baked ln²(HR) literals (the q238/q251 no-runtime-libm
    * convention: the SAME doubles are interpolated into the Spark
    * plan and the oracle SQL). */
  private[graft] val SchoenfeldHrX100 = Seq(50L, 70L, 80L, 90L)
  private[graft] val SchoenfeldZSq = {
    val z = 1.959963984540054 + 0.8416212335729143 // z_{.975} + z_{.80}
    z * z
  }

  /** SCHOENFELD EVENTS-NEEDED LADDER — the power side of the survival
    * suite (q251 plans the MEAN test's sample size; this plans the
    * LOG-RANK's): Schoenfeld (1983) — the required number of EVENTS
    * (not users: censoring makes events the currency) to detect a
    * hazard ratio HR at α = 0.05 two-sided, power 0.80 is
    * d = (z_{α/2}+z_β)² / (p(1−p)·ln²HR), with p the treated share
    * of the risk population. Read next to q256's observed z: the
    * rungs (HR 0.5/0.7/0.8/0.9) say which effect sizes the experiment
    * can already judge with its events so far, and `enough` flags the
    * rungs where it can.
    *
    * Exactness: p(1−p) is computed as the exact integer cross-product
    * n₁·(n−n₁) over n² — the d expression is ONE fixed-shape IEEE
    * double per rung over exact BIGINTs with both z² and ln²HR baked
    * as driver literals (q238/q251 convention), under an engine-exact
    * ceil; one-armed risk populations guard to NULL. Events observed
    * is the exact pooled conversion count under the family's
    * censoring rule.
    *
    * Plan: ONE map-combined pass to the survival cells (shared with
    * q254–q260), a 1-row scalar aggregate, then the 4-way in-row
    * rung expansion ABOVE it (the q251 Generate-above-aggregate
    * discipline — the ladder never touches the corpus). */
  private[graft] def schoenfeldFinalize(cells: DataFrame): DataFrame = {
    val base = survivalDurations(cells)
      .agg(count(lit(1)).as("n_risk_users"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("n1_users"),
        sum(col("event")).as("events_observed"))
    val rungs = SchoenfeldHrX100.map { hr =>
      val lnSq = { val l = math.log(hr.toDouble / 100.0); l * l }
      struct(lit(hr).as("hr_x100"), lit(lnSq).as("ln_sq"))
    }
    base
      .select(col("n_risk_users"), col("n1_users"), col("events_observed"),
        explode(array(rungs: _*)).as("r"))
      .select(col("r.hr_x100").as("hr_x100"),
        col("n_risk_users"), col("events_observed"),
        expr(s"""CASE WHEN n1_users > 0 AND n1_users < n_risk_users THEN
                | CAST(ceil($SchoenfeldZSq
                |   / ((CAST(n1_users AS DOUBLE)
                |       * (n_risk_users - n1_users)
                |       / (CAST(n_risk_users AS DOUBLE) * n_risk_users))
                |      * r.ln_sq)) AS BIGINT)
                | END""".stripMargin).as("events_needed"))
      .select(col("hr_x100"), col("n_risk_users"), col("events_observed"),
        col("events_needed"),
        expr("""CASE WHEN events_needed IS NOT NULL THEN
               | CAST(CASE WHEN events_observed >= events_needed
               |      THEN 1 ELSE 0 END AS BIGINT) END""".stripMargin)
          .as("enough"))
  }

  val q262SchoenfeldLadder: Q = (s, d) =>
    schoenfeldFinalize(survivalCells(Tables.events(s, d)))

  // -- q250: CUPED variance-reduced A/B readout ----------------------------

  /** CUPED — Controlled-experiment Using Pre-Experiment Data (Deng,
    * Xu, Kohavi & Walker 2013), the variance-reduction trick every
    * mature experimentation platform applies before reading q133's
    * z-test: adjust each user's outcome by their own baseline,
    * Y' = Y − θ·X, and the treatment-effect estimate keeps its mean
    * but sheds ρ² of its variance — the same experiment decides in
    * (1−ρ²)× the sample size for free. Covariate X = the user's spend
    * on EVEN epoch days, outcome Y = spend on ODD epoch days (a
    * deterministic interleaved split — in production X is the
    * pre-experiment window; the parity split is the SQL-expressible
    * stand-in that keeps both engines and any replay in agreement,
    * the q133 assignment convention applied to time).
    *
    * Per event type: pooled θ = cov(X,Y)/var(X) from exact BIGINT
    * cents moments, the raw arm difference in Y, the CUPED-adjusted
    * difference (raw − θ·Δ̄X), and the variance-reduction factor
    * ρ² — all doubles are ONE fixed-shape IEEE expression over exact
    * integer accumulators (q133/q150 convention), θ and ρ² e6-snapped
    * via round (signed-statistic convention). Zero-variance and
    * one-sided arms CASE-guarded NULL. Overflow ceiling: n·Σxy of
    * per-user cents products — ~2.5×10¹⁵ at sf0.1, exact to ~9×10¹⁸
    * (the q133 documentation convention; the decimal money mode is
    * the declared escape hatch past it).
    *
    * Plan: ONE map-combined shuffle to per-(type, user) covariate
    * cells (the q245 cell discipline — the corpus never meets the
    * moment stage), then a |types|-row aggregate. */
  /** Per event: type, user, the user's arm (`treat` = odd user_id),
    * `pre` (an even epoch day) and the value in cents `v`. */
  private def armedValues(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("user_id"),
        (col("user_id") % 2 === 1).as("treat"),
        (datediff(col("ts"), lit("1970-01-01")) % 2 === 0).as("pre"),
        e2(col("value")).as("v"))

  /** The per-(type, user, arm) covariate/outcome cells — additive by
    * + under any chunking of the event stream (a user's even- and
    * odd-day cents sums fold across batches exactly); shared verbatim
    * with [[graft.streaming.StreamingCuped]]. */
  private[graft] def cupedCells(events: DataFrame): DataFrame =
    armedValues(events)
      .groupBy("event_type", "user_id", "treat")
      .agg(sum(when(col("pre"), col("v")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("v")).otherwise(0L)).as("y"))

  /** The q250 report tail over the cell relation — shared with the
    * streaming twin so its answer is this exact code path. */
  private[graft] def cupedFinalize(ucells: DataFrame): DataFrame =
    moments(ucells.groupBy("event_type"), col("x"), col("y"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("treat"), col("x")).otherwise(0L)).as("sx0"),
        sum(when(col("treat"), col("x")).otherwise(0L)).as("sx1"),
        sum(when(!col("treat"), col("y")).otherwise(0L)).as("sy0"),
        sum(when(col("treat"), col("y")).otherwise(0L)).as("sy1"))
      .select(col("event_type"), col("n"), col("n0"), col("n1"),
        expr(ThetaE6).as("theta_e6"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0 THEN
               | CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0
               | END""".stripMargin).as("diff_raw"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0 THEN
               | (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
               | - (CAST(cxy AS DOUBLE) / vx)
               |   * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
               | END""".stripMargin).as("diff_cuped"),
        expr(R2E6).as("var_red_e6"))

  val q250Cuped: Q = (s, d) =>
    cupedFinalize(cupedCells(Tables.events(s, d)))

  // -- q251: MDE sample-size ladder ----------------------------------------

  /** Candidate minimum-detectable-effect sizes, in percent of the
    * current mean — the rows of the q251 ladder (the q51
    * explicit-domain convention). */
  private[graft] val MdeLadderPct = Seq(1L, 2L, 5L, 10L)

  /** (z_{α/2} + z_β)² at α = 0.05 two-sided, power 0.80 — computed on
    * the driver from the canonical normal quantiles 1.96/0.8416 and
    * baked as the SAME literal into both plans (the q238 convention:
    * no runtime quantile function on either engine). */
  private[graft] val PowerK: Double = {
    val v = (1.96 + 0.8416) * (1.96 + 0.8416); v
  }

  /** SAMPLE-SIZE / MDE LADDER — the question asked BEFORE q133 ever
    * runs: "how many observations per arm until a Δ of 1/2/5/10% of
    * the current mean is detectable at α = 0.05 with 80% power?" —
    * n/arm = (z_{α/2}+z_β)²·2σ̂²/δ², the planning table that decides
    * whether an experiment is worth starting and when q238's
    * sequential walk could realistically stop. σ̂² and the mean come
    * from the same exact cents accumulators as q133 (n, Σv, Σv²);
    * the ladder is an in-row 4-way literal expansion (q173's
    * stack/unpivot convention — no join); each n/arm is ONE
    * fixed-shape IEEE expression over exact BIGINTs, ceil'd to the
    * integer an experimenter actually provisions (ceil of identical
    * doubles is engine-exact). Degenerate σ̂² = 0 or a single
    * observation CASE-guards to NULL. Plan: one map-combined
    * |types|-row aggregate + a constant-width 4-row-per-type
    * expansion. */
  val q251MdeLadder: Q = (s, d) => {
    val m = Tables.events(s, d)
      .select(col("event_type"),
        e2(col("value")).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("qv"))
    m.select(col("event_type"), col("n"), col("sv"), col("qv"),
        explode(array(MdeLadderPct.map(lit): _*)).as("mde_pct"))
      .select(col("event_type"), col("mde_pct"), col("n").as("n_obs"),
        expr(s"""CASE WHEN n > 1 AND sv > 0
                |  AND CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n > 0 THEN
                | CAST(ceil(
                |   $PowerK * 2
                |   * ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n) / (n - 1))
                |   / ((CAST(sv AS DOUBLE) / n * mde_pct / 100)
                |      * (CAST(sv AS DOUBLE) / n * mde_pct / 100)))
                | AS BIGINT) END""".stripMargin).as("n_per_arm"))
  }

  // -- q252: Benjamini–Hochberg FDR step-up --------------------------------

  /** BENJAMINI–HOCHBERG FDR CONTROL — the multiple-testing correction
    * the experiment-readout family was still missing: once q245 hands
    * back a p-value PER event type, reading each against α = 0.05
    * alone inflates the family-wise false-discovery rate; BH's
    * step-up (1995) sorts the m p-values, finds k* = max{k : p₍ₖ₎ ≤
    * α·k/m}, and rejects exactly the first k* — FDR ≤ α guaranteed
    * under independence. The p source is q245's EXACT integer ppm
    * p-values (Monte-Carlo permutation — no normal CDF anywhere, so
    * the whole correction stays engine-exact: the step-up comparisons
    * are p_ppm·m ≤ 50000·k on BIGINTs, never a float threshold).
    *
    * Ordering ties break on event_type — deterministic in both
    * engines. The ranking window is GLOBAL over the |types|-row
    * report relation (the q189 tiny-relation convention: windows over
    * domain-bounded control-plane rows, never over the corpus); all
    * row-scaled work happens inside q245's pinned plan. */
  val q252BhFdr: Q = (s, d) => {
    val wRank = Window.orderBy("p_ppm", "event_type")
    val wAll = Window.partitionBy()
    q245PermutationTest(s, d)
      .select(col("event_type"), col("p_ppm"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("k_star",
        max(when(col("p_ppm") * col("m") <= lit(50000L) * col("rk"), col("rk"))
          .otherwise(0L)).over(wAll))
      .select(col("event_type"), col("p_ppm"), col("rk"), col("m"),
        expr("50000 * rk div m").as("bh_limit_ppm"), col("k_star"),
        when(col("rk") <= col("k_star"), 1L).otherwise(0L).as("rejected"))
  }

  // -- q254: Kaplan–Meier time-to-conversion ------------------------------

  /** KAPLAN–MEIER SURVIVAL CURVE — time-to-conversion with RIGHT
    * CENSORING, the estimator q65's funnel rate can't replace: a user
    * who hasn't purchased YET is not a non-converter, and dropping or
    * mis-binning them biases every naive "days to purchase" average.
    * The product-limit estimator (Kaplan & Meier 1958) handles it
    * exactly: at each conversion day t, S(t) ← S(t⁻)·(n_t − d_t)/n_t
    * where n_t counts users still at risk (not yet converted OR
    * censored) — censored users contribute risk exposure up to their
    * censor day and then leave without an event.
    *
    * Units: duration = days from the user's first 'view' to their
    * EARLIEST purchase overall, counted as a conversion event ONLY
    * when that earliest purchase falls at-or-after the first view;
    * a user whose earliest purchase PRECEDES their first view is
    * censored at their last observed event day EVEN IF they purchase
    * again later (such a user already owned the product before the
    * view, so the later
    * purchase is a repeat, not the view→conversion transition this
    * curve estimates — and, operationally, it is the rule a bounded
    * (min fv, min fp, max le) MERGEABLE state can compute; "first
    * purchase at-or-after first view" would need unbounded per-user
    * state under out-of-order stream merges, see
    * [[graft.streaming.StreamingSurvival]]). Users with no qualifying
    * purchase censor at their LAST observed event day (per-user
    * observation end — no global data-dependent scalar, so no scalar
    * join anywhere). Day-granular by design: the time axis is
    * calendar-bounded, so the curve relation is |days| rows.
    *
    * Exactness: the survival product is a RUNNING TRUNCATING integer
    * fold in e9 — acc ← acc·(n−d) div n at each event day (acc stays
    * in e9 scale because (n−d)/n ≤ 1; one ulp per step, the declared
    * semantics, q161 floor-before-sum spirit) — expressed as an
    * in-row `aggregate` HOF over the window-collected day prefix in
    * Spark and the equivalent recursive CTE in DuckDB: bit-for-bit
    * equal, no float product or exp/log anywhere. Overflow:
    * acc·(n−d) ≤ 1e9·N — exact past 9×10⁹ users.
    *
    * Plan: one map-combined shuffle to per-user (first-view,
    * first-purchase, last-event) cells, a second map-combined
    * collapse to per-day (d, c) counts — the ONLY row-scaled stages —
    * then windows + the prefix fold over the |days|-bounded curve
    * relation. */
  /** The per-(user, arm) survival state — first view, first purchase,
    * last-seen day. MERGEABLE under any chunking of the event stream
    * (min/min/max — not additive, but idempotently foldable, which is
    * all the twin needs); shared verbatim with
    * [[graft.streaming.StreamingSurvival]]. */
  private[graft] def survivalCells(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"),
        (col("user_id") % 2 === 1).as("treat"),
        datediff(col("ts"), lit("1970-01-01")).cast("long").as("t"))
      .groupBy("user_id", "treat")
      .agg(min(when(col("event_type") === "view", col("t"))).as("fv"),
        min(when(col("event_type") === "purchase", col("t"))).as("fp"),
        max(col("t")).as("le"))

  /** (event, dur) rows per at-risk user — the shared censoring rule:
    * event ⟺ the user's EARLIEST purchase (fp = global min) is
    * at-or-after the first view; an fp BEFORE fv censors the user at
    * le even when later purchases exist (the bounded-mergeable-state
    * rule — see the q254 Units paragraph; pinned by the Round13
    * purchase-before-AND-after-view fixture). */
  private def survivalDurations(cells: DataFrame): DataFrame =
    cells
      .filter(col("fv").isNotNull)
      .select(col("treat"),
        when(col("fp").isNotNull && col("fp") >= col("fv"), 1L)
          .otherwise(0L).as("event"),
        when(col("fp").isNotNull && col("fp") >= col("fv"),
          col("fp") - col("fv"))
          .otherwise(col("le") - col("fv")).as("dur"))

  /** The Kaplan–Meier product-limit table over the cell relation —
    * q254's pooled curve, or with `byArm` q259's one independent fold
    * per treatment arm (windows partitioned by `treat`, the arm
    * surfaced as BIGINT 0/1). Shared with the streaming twin so its
    * answers are this exact code path. */
  private[graft] def kmFinalize(cells: DataFrame, byArm: Boolean = false): DataFrame = {
    val arm = if (byArm) Seq(col("treat")) else Nil
    val days = survivalDurations(cells)
      .groupBy(arm :+ col("dur").as("day"): _*)
      .agg(sum(col("event")).as("d_conv"),
        sum(lit(1L) - col("event")).as("n_censored"))
    val wAll = Window.partitionBy(arm: _*)
    val wPrev = wAll.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPfx = wAll.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days
      .withColumn("n_total", sum(col("d_conv") + col("n_censored")).over(wAll))
      .withColumn("gone",
        coalesce(sum(col("d_conv") + col("n_censored")).over(wPrev), lit(0L)))
      .withColumn("n_risk", col("n_total") - col("gone"))
      .withColumn("pfx",
        collect_list(struct(col("n_risk").as("n"), col("d_conv").as("d")))
          .over(wPfx))
      .filter(col("d_conv") > 0) // the KM table lists event times only
      .select(arm.map(a => when(a, 1L).otherwise(0L).as("arm")) ++
        Seq(col("day"), col("n_risk"), col("d_conv"), col("n_censored"),
          expr("""aggregate(pfx, CAST(1000000000 AS BIGINT),
                 | (acc, s) -> CASE WHEN s.d > 0
                 |   THEN acc * (s.n - s.d) div s.n ELSE acc END)""".stripMargin)
            .as("surv_e9")): _*)
  }

  /** The q254 event-day curve relation — SharedCache'd (q257's RMST
    * integrates exactly this relation). */
  private[graft] def kmEventCurve(s: SparkSession, d: String): DataFrame =
    kmFinalize(survivalCells(Tables.events(s, d)))
      .transform(graft.ops.SharedCache.persist)

  val q254KaplanMeier: Q = (s, d) => kmEventCurve(s, d)

  // -- q259: per-arm Kaplan–Meier curves ----------------------------------

  /** ARM-SPLIT KAPLAN–MEIER CURVES — the two-curve overlay an
    * experiment review actually reads: q254
    * pools the arms and only q256's log-rank compares them as ONE
    * scalar; this is the per-arm product-limit table itself — one
    * independent KM fold per treatment arm over the arm's own risk
    * set, so the treated and control conversion curves can be plotted
    * against each other day by day. Same censoring rule, same
    * truncating e9 running product, same day-granular axis as q254
    * (see its Units paragraph — the bounded-mergeable-state
    * conversion rule applies verbatim).
    *
    * Exactness: q254's exactly — the fold is the identical in-row
    * `aggregate` HOF, just partitioned by arm; the oracle is q254's
    * recursive CTE keyed by (arm, rn). Arm surfaced as BIGINT 0/1
    * (boolean columns stay out of the oracle hash surface, q133
    * convention).
    *
    * Plan: q254's exactly with `treat` carried through both
    * map-combined collapses — no new row-scaled work (the per-user
    * cell pass already computes treat for q256); windows partition by
    * arm over the ≤2·|days| curve relation. Served from the SAME
    * streaming state by [[graft.streaming.StreamingSurvival.armCurves]]
    * — the fourth report off one maintained relation. */
  val q259KmByArm: Q = (s, d) => kmArmCurve(s, d)

  /** The q259 arm-split curve relation — SharedCache'd (q260's RMST
    * difference integrates exactly this relation, and in shared mode
    * CacheManager's canonical-plan dedup serves q260's internal
    * rebuild from this cache). */
  private[graft] def kmArmCurve(s: SparkSession, d: String): DataFrame =
    kmFinalize(survivalCells(Tables.events(s, d)), byArm = true)
      .transform(graft.ops.SharedCache.persist)

  // -- q260: per-arm RMST + difference -------------------------------------

  /** RMST TREATMENT EFFECT — the number a modern survival-endpoint
    * experiment actually reports (Royston & Parmar 2011; Uno et al.
    * 2014 made it the hazard-ratio replacement): RMST per arm over
    * q259's curves and their DIFFERENCE ∫₀^τ(S₁−S₀) — for a
    * conversion endpoint a NEGATIVE diff means the treated arm
    * converts faster (spends fewer conversion-free days in the first
    * τ = 30). Censoring-safe where a mean-days-to-convert delta is
    * not, and model-free where a hazard ratio assumes
    * proportionality.
    *
    * Exactness: q257's pure-integer span·S fold per arm — exact
    * e9·days BIGINTs, one subtraction, no division anywhere. An arm
    * WITH at-risk users but NO conversions yet coalesces to exactly
    * τ·1e9 (S ≡ 1, q257's degenerate rule — the arm spine
    * comes from the duration cells, not the curve, so
    * present-but-eventless and absent arms stay distinct); an arm
    * with no at-risk users at all is NULL, as is the diff.
    *
    * Plan: q259's SharedCache'd curve + one lead() window per arm
    * over the ≤2·|days| relation + a 2-row arm spine off the cell
    * pass + ONE 1-row conditional pivot. Per-arm medians attached
    * (q257 convention, NULL when the arm's curve never crosses ½). */
  /** Per `keys` group of a survival curve (day, surv_e9): `tail_e9`,
    * Σ span·S over the curve's steps clipped to [0, τ], the `first_day`
    * and the `median_day` (first day with S ≤ 0.5). No keys makes it
    * one global row. */
  private def rmstTail(curve: DataFrame, keys: String*): DataFrame = {
    val wLead = Window.partitionBy(keys.map(col): _*).orderBy("day")
    curve
      .withColumn("next_day",
        coalesce(lead(col("day"), 1).over(wLead), lit(RmstHorizonDays)))
      .select(keys.map(col) ++ Seq(
        greatest(
          least(col("next_day"), lit(RmstHorizonDays)) -
            least(col("day"), lit(RmstHorizonDays)),
          lit(0L)).as("span"),
        col("surv_e9"), col("day")): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("span") * col("surv_e9")).as("tail_e9"),
        min(col("day")).as("first_day"),
        min(when(col("surv_e9") <= 500000000L, col("day")))
          .as("median_day"))
  }

  /** The q260 tail over the cell relation — shared with the streaming
    * twin so its answer is this exact code path. */
  private[graft] def rmstArmFinalize(cells: DataFrame): DataFrame = {
    val perArm = rmstTail(kmFinalize(cells, byArm = true), "arm")
    // the arm spine: arms that HAVE at-risk users (distinct from arms
    // whose curve is merely empty — those coalesce to tau, not NULL)
    val arms = survivalDurations(cells)
      .groupBy(when(col("treat"), 1L).otherwise(0L).as("arm"))
      .agg(count(lit(1)).as("n_at_risk"))
    arms.join(perArm, Seq("arm"), "left")
      .select(col("arm"), col("n_at_risk"),
        coalesce(
          col("tail_e9") +
            lit(1000000000L) * least(col("first_day"), lit(RmstHorizonDays)),
          lit(1000000000L * RmstHorizonDays)).as("rmst_e9_days"),
        col("median_day"))
      .agg(
        max(when(col("arm") === 0L, col("n_at_risk"))).as("n0_at_risk"),
        max(when(col("arm") === 1L, col("n_at_risk"))).as("n1_at_risk"),
        max(when(col("arm") === 0L, col("rmst_e9_days"))).as("rmst0_e9_days"),
        max(when(col("arm") === 1L, col("rmst_e9_days"))).as("rmst1_e9_days"),
        max(when(col("arm") === 0L, col("median_day"))).as("median0_day"),
        max(when(col("arm") === 1L, col("median_day"))).as("median1_day"))
      .select(lit(RmstHorizonDays).as("tau_days"),
        col("n0_at_risk"), col("n1_at_risk"),
        col("rmst0_e9_days"), col("rmst1_e9_days"),
        (col("rmst1_e9_days") - col("rmst0_e9_days"))
          .as("rmst_diff_e9_days"),
        col("median0_day"), col("median1_day"))
  }

  val q260RmstByArm: Q = (s, d) =>
    rmstArmFinalize(survivalCells(Tables.events(s, d)))

  // -- q256: log-rank test ---------------------------------------------------

  /** LOG-RANK TEST (Mantel 1966) — does the parity split change the
    * time-to-conversion DISTRIBUTION, the inference companion of
    * q254's curve the way q253 is of q160's slope: at each conversion
    * day the treated arm's observed events d₁ are compared with the
    * hypergeometric expectation d·n₁/n given the day's risk sets, and
    * U = Σ(d₁ − d·n₁/n), V = Σ d·(n₁/n)(1−n₁/n)(n−d)/(n−1),
    * z = U/√V. Censoring-safe by construction — exactly the
    * comparison a naive conversion-rate delta (q133 on a converted
    * flag) gets wrong when observation windows differ by arm.
    *
    * Exactness: per-day risk/event counts are exact BIGINTs; each
    * day's U and V term is ONE fixed-shape IEEE expression ROUNDED to
    * e9 BEFORE the sum (the q161 floor-before-sum convention, signed
    * via round per the q150 rule — never a signed integer div), so
    * the sums are exact BIGINT folds of identically-quantized terms
    * in both engines; z is one IEEE expression at the very end.
    * Declared 1-ulp-per-event-day quantization.
    *
    * Plan: q254's exactly, with arm-split counts — one map-combined
    * per-user pass, one per-day collapse, windows over the
    * calendar-bounded day relation, a scalar aggregate. */
  /** The q256 tail over the cell relation — shared with the streaming
    * twin. */
  private[graft] def logRankFinalize(cells: DataFrame): DataFrame = {
    val days = survivalDurations(cells)
      .groupBy(col("dur").as("day"))
      .agg(sum(col("event")).as("d_all"),
        sum(when(col("treat"), col("event")).otherwise(0L)).as("d1"),
        sum(lit(1L) - col("event")).as("c_all"),
        sum(when(col("treat"), lit(1L) - col("event")).otherwise(0L)).as("c1"))
    val wPrev = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    days
      .withColumn("n_tot", sum(col("d_all") + col("c_all")).over(wAll))
      .withColumn("n1_tot", sum(col("d1") + col("c1")).over(wAll))
      .withColumn("gone",
        coalesce(sum(col("d_all") + col("c_all")).over(wPrev), lit(0L)))
      .withColumn("gone1",
        coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
      .withColumn("n", col("n_tot") - col("gone"))
      .withColumn("n1", col("n1_tot") - col("gone1"))
      .filter(col("d_all") > 0)
      .select(col("day"), col("d_all"), col("d1"), col("n"), col("n1"),
        expr("""CAST(round((CAST(d1 AS DOUBLE)
               | - CAST(d_all AS DOUBLE) * n1 / n) * 1000000000, 0)
               | AS BIGINT)""".stripMargin).as("u_e9"),
        expr("""CASE WHEN n > 1 THEN
               | CAST(round(CAST(d_all AS DOUBLE)
               |   * (CAST(n1 AS DOUBLE) / n) * (1 - CAST(n1 AS DOUBLE) / n)
               |   * (CAST(n AS DOUBLE) - d_all) / (n - 1)
               |   * 1000000000, 0) AS BIGINT)
               | ELSE CAST(0 AS BIGINT) END""".stripMargin).as("v_e9"),
        expr("""CAST(round(CAST(d_all AS DOUBLE) * n1 / n * 1000000000, 0)
               | AS BIGINT)""".stripMargin).as("e1_e9"))
      .agg(count(lit(1)).as("n_event_days"),
        sum(col("d1")).as("o1"),
        sum(col("e1_e9")).as("e1_e9"),
        sum(col("u_e9")).as("u_e9"),
        sum(col("v_e9")).as("v_e9"))
      .select(col("n_event_days"), col("o1"), col("e1_e9"),
        col("u_e9"), col("v_e9"),
        expr("""CASE WHEN v_e9 > 0 THEN
               | CAST(u_e9 AS DOUBLE) / sqrt(CAST(v_e9 AS DOUBLE) * 1000000000)
               | END""".stripMargin).as("z_logrank"))
  }

  val q256LogRank: Q = (s, d) =>
    logRankFinalize(survivalCells(Tables.events(s, d)))

  // -- q257: restricted mean survival time -----------------------------------

  private[graft] val RmstHorizonDays = 30L

  /** RESTRICTED MEAN SURVIVAL TIME + MEDIAN — the two scalar readings
    * of q254's curve an experiment report actually quotes: RMST(τ) =
    * ∫₀^τ S(t)dt, "average conversion-free days in the first τ = 30"
    * (well-defined under censoring where the plain mean is not), and
    * the median conversion day (first day S ≤ ½). Both are PURE
    * INTEGER ARITHMETIC over the SharedCache'd q254 curve: the step
    * function is constant between event days, so the integral is
    * Σ S_k·(span clipped to τ) in exact e9·days — day spans via one
    * lead() window over the |event-days| relation, no new corpus
    * work at all.
    *
    * The declared τ = 30 is baked into both engines (q238 literal
    * convention). Median NULL when the curve never crosses ½. An
    * EMPTY curve (no conversions observed yet — the streaming twin's
    * first batches) means S ≡ 1 on [0, τ], so RMST coalesces to
    * exactly τ·1e9 rather than NULL;
    * median stays NULL, which is correct — the curve never reached ½. */
  /** The q257 tail over a KM curve relation — shared with the
    * streaming twin. */
  private[graft] def rmstFinalize(curve: DataFrame): DataFrame = {
    rmstTail(curve)
      .select(lit(RmstHorizonDays).as("tau_days"),
        // degenerate curve (no conversion days yet — the streaming
        // twin early in a stream): S ≡ 1 on [0, τ], so RMST = τ, not
        // NULL; the empty-curve aggregate yields NULL
        // sums/mins and the coalesce restores the identity
        coalesce(
          col("tail_e9") +
            lit(1000000000L) * least(col("first_day"), lit(RmstHorizonDays)),
          lit(1000000000L * RmstHorizonDays))
          .as("rmst_e9_days"),
        col("median_day"))
  }

  val q257Rmst: Q = (s, d) => rmstFinalize(kmEventCurve(s, d))

  // -- q255: uplift deciles / Qini curve -----------------------------------

  /** UPLIFT DECILES (Qini-style) — the targeting readout the A/B
    * family still lacked: q133/q250 estimate ONE average treatment
    * effect, but a campaign targets the users it helps most, and the
    * standard evidence is the uplift-by-decile table (Radcliffe 2007):
    * rank users by a pre-treatment score, split into deciles, and in
    * each compare the arms' conversion rates — plus the cumulative
    * Qini numerator that turns the table into the model-selection
    * curve (steeper early rise = better targeting).
    *
    * Score = the user's even-epoch-day spend (q250's covariate,
    * shared convention — deterministic and pre-outcome by the same
    * parity-day argument); outcome = any 'purchase'; arms = the
    * q133 user-parity split. Exactness: per-arm rates are truncating
    * non-negative ppm (house div contract), their difference an exact
    * signed BIGINT subtraction; the cumulative Qini leg is the
    * CROSS-MULTIPLIED form cc₁·cn₀ − cc₀·cn₁ — an exact signed
    * BIGINT with NO division at all (the q148 cross-product
    * discipline), so the curve ranks models engine-exactly.
    *
    * Plan: one map-combined
    * shuffle to per-user cells, then a DISTRIBUTED exact decile rank
    * over the USER DIMENSION — the q102 two-phase prefix discipline
    * adapted to a semantic total order, so NO single task ever sorts
    * the user relation (the old global ntile funneled every user
    * through one Window partition; at 100× users that task is the
    * job). rank(u) under (score DESC, user_id ASC) decomposes into
    * three bounded prefix sums:
    *   rank−1 = |score' > score|            (score-domain cell prefix)
    *          + |score' = score, bucket' < bucket|   (uid-bucket cells)
    *          + rows before u inside its (score, bucket) partition,
    * where bucket = user_id div 2²⁰ — user_ids are unique, so every
    * (score, bucket) window partition holds ≤2²⁰ rows BY CONSTRUCTION
    * and the two cell windows walk FREQUENCY relations (the q246
    * cents-cell discipline: bounded by the score/uid-bucket domains,
    * not by user count). The decile is then the closed-form ntile —
    * N div 10 / N mod 10 bucket sizes off the driver-hosted N (q102's
    * control-plane-scalar convention) — IDENTICAL output to the SQL
    * ntile(10) the oracle keeps. The tail is a 10-row aggregate +
    * cumulative windows over the decile relation. Overflow: cc·cn ≤
    * N² — exact past 3×10⁹ users. */
  /** Uid-bucket width for the distributed-rank tiebreak legs (q255,
    * and q249's per-source twin in Profiling): ids are unique, so an
    * inner rank partition never exceeds this many rows. */
  private[graft] val RankIdBucket = 1L << 20

  /** The per-(user, arm) uplift state — pre-period score (additive by
    * +) and conversion flag (idempotent by max): MERGEABLE under any
    * chunking of the event stream; shared verbatim with
    * [[graft.streaming.StreamingUplift]]. */
  private[graft] def upliftCells(events: DataFrame): DataFrame =
    armedValues(events)
      .groupBy("user_id", "treat")
      .agg(sum(when(col("pre"), col("v")).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))

  /** The q255 report tail over the cell relation (the distributed
    * rank + closed-form decile + 10-row table) — shared with the
    * streaming twin so its answer is this exact code path.
    *
    * MUST NOT cache `cells` itself: when invoked
    * from [[graft.streaming.StreamingUplift.report]] the cells are a
    * path-based read of the MUTABLE state dir, and Spark's
    * CacheManager canonicalizes parquet reads by root path — a
    * persist here would serve a stale InMemoryRelation after the next
    * TableSwap.publish, to later report() calls AND to processBatch's
    * canonically-identical state read, silently folding batch N+1
    * onto batch N−1 cells. Callers with an immutable cell relation
    * (batch q255) persist OUTSIDE before passing it in. */
  private[graft] def upliftFinalize(cells: DataFrame): DataFrame = {
    val u = cells
    // leg 1: users strictly above this score. Scores are per-user
    // cent SUMS — near-unique in practice — so the distinct-score
    // relation can approach user cardinality and one unpartitioned
    // prefix window over it would re-create the single-task sort this
    // decomposition exists to retire. Two levels, the
    // same shape as the uid leg: score buckets of width 2²⁰ cents
    // give an outer frequency relation bounded by score_domain/2²⁰
    // (one tiny window) and inner per-bucket partitions of ≤2²⁰
    // distinct scores by construction (`div` truncates toward zero,
    // which is monotone in score, so bucket 0 spans (−2²⁰, 2²⁰) —
    // ≤2²¹ distinct values — and the decomposition stays exact for
    // negative scores too).
    val wSb = Window.orderBy(col("sb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sbTot = u.withColumn("sb", expr(s"score div ${RankIdBucket}L"))
      .groupBy("sb").agg(count(lit(1)).as("sb_n"))
      .withColumn("above_b", coalesce(sum(col("sb_n")).over(wSb), lit(0L)))
      .select(col("sb"), col("above_b"))
    val wInSb = Window.partitionBy("sb").orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val scorePfx = u.withColumn("sb", expr(s"score div ${RankIdBucket}L"))
      .groupBy("sb", "score").agg(count(lit(1)).as("sc_n"))
      .withColumn("above_in", coalesce(sum(col("sc_n")).over(wInSb), lit(0L)))
      .join(sbTot, Seq("sb"))
      .select(col("score"), (col("above_b") + col("above_in")).as("above"))
    // leg 2: same score, lower uid bucket (uid-bucket cells)
    val wBkt = Window.partitionBy("score").orderBy("ub")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktPfx = u.withColumn("ub", expr(s"user_id div ${RankIdBucket}L"))
      .groupBy("score", "ub").agg(count(lit(1)).as("b_n"))
      .withColumn("b_before", coalesce(sum(col("b_n")).over(wBkt), lit(0L)))
      .select(col("score"), col("ub"), col("b_before"))
    // leg 3: row_number inside the ≤2²⁰-row (score, bucket) partition
    val wIn = Window.partitionBy("score", "ub").orderBy("user_id")
    // closed-form ntile off the control-plane N (exact ntile(10)
    // semantics: the first N mod 10 deciles carry one extra user)
    val n = u.agg(count(lit(1))).head.getLong(0)
    val q10 = n / 10L; val rem = n % 10L
    val cut = rem * (q10 + 1L); val qSafe = math.max(q10, 1L)
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("ub", expr(s"user_id div ${RankIdBucket}L"))
      .withColumn("rin", row_number().over(wIn).cast("long"))
      .join(bktPfx, Seq("score", "ub"))
      .join(scorePfx, Seq("score"))
      .withColumn("rk", col("above") + col("b_before") + col("rin"))
      .withColumn("decile",
        expr(s"""CASE WHEN rk <= ${cut}L
                |  THEN (rk - 1) div ${q10 + 1L}L + 1
                |  ELSE ${rem}L + (rk - ${cut}L - 1) div ${qSafe}L + 1
                |END""".stripMargin))
      .groupBy("decile")
      .agg(sum(when(!col("treat"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("treat"), col("conv")).otherwise(0L)).as("conv0"),
        sum(when(col("treat"), col("conv")).otherwise(0L)).as("conv1"))
      .withColumn("cn0", sum(col("n0")).over(wCum))
      .withColumn("cn1", sum(col("n1")).over(wCum))
      .withColumn("cc0", sum(col("conv0")).over(wCum))
      .withColumn("cc1", sum(col("conv1")).over(wCum))
      .select(col("decile"), col("n0"), col("n1"), col("conv0"), col("conv1"),
        expr("CASE WHEN n0 > 0 THEN conv0 * 1000000 div n0 END").as("rate0_ppm"),
        expr("CASE WHEN n1 > 0 THEN conv1 * 1000000 div n1 END").as("rate1_ppm"),
        expr("""CASE WHEN n0 > 0 AND n1 > 0 THEN
               | conv1 * 1000000 div n1 - conv0 * 1000000 div n0
               | END""".stripMargin).as("uplift_ppm"),
        (col("cc1") * col("cn0") - col("cc0") * col("cn1")).as("qini_x"))
  }

  val q255UpliftDeciles: Q = (s, d) =>
    // persist HERE, on the immutable batch corpus — never inside the
    // shared finalizer (see upliftFinalize's caching contract)
    upliftFinalize(
      upliftCells(Tables.events(s, d)).transform(graft.ops.SharedCache.persist))

  // -- q258: sample-ratio-mismatch guardrail -------------------------------

  /** SAMPLE-RATIO MISMATCH CHECK — the guardrail every experiment
    * platform runs BEFORE believing any readout in this family
    * (Fabijan et al. 2019 report ~6% of experiments at scale fail
    * it): under the declared 50/50 user-parity split, does the
    * realized USER count per arm actually match? A mismatched ratio
    * means assignment or logging is broken and q133/q245/q250's
    * answers are garbage regardless of their p-values. One-df
    * chi-square against the 50/50 expectation: χ² = (n₀−n₁)²/(n₀+n₁),
    * flagged at the baked 3.841 critical value (α = 0.05).
    *
    * Exactness: counts are exact BIGINTs; χ² is surfaced as the
    * exact truncating ppm (n₀−n₁)²·1e6 div (n₀+n₁), computed in the
    * SPLIT-DIVISION form q div m·1e6 + (q mod m)·1e6 div m (identical
    * value, never materializes diff²·1e6, which would overflow),
    * and the flag is the exact integer comparison
    * (n₀−n₁)² > 3841·(n₀+n₁) div 1000 ⟺ 1000·(n₀−n₁)² > 3841·(n₀+n₁)
    * ⟺ χ² > 3.841 (floor-equivalence: both sides integers) — no float
    * anywhere. Overflow ceilings (q224 documentation convention):
    * |n₀−n₁| < 3.0×10⁹ (the square) and n₀+n₁ < 2.4×10¹⁵ (the flag's
    * 3841 product) / 9.2×10¹² (the split division's mod·1e6 term) —
    * the ~3×10⁹ sibling-family ceiling, vs ~3×10⁶ for the unsplit
    * form.
    *
    * Both granularities ship: USERS (the unit the split assigns —
    * the real SRM) and raw events (whose imbalance is expected from
    * per-user volume variance; reported for contrast). Plan: one
    * map-combined pass to user cells + one |types|-row aggregate. */
  val q258SrmCheck: Q = (s, d) => {
    val cells = Tables.events(s, d)
      .select(col("event_type"), col("user_id"),
        (col("user_id") % 2 === 1).as("treat"))
      .groupBy("event_type", "user_id", "treat")
      .agg(count(lit(1)).as("n_events"))
    cells.groupBy("event_type")
      .agg(sum(when(!col("treat"), 1L).otherwise(0L)).as("u0"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("u1"),
        sum(when(!col("treat"), col("n_events")).otherwise(0L)).as("e0"),
        sum(when(col("treat"), col("n_events")).otherwise(0L)).as("e1"))
      .select(col("event_type"), col("u0"), col("u1"), col("e0"), col("e1"),
        expr("""CASE WHEN u0 + u1 > 0 THEN
               | (u0 - u1) * (u0 - u1) div (u0 + u1) * 1000000
               | + (u0 - u1) * (u0 - u1) % (u0 + u1) * 1000000
               |   div (u0 + u1)
               | END""".stripMargin).as("chi2_user_ppm"),
        expr("""CASE WHEN u0 + u1 > 0 THEN
               | CAST(CASE WHEN (u0 - u1) * (u0 - u1)
               |             > 3841 * (u0 + u1) div 1000
               |      THEN 1 ELSE 0 END AS BIGINT)
               | END""".stripMargin).as("srm_flag"),
        expr("""CASE WHEN e0 + e1 > 0 THEN
               | (e0 - e1) * (e0 - e1) div (e0 + e1) * 1000000
               | + (e0 - e1) * (e0 - e1) % (e0 + e1) * 1000000
               |   div (e0 + e1)
               | END""".stripMargin).as("chi2_event_ppm"))
  }

  // -- q238: SPRT sequential conversion test -----------------------------

  private val SprtP0 = 0.10 // H0 conversion rate
  private val SprtP1 = 0.20 // H1 conversion rate
  /** e6 log-likelihood steps and Wald thresholds (α = β = 0.05),
    * computed on the driver and baked as the SAME literals into the
    * Spark plan and the oracle SQL — the q131 Benford convention: no
    * runtime libm on either engine. */
  private[graft] val SprtStepHit =
    math.round(1e6 * math.log(SprtP1 / SprtP0))
  private[graft] val SprtStepMiss =
    math.round(1e6 * math.log((1 - SprtP1) / (1 - SprtP0)))
  private[graft] val SprtThreshold = math.round(1e6 * math.log(0.95 / 0.05))

  /** SEQUENTIAL PROBABILITY RATIO TEST — the experiment readout q133's
    * fixed-horizon z-test can't give: Wald's SPRT walks the cumulative
    * log-likelihood ratio observation by observation and STOPS the
    * moment the evidence crosses a threshold — the "can we end the
    * A/B test early" machinery, with α = β = 0.05 guaranteed by the
    * thresholds ±ln(19) regardless of when it stops. Per variant
    * (q133's user-parity split): the decision, the exact observation
    * count to decision (the sample-size saving vs a fixed horizon),
    * conversions, and the final walk value.
    *
    * Exactness: steps and thresholds are e6 integer literals baked at
    * plan build; the walk is an exact integer running sum; the first
    * crossing is min(rn) with the crossing-time value recovered by
    * struct-min — no doubles anywhere.
    *
    * Plan: ONE per-variant ordered window pass (a sequential test IS
    * an ordered statistic — the honest cost); at 100 TB the same walk
    * distributes as q102's two-phase prefix sum (per-shard partials,
    * carried-in offsets), identical semantics. Everything after the
    * walk is a 2-row aggregate. */
  val q238SprtTest: Q = (s, d) => {
    val w = Window.partitionBy("variant").orderBy("ts", "event_id")
    val walk = Tables.events(s, d)
      .select((col("user_id") % 2).as("variant"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", lit(SprtStepHit))
          .otherwise(lit(SprtStepMiss)).as("step"),
        (col("event_type") === "purchase").cast("long").as("hit"))
      .withColumn("cum", sum(col("step")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .transform(graft.ops.SharedCache.persist)
    val crossing = walk
      .filter(col("cum") >= SprtThreshold || col("cum") <= -SprtThreshold)
      .groupBy("variant")
      .agg(min(struct(col("rn"), col("cum"))).as("x"))
      .select(col("variant"), col("x.rn").as("n_to_decision"),
        col("x.cum").as("cum_at_decision"))
    walk.groupBy("variant")
      .agg(count(lit(1)).as("n_obs"), sum(col("hit")).as("n_conversions"),
        max(struct(col("rn"), col("cum"))).as("last"))
      .select(col("variant"), col("n_obs"), col("n_conversions"),
        col("last.cum").as("llr_final_e6"))
      .join(crossing, Seq("variant"), "left")
      .select(col("variant"), col("n_obs"), col("n_conversions"),
        expr(s"""CASE WHEN n_to_decision IS NULL THEN 'undecided'
                |     WHEN cum_at_decision >= ${SprtThreshold}L THEN 'accept_h1'
                |     ELSE 'accept_h0' END""".stripMargin).as("decision"),
        col("n_to_decision"), col("llr_final_e6"))
  }

  // -- q240: Markov removal-effect attribution ----------------------------

  private val RemovalIters = 10

  /** The declared channel domain (q51's explicit-pivot-values
    * convention — the oracle must be static SQL, so the channel set is
    * a contract, not a scan): every non-purchase event type of the
    * testdata schema. A state outside the set would still transit
    * correctly but would receive no credit row. */
  private val RemovalChannels = Seq("click", "error", "signup", "view")

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven complement of
    * q139's position-based linear credit (Anderl et al. 2014, the
    * model every attribution vendor ships): build the journey chain
    * start → channels → {conv, null} (absorb at the FIRST purchase;
    * journeys without one terminate in null), then ask per channel
    * what conversion probability the chain LOSES when that channel is
    * removed (its states absorb into null) — removal effect, credit =
    * effect share. Unlike last-touch/linear this prices channels by
    * their causal position in the observed graph: a channel that only
    * ever leads to dead ends gets nothing no matter how often it is
    * touched.
    *
    * Exactness: transition rates in e9; absorption probabilities by
    * RemovalIters fixed value-iteration steps of v ← t_conv + T·v
    * (documented fixed-K, the q162/q204 convention — chains here are
    * 5 states, geometric convergence) with per-edge truncating
    * `rate·v div 1e9` mirrored exactly by the oracle's unrolled CTEs.
    * Effects are differences of e9 integers; shares are a final
    * truncating ppm over the Σ-effect (guarded).
    *
    * Plan: journeys build in-row (per-user sorted state array + one
    * consecutive-pair explode — text never shuffles, one user-keyed
    * aggregate); the matrix is a ≤(|channels|+2)²-row relation,
    * collected once as declared control plane (the k-means centroid
    * convention) and value-iterated ON THE DRIVER (the matrix is
    * bounded by the channel domain, not data volume, so the 10
    * fixed-point steps are data-independent arithmetic, not Spark
    * jobs; see the in-body note for the exactness argument). */
  val q240RemovalEffect: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ranked = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
    val firstP = ranked.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("rn")).as("prn"))
    val journeys = ranked.join(firstP, Seq("user_id"), "left")
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("state",
        when(col("event_type") === "purchase", "conv").otherwise(col("event_type")))
      .groupBy("user_id")
      .agg(transform(sort_array(collect_list(struct(col("rn"), col("state")))),
        x => x.getField("state")).as("sts"))
      .select(col("user_id"),
        concat(array(lit("start")), col("sts"),
          when(element_at(col("sts"), -1) === "conv", array())
            .otherwise(array(lit("null")))).as("seq"))
    val trans = journeys
      .select(explode(zip_with(col("seq"),
        slice(col("seq"), lit(2), greatest(size(col("seq")) - 1, lit(0))),
        (a, b) => struct(a.as("prev"), b.as("next")))).as("p"))
      .filter(col("p.next").isNotNull)
      .groupBy(col("p.prev").as("prev"), col("p.next").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("src_total",
        sum(col("n")).over(Window.partitionBy("prev")))
      .select(col("prev"), col("next"),
        expr("n * 1000000000 div src_total").as("rate_ppb"))
      // single consumer: the driver-side fold below — no persist
      // needed
    val channels = RemovalChannels
    // data-INDEPENDENT work does not run as Spark jobs. The value
    // iteration runs over the transition MATRIX, a ≤(|channels|+2)²-row
    // relation bounded by the declared channel domain at ANY corpus
    // size — control plane by the same convention that collects the
    // per-scenario values below. Run as Spark, it would be
    // RemovalIters=10 jobs (each a join + agg + eager localCheckpoint
    // over ~30 rows, ~1.3 s of pure scheduling at any scale);
    // collecting the matrix once and folding on the driver is
    // arithmetic-identical: per edge `rate_ppb · v div 1e9` with all
    // operands non-negative, so Spark's floor-div equals Scala `/`,
    // then the same per-(scenario, prev) sum. Measured 2.33 s → ~1.0 s
    // isolate at sf0.1 against the job-per-step form, with
    // byte-identical output.
    val tRows = trans.select(col("prev"), col("next"), col("rate_ppb"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val convPpb = tRows.filter(_._2 == "conv").map(t => t._1 -> t._3).toMap
    val scenarios = "base" +: channels
    val res = scenarios.map { scn =>
      val nodes = "start" +: channels.filterNot(_ == scn)
      val nodeSet = nodes.toSet
      var v = nodes.map(n => n -> 0L).toMap
      (1 to RemovalIters).foreach { _ =>
        // an edge contributes only when both endpoints are in the
        // scenario's node set (next via the old v join, prev via the
        // old spine left-join) — absorbing states enter through conv_ppb
        val infl = new scala.collection.mutable.HashMap[String, Long]()
          .withDefaultValue(0L)
        tRows.foreach { case (prev, next, rate) =>
          if (nodeSet.contains(prev) && nodeSet.contains(next))
            infl(prev) += rate * v(next) / 1000000000L
        }
        v = nodes.map(n => n -> (convPpb.getOrElse(n, 0L) + infl(n))).toMap
      }
      scn -> v("start")
    }.toMap
    val base = res("base")
    val eff = channels.map(c => (c, base, res(c), base - res(c)))
    val total = math.max(eff.map(_._4).map(math.max(_, 0L)).sum, 1L)
    eff.map { case (c, b, r, e) =>
      (c, b, r, e, math.max(e, 0L) * 1000000L / total)
    }.toDF("channel", "base_conv_e9", "removed_conv_e9", "effect_e9",
      "credit_ppm")
  }

  // -- q134: CUSUM change-point detection -------------------------------

  /** CHANGE-POINT SCAN: for each event type's daily-count series, the
    * day where the cumulative sum of deviations from the series mean
    * peaks in magnitude — the classic CUSUM estimator of a level
    * shift's location (Page 1954), the batch primitive behind "when
    * did this feed's volume regime change".
    *
    * Integer-exact trick: instead of subtracting the truncated mean
    * (which drifts the walk by up to n·ε), every deviation is scaled
    * by n: dev = x·n − total, so S_t = n·Σx_{≤t} − t·total is EXACT in
    * units of (count × n) and both engines agree with no division
    * anywhere. The argmax tiebreak is (|S| desc, day asc) via
    * row_number — fully ordered, no nondeterministic max_by.
    *
    * Plan: daily partials (one map-combined shuffle of the raw scan),
    * then mean + running sum + argmax all over |types|×|days| rows. */
  val q134CusumChangepoint: Q = (s, d) => {
    // persisted: the daily relation feeds BOTH the per-type totals and
    // the walk — without the cache each branch re-scans raw events
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .transform(graft.ops.SharedCache.persist)
    cusumFromDaily(daily)
  }

  /** q134's finalization, factored over ANY per-(event_type, day)
    * count relation (columns `event_type, day, x`): mean + exact
    * n-scaled CUSUM walk + deterministic argmax. Shared verbatim by
    * the batch query above and the streaming incremental fold
    * ([[graft.streaming.StreamingAnomaly]]), so the q134 DuckDB oracle
    * transitively verifies the streaming finalizer (the streaming
    * difference is only WHERE `daily` comes from: a raw scan vs an
    * incrementally-maintained count state). Callers persist `daily`
    * when it is expensive — it feeds both the totals and the walk. */
  private[graft] def cusumFromDaily(daily: DataFrame): DataFrame = {
    val totals = daily.groupBy("event_type")
      .agg(sum(col("x")).as("total"), count(lit(1)).as("n_days"))
    val wRun = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum_xn")).desc, col("day").asc)
    daily
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("cusum_xn", sum(col("x") * col("n_days") - col("total")).over(wRun))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"),
        col("day").as("change_day"), col("cusum_xn"),
        abs(col("cusum_xn")).as("max_abs_xn"))
  }

  // -- q135: seasonal baseline anomalies --------------------------------

  /** SEASONAL ANOMALY FLAGS: compare every (event_type, hour) bucket's
    * event count against that type's MEDIAN count for the same
    * hour-of-week slot — the "is this Tuesday 3pm unusually hot"
    * monitor that a global mean (q93) or per-segment MAD (q123) can't
    * express because weekly seasonality IS the baseline. A bucket is a
    * spike above 2× its slot median, a dip below half of it.
    *
    * The slot median interpolates on even counts exactly as DuckDB
    * does ((a+b)/2 on exact ints → one IEEE double op); the 2×/½×
    * comparisons run in doubles derived only from exact ints. Plan:
    * hourly partials (one map-combined shuffle), slot medians over
    * |types|×168 groups, broadcast back — the raw scan is aggregated
    * before anything wide. */
  val q135SeasonalBaseline: Q = (s, d) => {
    // persisted: hourly feeds the slot-median baseline AND the probe
    // side of the join — one raw-events scan, not two
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.ops.SharedCache.persist)
    seasonalFromHourly(hourly)
  }

  /** q135's finalization over ANY per-(event_type, hour) count
    * relation (columns `event_type, hour_ts, cnt`): hour-of-week slot
    * medians + spike/dip flags. Shared verbatim by the batch query and
    * [[graft.streaming.StreamingAnomaly]] — same transitive-oracle
    * discipline as [[cusumFromDaily]]. */
  private[graft] def seasonalFromHourly(hourlyCounts: DataFrame): DataFrame = {
    val hourly = hourlyCounts.withColumn("slot",
      (dayofweek(col("hour_ts")) - 1) * 24 + hour(col("hour_ts")))
    val baseline = hourly.groupBy("event_type", "slot")
      .agg(median(col("cnt")).as("slot_median"), count(lit(1)).as("n_weeks"))
    hourly
      .join(broadcast(baseline), Seq("event_type", "slot"))
      .select(col("event_type"), col("hour_ts"), col("slot").cast("long").as("slot"),
        col("cnt"), col("slot_median"), col("n_weeks"),
        (col("cnt").cast("double") > col("slot_median") * 2.0).as("is_spike"),
        (col("cnt").cast("double") < col("slot_median") * 0.5).as("is_dip"))
  }

  // -- q139: multi-touch linear attribution -----------------------------

  private val AttribWindowUs = 86400L * 1000000 // 24 h

  /** MULTI-TOUCH ATTRIBUTION: split every purchase's value linearly
    * across the user's view/click touchpoints in the trailing 24 h —
    * the credit model between q40's winner-take-all last-touch and
    * q65's unweighted funnel. Channel credits are exact integer
    * cents: view gets value·nv div T, click gets the complement, so
    * per-purchase credits always sum to the full value (remainder
    * rides the click channel, declared); T = 0 purchases surface with
    * zero credits and n_touches = 0 for the unattributed report.
    *
    * Plan: both channel counts are conditional sums over ONE
    * value-RANGE frame [(ts−24h)µs, ts−1µs] on a shared (user_id, µs)
    * sort — a single Window node, one shuffle on user_id; the scan
    * pre-filters to the three relevant types so the pushed predicate
    * shrinks the window input; value-based frames make same-µs ties
    * irrelevant. */
  val q139MultiTouch: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-AttribWindowUs, -1)
    Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        e2(col("value")).as("value_e2"))
      .select(col("*"),
        // empty trailing frame → sum is NULL, not 0, on both engines
        coalesce(sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w),
          lit(0L)).as("nv"),
        coalesce(sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w),
          lit(0L)).as("nc"))
      .filter(col("event_type") === "purchase")
      .withColumn("n_touches", col("nv") + col("nc"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("nv"), col("nc"), col("n_touches"), col("value_e2"),
        when(col("n_touches") > 0, expr("value_e2 * nv div n_touches"))
          .otherwise(lit(0L)).as("credit_view_e2"),
        when(col("n_touches") > 0, expr("value_e2 - value_e2 * nv div n_touches"))
          .otherwise(lit(0L)).as("credit_click_e2"))
  }

  // -- q141: Wilson-bound conversion ranking ----------------------------

  /** RANKING BY UNCERTAINTY-ADJUSTED RATE: per event-type cohort (users
    * who emitted the type in the first week of the dataset), the share
    * who purchase afterwards — scored by the WILSON 95% lower bound,
    * the interval-estimation fix for "a 2/2 channel outranks a
    * 950/1000 one" that raw rates (and q133's z-test, which compares
    * two arms, not many) cannot express.
    *
    * The week-boundary scalar is driver-hosted control plane (q61/q118
    * convention); cohort and converter sets are exact distinct-user
    * relations, their intersection a keyed semi-join — at 100 TB all
    * shuffles are on user_id and the final relation is |types| rows.
    * x and n are exact BIGINTs; p̂ and the Wilson bound are ONE
    * fixed-shape IEEE expression with z²=3.8416 a decimal literal
    * parsed to the same double by both engines — no libm. */
  /** Wilson 95% lower bound over columns (n_converted, n_cohort) — ONE
    * SQL snippet shared verbatim by the Spark plan and the DuckDB
    * oracle so the IEEE expression shape is identical by construction.
    * All constants are explicit DOUBLE casts: a bare `3.8416` parses
    * as DECIMAL on both engines and decimal division rounds
    * differently than binary doubles. */
  private val WilsonLbE6Sql =
    """CAST(round((
      |  (CAST(n_converted AS DOUBLE) / n_cohort
      |   + CAST(3.8416 AS DOUBLE) / (2 * n_cohort)
      |   - CAST(1.96 AS DOUBLE) * sqrt(
      |       (CAST(n_converted AS DOUBLE) / n_cohort
      |        * (1 - CAST(n_converted AS DOUBLE) / n_cohort)
      |        + CAST(3.8416 AS DOUBLE) / (4 * CAST(n_cohort AS DOUBLE) * n_cohort))
      |       / n_cohort)
      |  ) / (1 + CAST(3.8416 AS DOUBLE) / n_cohort)) * 1000000, 0) AS BIGINT)""".stripMargin

  private val WeekUs = 7L * 86400 * 1000000

  val q141WilsonConversion: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")).as("us"))
      .transform(graft.ops.SharedCache.persist) // min-ts scalar + cohort + converters
    // µs-exact boundary: a millisecond-truncated Timestamp scalar would
    // misclassify events inside the dropped fraction
    val cutoffUs = (e.agg(min(col("us"))).head() match { // null-safe: empty events
      case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }) + WeekUs
    val cohort = e.filter(col("us") < cutoffUs)
      .select(col("event_type"), col("user_id")).distinct()
    val converters = e
      .filter(col("us") >= cutoffUs && col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    cohort
      .join(converters.withColumn("converted", lit(1L)), Seq("user_id"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_cohort"),
        sum(coalesce(col("converted"), lit(0L))).as("n_converted"))
      .withColumn("cvr_ppm", expr("n_converted * 1000000 div n_cohort"))
      .withColumn("wilson_lb_e6", expr(WilsonLbE6Sql))
      .select("event_type", "n_cohort", "n_converted", "cvr_ppm", "wilson_lb_e6")
  }

  // -- q150: OLS trend slope + fit -------------------------------------

  /** VOLUME-TREND DETECTION: per event type, the least-squares slope
    * of daily event counts over epoch-day x (events/day of drift) and
    * the fit's r² — the DRIFT complement to q134's CUSUM (which finds
    * a level SHIFT's location; this measures a steady ramp and how
    * linear it is). Moments (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    * BIGINTs over epoch days and daily counts; slope and r² are
    * fixed-shape IEEE double expressions e6-snapped at the end.
    * Plan: one map-combined shuffle to |types|×|days| daily rows,
    * then a |types|-row aggregate. */
  val q150TrendSlope: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", expr("CAST(datediff(day, TIMESTAMP '1970-01-01 00:00:00') AS BIGINT)"))
    moments(daily.groupBy("event_type"), col("x"), col("y"))
      .select(col("event_type"), col("n").as("n_days"),
        expr(ThetaE6).as("slope_e6"), expr(R2E6).as("r2_e6"))
  }

  // -- q155: lead–lag cross-correlation ---------------------------------

  private val XcorrMaxLag = 3

  /** LEAD–LAG DISCOVERY: Pearson correlation between daily click
    * volume and purchase volume shifted by 0–3 days — "does click
    * activity LEAD purchases, and by how much", the cross-series
    * completion of the family (q132 auto-, q151 rank-, q150 trend-):
    * the argmax lag is the attribution window a marketer should use,
    * found from data instead of assumed (q139 hardcodes 24 h).
    *
    * All four lags ride ONE lead() window over the daily relation
    * (bounded by the calendar at any corpus size — the global-order
    * window is a declared control-plane relation like q137's cells),
    * stacked in-row and reduced with exact BIGINT moments; r is the
    * fixed-shape IEEE Pearson e6-snapped, and the best lag is a total
    * (|r| desc, lag asc) rank — no nondeterministic argmax. */
  val q155LaggedXcorr: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val w = Window.orderBy("day")
    val led = daily.select(
      (Seq(col("day"), col("x")) ++
        (0 to XcorrMaxLag).map(l => lead(col("y"), l).over(w).as(s"y$l"))): _*)
    val stacked = led.select(col("x"), expr(
      s"stack(${XcorrMaxLag + 1}, " +
        (0 to XcorrMaxLag).map(l => s"${l}L, y$l").mkString(", ") +
        ") AS (lag, y)"))
      .filter(col("y").isNotNull)
    moments(stacked.groupBy("lag"), col("x"), col("y"))
      .withColumn("r_e6", expr(s"CAST(round($PearsonR * 1000000, 0) AS BIGINT)"))
      .withColumn("best_rank", row_number().over(
        Window.orderBy(coalesce(abs(col("r_e6")), lit(-1L)).desc, col("lag").asc)))
      .select(col("lag"), col("n").as("n_pairs"), col("r_e6"),
        (col("best_rank") === 1).as("is_best_lag"))
  }

  // -- q181: per-user inter-event burstiness -----------------------------

  /** BEHAVIORAL BURSTINESS PROFILE — per user, the inter-event-time
    * statistics behind bot/scraper detection and traffic shaping:
    * metronome-regular gaps (B → −1), Poisson arrivals (B → 0), and
    * bursty humans/batch jobs (B → 1), with B = (σ−μ)/(σ+μ) over the
    * user's gap distribution (Goh–Barabási). Gaps are EXACT integer
    * seconds from microsecond timestamps (truncating div — both
    * engines agree bit-for-bit); the two moment sums are exact BIGINTs
    * (Σgap² of second-gaps overflows only past ~3e9 gap-seconds² per
    * user — decades of per-user history; the decimal mode is the
    * documented escape) and B is ONE fixed-shape IEEE double
    * expression at the very end (the q132 acf1 convention). Users with
    * all-zero gap mass get NULL (σ+μ = 0).
    *
    * Scale: one per-user lag window (declared per-group window limit,
    * the q117 sessionization precedent — user event counts are
    * bounded), then a map-combined aggregate to |users| rows. */
  val q181Burstiness: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"),
        expr("(unix_micros(ts) - prev_us) div 1000000").as("gap_s"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_gap"),
        sum(col("gap_s") * col("gap_s")).as("sum_gap2"))
      .withColumn("mean_gap_s", expr("sum_gap div n_gaps"))
      .withColumn("burstiness",
        expr("""CASE WHEN sum_gap > 0 THEN
               | (sqrt(CAST(n_gaps * sum_gap2 - sum_gap * sum_gap AS DOUBLE))
               |    / CAST(n_gaps AS DOUBLE)
               |  - CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
               | / (sqrt(CAST(n_gaps * sum_gap2 - sum_gap * sum_gap AS DOUBLE))
               |      / CAST(n_gaps AS DOUBLE)
               |    + CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
               | END""".stripMargin))
      .select("user_id", "n_gaps", "sum_gap", "mean_gap_s", "burstiness")
  }

  // -- q195: telemetry double-fire audit ---------------------------------

  /** Rapid-repeat window: a same-(user, type) event landing within
    * this many µs of its predecessor is a suspected double-fire. */
  private[graft] val RepeatWindowUs = 1000000L

  /** TELEMETRY DOUBLE-FIRE AUDIT — the event-stream data-quality check
    * upstream of every count in this family: client retries, double
    * clicks, and at-least-once delivery all materialize as the SAME
    * (user, type) event landing twice within a second, silently
    * inflating rollups (q34/q36), funnels (q65), and MAU (rolling
    * distinct). Per event type: events, rapid repeats (< 1 s after
    * the previous same-user same-type event — exact integer µs from
    * the q181 timestamp discipline, ties = gap 0 = the classic
    * double-fire), repeat ppm, and how many distinct users exhibit it
    * (a few users → client bug; everywhere → pipeline redelivery).
    *
    * Plan: ONE (user, type) lag window, then the Expand-free
    * two-level distinct discipline (A3/X29): (type, user) partial —
    * which REUSES the window's partitioning, no second fact shuffle —
    * then a |types|-row rollup. */
  /** Shared finalizer for q195 and its streaming twin: the per-type
    * report over (event_type, user_id, n, r) per-user tallies — which
    * merge additively under time-ordered chunking, so the streaming
    * monitor maintains tallies and re-runs THIS code verbatim. */
  private[graft] def doubleFireFromTallies(per: DataFrame): DataFrame =
    per
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"), sum(col("r")).as("n_repeats"),
        sum(when(col("r") > 0, 1L).otherwise(0L)).as("n_repeat_users"))
      .select(col("event_type"), col("n_events"), col("n_repeats"),
        expr("n_repeats * 1000000 div n_events").as("repeat_ppm"),
        col("n_repeat_users"))

  val q195DoubleFire: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    doubleFireFromTallies(Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("rpt",
        when(col("prev_us").isNotNull &&
          unix_micros(col("ts")) - col("prev_us") < RepeatWindowUs, 1L)
          .otherwise(0L))
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"), sum(col("rpt")).as("r")))
  }

  // -- q186: first-seen adoption curve -----------------------------------

  /** ADOPTION CURVE — per calendar day, how many users were seen for
    * the FIRST time and the cumulative distinct-user count up to that
    * day: the growth curve behind every "users over time" chart,
    * computed exactly with no per-day DISTINCT re-scan (the naive
    * formulation distinct-counts an ever-growing prefix per day): one
    * map-combined per-user MIN day, one |days|-bounded count, one
    * running-sum window over the tiny day relation. The cumulative
    * column IS the exact distinct-user count on every day because
    * first-seen days partition users. */
  val q186FirstSeenCurve: Q = (s, d) => {
    val firstDay = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("DAY", col("ts"))).as("day"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(wCum))
      .select(col("day"), col("n_new"), col("cum_users"))
  }

  // -- q187: daily value percentile bands --------------------------------

  /** OPERATIONAL PERCENTILE BANDS — per (event type, day), rank-exact
    * p50/p90 of the event value in cents plus the exact mean: the
    * latency/spend band chart every ops dashboard draws, computed with
    * the q41/q185 percentile discipline — a (type, day, cents)
    * frequency relation (map-combined), a running-count window
    * per (type, day) group, integer rank predicates — so the only
    * row-scaled stage is the first partial aggregate and nothing
    * anywhere does a full sort or interpolates floats. */
  val q187DailyValueBands: Q = (s, d) => {
    val cells = Tables.events(s, d)
      .select(col("event_type"), date_trunc("DAY", col("ts")).as("day"),
        e2(col("value")).as("v_e2"))
      .groupBy("event_type", "day", "v_e2").agg(count(lit(1)).as("cnt"))
    nearestRank(cells, Seq("event_type", "day"), "v_e2", col("cnt"),
      Seq(("p50_e2", 1, 2), ("p90_e2", 9, 10)),
      sum(col("cnt")).as("n_events"), sum(col("v_e2") * col("cnt")).as("sum_e2"))
      .select(col("event_type"), col("day"), col("n_events"),
        expr("sum_e2 div n_events").as("mean_e2"),
        col("p50_e2"), col("p90_e2"))
  }

  val defs: Map[String, Q] = Map(
    "q196_funnel_latency" -> q196FunnelLatency,
    "q195_double_fire" -> q195DoubleFire,
    "q186_first_seen_curve" -> q186FirstSeenCurve,
    "q187_daily_value_bands" -> q187DailyValueBands,
    "q181_burstiness" -> q181Burstiness,
    "q155_lagged_xcorr" -> q155LaggedXcorr,
    "q150_trend_slope" -> q150TrendSlope,
    "q141_wilson_conversion" -> q141WilsonConversion,
    "q139_multitouch_attribution" -> q139MultiTouch,
    "q132_autocorr_daily" -> q132Autocorr,
    "q133_ab_ztest" -> q133AbZtest,
    "q245_permutation_test" -> q245PermutationTest,
    "q246_rank_sum_test" -> q246RankSumTest,
    "q247_ks_two_sample" -> q247KsTwoSample,
    "q250_cuped" -> q250Cuped,
    "q251_mde_ladder" -> q251MdeLadder,
    "q252_bh_fdr" -> q252BhFdr,
    "q254_kaplan_meier" -> q254KaplanMeier,
    "q255_uplift_deciles" -> q255UpliftDeciles,
    "q256_logrank_test" -> q256LogRank,
    "q257_rmst" -> q257Rmst,
    "q258_srm_check" -> q258SrmCheck,
    "q259_km_by_arm" -> q259KmByArm,
    "q260_rmst_by_arm" -> q260RmstByArm,
    "q261_winsorized_means" -> q261WinsorizedMeans,
    "q262_schoenfeld_ladder" -> q262SchoenfeldLadder,
    "q263_quantile_effects" -> q263QuantileEffects,
    "q238_sprt_test" -> q238SprtTest,
    "q240_removal_effect" -> q240RemovalEffect,
    "q134_cusum_changepoint" -> q134CusumChangepoint,
    "q135_seasonal_baseline" -> q135SeasonalBaseline,
    "q127_ohlc_bars" -> q127OhlcBars,
    "q122_ewma_smooth" -> q122EwmaSmooth,
    "q268_holt_forecast" -> q268HoltForecast,
    "q269_holt_winters" -> q269HoltWinters,
    "q270_forecast_backtest" -> q270ForecastBacktest,
    "q271_seasonal_backtest" -> q271SeasonalBacktest,
    "q272_conformal_intervals" -> q272ConformalIntervals,
    "q273_residual_anomalies" -> q273ResidualAnomalies,
    "q83_trailing_distinct" -> q83TrailingDistinct,
    "q84_transition_matrix" -> q84TransitionMatrix,
    "q204_stationary_mix" -> q204StationaryMix,
    "q91_sliding_sketch" -> q91SlidingSketch,
    "q34_events_windowed" -> q34EventsWindowed,
    "q35_sessionize" -> q35Sessionize,
    "q40_asof_attribution" -> q40AsofJoin,
    "q62_trailing_window" -> q62TrailingWindow,
    "q63_interval_join" -> q63IntervalJoin,
    "q65_funnel_steps" -> q65Funnel,
    "q66_retention_cohorts" -> q66RetentionCohorts,
    "q77_activity_streaks" -> q77ActivityStreaks,
    "q79_hourly_spine" -> q79HourlySpine,
    "q81_forward_fill" -> q81ForwardFill,
    "q116_linear_interp" -> q116LinearInterp,
    "q117_session_paths" -> q117SessionPaths,
    "q108_salted_skew_join" -> q108SaltedSkewJoin)

  // -- DuckDB oracles ---------------------------------------------------

  // lazy: references oraclesMore/q245OracleSql, declared after this map
  lazy val oracles: Map[String, String] = oraclesMore ++ Map(
    // Same per-user MIN day, same day counts and running sum.
    "q186_first_seen_curve" ->
      """WITH fd AS (
        |  SELECT user_id, min(date_trunc('day', ts)) AS day
        |  FROM events GROUP BY 1
        |), per AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM fd GROUP BY 1
        |)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM per""".stripMargin,
    // Same cents rounding, same frequency relation and rank predicates.
    "q187_daily_value_bands" ->
      """WITH cells AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v_e2,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |), runs AS (
        |  SELECT event_type, day, v_e2, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, day ORDER BY v_e2)
        |      AS BIGINT) AS running,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, day)
        |      AS BIGINT) AS n,
        |    CAST(sum(v_e2 * cnt) OVER (PARTITION BY event_type, day)
        |      AS BIGINT) AS sv
        |  FROM cells
        |)
        |SELECT event_type, day, max(n) AS n_events,
        |  max(sv) // max(n) AS mean_e2,
        |  min(CASE WHEN running * 2 >= n THEN v_e2 END) AS p50_e2,
        |  min(CASE WHEN running * 10 >= n * 9 THEN v_e2 END) AS p90_e2
        |FROM runs GROUP BY 1, 2""".stripMargin,
    // Same (ts, event_id) total order, same truncating second gaps,
    // same exact moment sums, char-identical final double expression.
    // q65's funnel CTE chain verbatim, collapsed to converted users'
    // whole-second latencies; same frequency relation, running-count
    // window, and integer rank predicates as the q185 oracle.
    "q196_funnel_latency" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |), s1 AS (
        |  SELECT *, CASE WHEN event_type = 'view' THEN us END AS v_us,
        |    min(CASE WHEN event_type = 'view' THEN us END) OVER w AS t1_run
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING)
        |), s2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND t1_run IS NOT NULL
        |      THEN us END AS c_us,
        |    min(CASE WHEN event_type = 'click' AND t1_run IS NOT NULL
        |      THEN us END) OVER w AS t2_run
        |  FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING)
        |), s3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND t2_run IS NOT NULL
        |      THEN us END AS p_us
        |  FROM s2
        |), conv AS (
        |  SELECT user_id, min(v_us) AS t_view_us, min(p_us) AS t_purchase_us
        |  FROM s3 GROUP BY 1
        |  HAVING min(p_us) IS NOT NULL
        |), freq AS (
        |  SELECT (t_purchase_us - t_view_us) // 1000000 AS lat_s,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM conv GROUP BY 1
        |), win AS (
        |  SELECT lat_s, cnt,
        |    sum(cnt) OVER (ORDER BY lat_s) AS running,
        |    sum(cnt) OVER () AS n,
        |    sum(lat_s * cnt) OVER () AS sums
        |  FROM freq
        |)
        |SELECT CAST(max(n) AS BIGINT) AS n_converted,
        |  CAST(max(sums) AS BIGINT) * 1000 // CAST(max(n) AS BIGINT) AS mean_s_e3,
        |  CAST(min(CASE WHEN running * 2 >= n THEN lat_s END) AS BIGINT) AS p50_s,
        |  CAST(min(CASE WHEN running * 10 >= n * 9 THEN lat_s END) AS BIGINT) AS p90_s,
        |  CAST(min(CASE WHEN running * 100 >= n * 99 THEN lat_s END) AS BIGINT) AS p99_s
        |FROM win""".stripMargin,
    // Same (user, type) lag window in µs, same strict < 1 s repeat
    // predicate (ties → gap 0 → repeat), same two-level rollup.
    "q195_double_fire" ->
      s"""WITH lagged AS (
         |  SELECT event_type, user_id,
         |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
         |        PARTITION BY user_id, event_type ORDER BY ts, event_id)
         |      < $RepeatWindowUs THEN 1 ELSE 0 END AS rpt
         |  FROM events
         |), per AS (
         |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(rpt) AS BIGINT) AS r
         |  FROM lagged GROUP BY 1, 2
         |)
         |SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(sum(r) AS BIGINT) AS n_repeats,
         |  CAST(sum(r) AS BIGINT) * 1000000 // CAST(sum(n) AS BIGINT) AS repeat_ppm,
         |  CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_users
         |FROM per GROUP BY 1""".stripMargin,
    "q181_burstiness" ->
      s"""WITH g AS (
         |  SELECT user_id,
         |    (epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s
         |  FROM events
         |), agg AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         |    CAST(sum(gap_s) AS BIGINT) AS sum_gap,
         |    CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_gap2
         |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1
         |)
         |SELECT user_id, n_gaps, sum_gap,
         |  sum_gap // n_gaps AS mean_gap_s,
         |  CASE WHEN sum_gap > 0 THEN
         |    (sqrt(CAST(n_gaps * sum_gap2 - sum_gap * sum_gap AS DOUBLE))
         |       / CAST(n_gaps AS DOUBLE)
         |     - CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
         |    / (sqrt(CAST(n_gaps * sum_gap2 - sum_gap * sum_gap AS DOUBLE))
         |         / CAST(n_gaps AS DOUBLE)
         |       + CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE))
         |    END AS burstiness
         |FROM agg""".stripMargin,
    // Same single lead() window, lag stack as UNION ALL, identical
    // IEEE Pearson shape and (|r| desc, lag) tiebreak.
    "q155_lagged_xcorr" -> {
      val leads = (0 to XcorrMaxLag)
        .map(l => s"lead(y, $l) OVER w AS y$l").mkString(", ")
      val stack = (0 to XcorrMaxLag)
        .map(l => s"SELECT CAST($l AS BIGINT) AS lag, x, y$l AS y FROM led WHERE y$l IS NOT NULL")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH daily AS (
         |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
         |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
         |), led AS (
         |  SELECT x, $leads FROM daily WINDOW w AS (ORDER BY day)
         |), stacked AS (
         |  $stack
         |), m AS (
         |  SELECT lag, count(*) AS n_pairs,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM stacked GROUP BY 1
         |), r AS (
         |  SELECT lag, n_pairs,
         |    CASE WHEN n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
         |     THEN CAST(round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
         |       / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
         |          * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) * 1000000, 0)
         |       AS BIGINT)
         |     END AS r_e6
         |  FROM m
         |)
         |SELECT lag, n_pairs, r_e6,
         |  row_number() OVER (ORDER BY coalesce(abs(r_e6), -1) DESC, lag) = 1
         |    AS is_best_lag
         |FROM r""".stripMargin
    },
    // Same exact moments over epoch days; identical IEEE shapes.
    "q150_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2
        |), dx AS (
        |  SELECT event_type,
        |    CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00', day) AS BIGINT) AS x,
        |    y
        |  FROM daily
        |), m AS (
        |  SELECT event_type, count(*) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM dx GROUP BY 1
        |)
        |SELECT event_type, n_days,
        |  CASE WHEN n_days * sxx - sx * sx > 0 THEN
        |    CAST(round(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / (n_days * sxx - sx * sx) * 1000000, 0) AS BIGINT)
        |    END AS slope_e6,
        |  CASE WHEN n_days * sxx - sx * sx > 0 AND n_days * syy - sy * sy > 0 THEN
        |    CAST(round(
        |      (CAST(n_days * sxy - sx * sy AS DOUBLE) * (n_days * sxy - sx * sy))
        |      / (CAST(n_days * sxx - sx * sx AS DOUBLE) * (n_days * syy - sy * sy))
        |      * 1000000, 0) AS BIGINT)
        |    END AS r2_e6
        |FROM m""".stripMargin,
    // Shares the Wilson snippet VERBATIM with the Spark plan; the
    // week boundary is the same µs-integer scalar, inlined as a
    // subquery instead of a driver value.
    "q141_wilson_conversion" ->
      s"""WITH e AS (
         |  SELECT event_type, user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events
         |), b AS (
         |  SELECT min(us) + $WeekUs AS cutoff_us FROM e
         |), cohort AS (
         |  SELECT DISTINCT event_type, user_id
         |  FROM e, b WHERE us < cutoff_us
         |), conv AS (
         |  SELECT DISTINCT user_id
         |  FROM e, b WHERE us >= cutoff_us AND event_type = 'purchase'
         |), m AS (
         |  SELECT c.event_type,
         |    count(*) AS n_cohort,
         |    CAST(sum(CASE WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_converted
         |  FROM cohort c LEFT JOIN conv v USING (user_id)
         |  GROUP BY 1
         |)
         |SELECT event_type, n_cohort, n_converted,
         |  CAST(n_converted * 1000000 // n_cohort AS BIGINT) AS cvr_ppm,
         |  $WilsonLbE6Sql AS wilson_lb_e6
         |FROM m""".stripMargin,
    // Same value-RANGE frame; integer floor split with the complement
    // on the click channel.
    "q139_multitouch_attribution" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    CAST(round(value * 100, 0) AS BIGINT) AS value_e2
         |  FROM events
         |  WHERE event_type IN ('view', 'click', 'purchase')
         |), t AS (
         |  SELECT *,
         |    CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY user_id ORDER BY us
         |      RANGE BETWEEN $AttribWindowUs PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS nv,
         |    CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY user_id ORDER BY us
         |      RANGE BETWEEN $AttribWindowUs PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS nc
         |  FROM e
         |)
         |SELECT event_id AS purchase_id, user_id, nv, nc,
         |  nv + nc AS n_touches, value_e2,
         |  CASE WHEN nv + nc > 0 THEN value_e2 * nv // (nv + nc)
         |    ELSE 0 END AS credit_view_e2,
         |  CASE WHEN nv + nc > 0 THEN value_e2 - value_e2 * nv // (nv + nc)
         |    ELSE 0 END AS credit_click_e2
         |FROM t WHERE event_type = 'purchase'""".stripMargin,
    // Exact integer moment sums; the Pearson value is the same
    // fixed-shape IEEE double expression (README float contract).
    "q132_autocorr_daily" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), lagged AS (
        |  SELECT event_type, day, x,
        |    lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY day) AS y
        |  FROM daily
        |), pairs AS (
        |  SELECT * FROM lagged
        |  WHERE prev_day IS NOT NULL AND day = prev_day + INTERVAL 1 DAY
        |), m AS (
        |  SELECT event_type, count(*) AS n_pairs,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY 1
        |)
        |SELECT event_type, n_pairs,
        |  CASE WHEN n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0
        |   THEN (CAST(n_pairs * sxy - sx * sy AS DOUBLE))
        |        / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |           * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
        |   END AS acf1
        |FROM m""".stripMargin,
    // Same journey pairs (lag + start/terminal rows), same e9 rates,
    // and every scenario's 10 value-iteration steps unrolled as CTEs
    // with the identical per-edge truncating div.
    "q240_removal_effect" -> {
      def nodesSql(removed: Option[String]): String =
        ("start" +: RemovalChannels.filterNot(removed.contains))
          .map(c => s"('$c')").mkString(", ")
      def scenario(tag: String, removed: Option[String]): String = {
        val chain = (1 to RemovalIters).map { k =>
          val prev = s"v_${tag}_${k - 1}"
          s"""v_${tag}_$k AS (
             |  SELECT n.node,
             |    CAST(coalesce(tc.conv_ppb, 0) + coalesce(i.x, 0) AS BIGINT) AS v
             |  FROM nodes_$tag n
             |  LEFT JOIN tconv tc ON tc.node = n.node
             |  LEFT JOIN (
             |    SELECT r.prev, CAST(sum(r.rate_ppb * v.v // 1000000000) AS BIGINT) AS x
             |    FROM rates r JOIN $prev v ON v.node = r.next
             |    GROUP BY 1) i ON i.prev = n.node
             |)""".stripMargin
        }.mkString(", ")
        s"""nodes_$tag(node) AS (VALUES ${nodesSql(removed)}),
           |v_${tag}_0 AS (SELECT node, CAST(0 AS BIGINT) AS v FROM nodes_$tag),
           |$chain,
           |res_$tag AS MATERIALIZED (SELECT v FROM v_${tag}_$RemovalIters WHERE node = 'start')""".stripMargin
      }
      val scenarios = (scenario("base", None) +:
        RemovalChannels.map(c => scenario(c, Some(c)))).mkString(",\n")
      val effs = RemovalChannels.map(c =>
        s"greatest((SELECT v FROM res_base) - (SELECT v FROM res_$c), 0)")
      val finalRows = RemovalChannels.map { c =>
        s"""SELECT '$c' AS channel,
           |  (SELECT v FROM res_base) AS base_conv_e9,
           |  (SELECT v FROM res_$c) AS removed_conv_e9,
           |  (SELECT v FROM res_base) - (SELECT v FROM res_$c) AS effect_e9,
           |  greatest((SELECT v FROM res_base) - (SELECT v FROM res_$c), 0) * 1000000
           |    // (SELECT t FROM tot) AS credit_ppm""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ranked AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events
         |), firstp AS (
         |  SELECT user_id, min(rn) AS prn FROM ranked
         |  WHERE event_type = 'purchase' GROUP BY 1
         |), kept AS (
         |  SELECT r.user_id, r.rn,
         |    CASE WHEN r.event_type = 'purchase' THEN 'conv' ELSE r.event_type END AS state
         |  FROM ranked r LEFT JOIN firstp f USING (user_id)
         |  WHERE f.prn IS NULL OR r.rn <= f.prn
         |), seqp AS (
         |  SELECT user_id, state,
         |    lag(state) OVER (PARTITION BY user_id ORDER BY rn) AS prev,
         |    row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rrn
         |  FROM kept
         |), pairs AS (
         |  SELECT coalesce(prev, 'start') AS prev, state AS next FROM seqp
         |  UNION ALL
         |  SELECT state, 'null' FROM seqp WHERE rrn = 1 AND state <> 'conv'
         |), tcounts AS (
         |  SELECT prev, next, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2
         |), rates AS MATERIALIZED (
         |  SELECT prev, next,
         |    CAST(n * 1000000000 // sum(n) OVER (PARTITION BY prev) AS BIGINT) AS rate_ppb
         |  FROM tcounts
         |), tconv AS MATERIALIZED (
         |  SELECT prev AS node, rate_ppb AS conv_ppb FROM rates WHERE next = 'conv'
         |),
         |$scenarios,
         |tot AS (SELECT greatest(${effs.mkString(" + ")}, 1) AS t)
         |$finalRows""".stripMargin
    },
    // Same baked e6 step/threshold literals, same (ts, event_id)
    // ordered walk, same first-crossing semantics.
    "q238_sprt_test" ->
      s"""WITH obs AS (
         |  SELECT user_id % 2 AS variant, ts, event_id,
         |    CASE WHEN event_type = 'purchase' THEN $SprtStepHit
         |         ELSE $SprtStepMiss END AS step,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
         |  FROM events
         |), walk AS (
         |  SELECT variant, hit,
         |    CAST(sum(step) OVER (PARTITION BY variant ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(row_number() OVER (PARTITION BY variant ORDER BY ts, event_id) AS BIGINT) AS rn
         |  FROM obs
         |), crossing AS (
         |  SELECT variant, rn AS n_to_decision, cum AS cum_at_decision
         |  FROM (SELECT variant, rn, cum,
         |          row_number() OVER (PARTITION BY variant ORDER BY rn) AS k
         |        FROM walk
         |        WHERE cum >= $SprtThreshold OR cum <= -$SprtThreshold)
         |  WHERE k = 1
         |), summ AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS n_obs,
         |    CAST(sum(hit) AS BIGINT) AS n_conversions,
         |    CAST(max_by(cum, rn) AS BIGINT) AS llr_final_e6
         |  FROM walk GROUP BY 1
         |)
         |SELECT s.variant, s.n_obs, s.n_conversions,
         |  CASE WHEN c.n_to_decision IS NULL THEN 'undecided'
         |       WHEN c.cum_at_decision >= $SprtThreshold THEN 'accept_h1'
         |       ELSE 'accept_h0' END AS decision,
         |  c.n_to_decision, s.llr_final_e6
         |FROM summ s LEFT JOIN crossing c ON c.variant = s.variant""".stripMargin,
    // Same (type, value) cells, same doubled average ranks and tie
    // term; z is the identical IEEE expression over the exact BIGINTs.
    "q246_rank_sum_test" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN NOT (user_id % 2 = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n0v,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1v
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT event_type, n0v, n1v, n0v + n1v AS t,
        |    2 * (sum(n0v + n1v) OVER (PARTITION BY event_type ORDER BY v)
        |         - (n0v + n1v)) + (n0v + n1v) + 1 AS two_r
        |  FROM cells
        |), m AS (
        |  SELECT event_type,
        |    CAST(sum(n0v) AS BIGINT) AS n0,
        |    CAST(sum(n1v) AS BIGINT) AS n1,
        |    CAST(sum(n1v * two_r) AS BIGINT) AS sum_two_r1,
        |    sum(CAST(t AS HUGEINT) * t * t - t) AS tie3h
        |  FROM ranked GROUP BY 1
        |), u AS (
        |  SELECT event_type, n0, n1,
        |    sum_two_r1 - n1 * (n1 + 1) AS u1_x2, tie3h
        |  FROM m
        |)
        |SELECT event_type, n0, n1, u1_x2,
        |  CAST(tie3h AS DOUBLE) AS tie3,
        |  CASE WHEN n0 > 0 AND n1 > 0
        |       THEN u1_x2 * 1000000 // (2 * n0 * n1) END AS cles_ppm,
        |  CASE WHEN n0 > 0 AND n1 > 0
        |        AND CAST(n0 + n1 AS HUGEINT)
        |            * (CAST(n0 + n1 AS HUGEINT) * (n0 + n1) - 1)
        |            > tie3h THEN
        |    (CAST(u1_x2 - n0 * n1 AS DOUBLE) / 2)
        |    / sqrt(CAST(n0 AS DOUBLE) * n1 / 12
        |           * ((n0 + n1 + 1)
        |              - CAST(tie3h AS DOUBLE)
        |                / ((n0 + n1) * (CAST(n0 AS DOUBLE) + n1 - 1))))
        |  END AS z_score
        |FROM u""".stripMargin,
    // Same cell relation, same cross-multiplied cumulative gaps, same
    // smallest-argmax tiebreak and baked 1.358 critical literal.
    "q247_ks_two_sample" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN NOT (user_id % 2 = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n0v,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1v
        |  FROM events GROUP BY 1, 2
        |), walk AS (
        |  SELECT event_type, v,
        |    sum(n0v) OVER (PARTITION BY event_type ORDER BY v) AS c0,
        |    sum(n1v) OVER (PARTITION BY event_type ORDER BY v) AS c1,
        |    sum(n0v) OVER (PARTITION BY event_type) AS n0,
        |    sum(n1v) OVER (PARTITION BY event_type) AS n1
        |  FROM cells
        |), gaps AS (
        |  SELECT event_type, v, n0, n1,
        |    abs(c0 * n1 - c1 * n0) AS gap,
        |    max(abs(c0 * n1 - c1 * n0)) OVER (PARTITION BY event_type) AS d_num
        |  FROM walk
        |), agg AS (
        |  SELECT event_type,
        |    CAST(max(n0) AS BIGINT) AS n0, CAST(max(n1) AS BIGINT) AS n1,
        |    CAST(max(gap) AS BIGINT) AS d_num,
        |    CAST(min(CASE WHEN gap = d_num THEN v END) AS BIGINT) AS v_at_d
        |  FROM gaps GROUP BY 1
        |)
        |SELECT event_type, n0, n1, d_num, v_at_d,
        |  CASE WHEN n0 > 0 AND n1 > 0
        |       THEN d_num * 1000000 // (n0 * n1) END AS ks_e6,
        |  CAST(CASE WHEN n0 > 0 AND n1 > 0 THEN
        |    CASE WHEN CAST(d_num AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)
        |           > 1.358 * sqrt((CAST(n0 AS DOUBLE) + n1)
        |                          / (CAST(n0 AS DOUBLE) * n1))
        |         THEN 1 ELSE 0 END END AS BIGINT) AS reject_05
        |FROM agg""".stripMargin,
    // Same per-(type, user) parity-split covariate cells, same exact
    // BIGINT moments; theta/rho2 and both diffs are the identical IEEE
    // expressions, e6-snapped the same way.
    "q250_cuped" ->
      """WITH u AS (
        |  SELECT event_type, user_id, (user_id % 2 = 1) AS treat,
        |    CAST(sum(CASE WHEN datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |          date_trunc('day', CAST(ts AS TIMESTAMP))) % 2 = 0
        |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |          date_trunc('day', CAST(ts AS TIMESTAMP))) % 2 = 1
        |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2, 3
        |), m AS (
        |  SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(CASE WHEN NOT treat THEN x ELSE 0 END) AS BIGINT) AS sx0,
        |    CAST(sum(CASE WHEN treat THEN x ELSE 0 END) AS BIGINT) AS sx1,
        |    CAST(sum(CASE WHEN NOT treat THEN y ELSE 0 END) AS BIGINT) AS sy0,
        |    CAST(sum(CASE WHEN treat THEN y ELSE 0 END) AS BIGINT) AS sy1
        |  FROM u GROUP BY 1
        |)
        |SELECT event_type, n, n0, n1,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (n * sxx - sx * sx) * 1000000, 0) AS BIGINT)
        |  END AS theta_e6,
        |  CASE WHEN n0 > 0 AND n1 > 0 THEN
        |    CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0
        |  END AS diff_raw,
        |  CASE WHEN n0 > 0 AND n1 > 0 AND n * sxx - sx * sx > 0 THEN
        |    (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
        |      * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
        |  END AS diff_cuped,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    CAST(round(
        |      (CAST(n * sxy - sx * sy AS DOUBLE) * (n * sxy - sx * sy))
        |      / (CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy))
        |      * 1000000, 0) AS BIGINT)
        |  END AS var_red_e6
        |FROM m""".stripMargin,
    // Same exact accumulators, same baked (z_a/2+z_b)^2 literal, the
    // identical IEEE shape under an engine-exact ceil.
    "q251_mde_ladder" ->
      s"""WITH m AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sv,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
         |           * CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS qv
         |  FROM events GROUP BY 1
         |)
         |SELECT event_type, CAST(l.mde_pct AS BIGINT) AS mde_pct,
         |  n AS n_obs,
         |  CASE WHEN n > 1 AND sv > 0
         |    AND CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n > 0 THEN
         |    CAST(ceil(
         |      $PowerK * 2
         |      * ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n) / (n - 1))
         |      / ((CAST(sv AS DOUBLE) / n * l.mde_pct / 100)
         |         * (CAST(sv AS DOUBLE) / n * l.mde_pct / 100)))
         |    AS BIGINT) END AS n_per_arm
         |FROM m, (VALUES (${MdeLadderPct.mkString("), (")})) AS l(mde_pct)""".stripMargin,
    // Same per-user score/conversion cells, same (score DESC, user)
    // ntile order, same truncating ppm rates and cross-multiplied
    // Qini numerator.
    "q255_uplift_deciles" ->
      """WITH u AS (
        |  SELECT user_id, (user_id % 2 = 1) AS treat,
        |    CAST(sum(CASE WHEN datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |          date_trunc('day', CAST(ts AS TIMESTAMP))) % 2 = 0
        |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS score,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS conv
        |  FROM events GROUP BY 1, 2
        |), dec AS (
        |  SELECT *, CAST(ntile(10) OVER (ORDER BY score DESC, user_id)
        |    AS BIGINT) AS decile
        |  FROM u
        |), g AS (
        |  SELECT decile,
        |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT treat THEN conv ELSE 0 END) AS BIGINT) AS conv0,
        |    CAST(sum(CASE WHEN treat THEN conv ELSE 0 END) AS BIGINT) AS conv1
        |  FROM dec GROUP BY 1
        |), c AS (
        |  SELECT *,
        |    CAST(sum(n0) OVER (ORDER BY decile) AS BIGINT) AS cn0,
        |    CAST(sum(n1) OVER (ORDER BY decile) AS BIGINT) AS cn1,
        |    CAST(sum(conv0) OVER (ORDER BY decile) AS BIGINT) AS cc0,
        |    CAST(sum(conv1) OVER (ORDER BY decile) AS BIGINT) AS cc1
        |  FROM g
        |)
        |SELECT decile, n0, n1, conv0, conv1,
        |  CASE WHEN n0 > 0 THEN conv0 * 1000000 // n0 END AS rate0_ppm,
        |  CASE WHEN n1 > 0 THEN conv1 * 1000000 // n1 END AS rate1_ppm,
        |  CASE WHEN n0 > 0 AND n1 > 0 THEN
        |    conv1 * 1000000 // n1 - conv0 * 1000000 // n0
        |  END AS uplift_ppm,
        |  cc1 * cn0 - cc0 * cn1 AS qini_x
        |FROM c""".stripMargin,
    // Same user cells; the chi-square and its flag are the identical
    // exact integer cross-products — no float anywhere.
    "q258_srm_check" ->
      """WITH cells AS (
        |  SELECT event_type, user_id, (user_id % 2 = 1) AS treat,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2, 3
        |), m AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS u0,
        |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        |    CAST(sum(CASE WHEN NOT treat THEN n_events ELSE 0 END) AS BIGINT) AS e0,
        |    CAST(sum(CASE WHEN treat THEN n_events ELSE 0 END) AS BIGINT) AS e1
        |  FROM cells GROUP BY 1
        |)
        |SELECT event_type, u0, u1, e0, e1,
        |  CASE WHEN u0 + u1 > 0 THEN
        |    (u0 - u1) * (u0 - u1) // (u0 + u1) * 1000000
        |    + (u0 - u1) * (u0 - u1) % (u0 + u1) * 1000000
        |      // (u0 + u1)
        |  END AS chi2_user_ppm,
        |  CASE WHEN u0 + u1 > 0 THEN
        |    CAST(CASE WHEN (u0 - u1) * (u0 - u1)
        |                > 3841 * (u0 + u1) // 1000
        |         THEN 1 ELSE 0 END AS BIGINT)
        |  END AS srm_flag,
        |  CASE WHEN e0 + e1 > 0 THEN
        |    (e0 - e1) * (e0 - e1) // (e0 + e1) * 1000000
        |    + (e0 - e1) * (e0 - e1) % (e0 + e1) * 1000000
        |      // (e0 + e1)
        |  END AS chi2_event_ppm
        |FROM m""".stripMargin,
    // Same arm-split duration cells and risk sets; each day's U/V/E
    // term is the identical IEEE expression rounded to e9 BEFORE the
    // exact BIGINT sum.
    "q256_logrank_test" ->
      """WITH u AS (
        |  SELECT user_id, (user_id % 2 = 1) AS treat,
        |    min(CASE WHEN event_type = 'view'
        |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fv,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fp,
        |    max(CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)) AS le
        |  FROM events GROUP BY 1, 2
        |), dur AS (
        |  SELECT treat,
        |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END AS event,
        |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN fp - fv
        |         ELSE le - fv END AS dur
        |  FROM u WHERE fv IS NOT NULL
        |), days AS (
        |  SELECT dur AS day,
        |    CAST(sum(event) AS BIGINT) AS d_all,
        |    CAST(sum(CASE WHEN treat THEN event ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(1 - event) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN treat THEN 1 - event ELSE 0 END) AS BIGINT) AS c1
        |  FROM dur GROUP BY 1
        |), risk AS (
        |  SELECT day, d_all, d1,
        |    CAST(sum(d_all + c_all) OVER () AS BIGINT)
        |      - CAST(coalesce(sum(d_all + c_all) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS n,
        |    CAST(sum(d1 + c1) OVER () AS BIGINT)
        |      - CAST(coalesce(sum(d1 + c1) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS n1
        |  FROM days
        |), terms AS (
        |  SELECT day, d_all, d1, n, n1,
        |    CAST(round((CAST(d1 AS DOUBLE)
        |      - CAST(d_all AS DOUBLE) * n1 / n) * 1000000000, 0)
        |      AS BIGINT) AS u_e9,
        |    CASE WHEN n > 1 THEN
        |      CAST(round(CAST(d_all AS DOUBLE)
        |        * (CAST(n1 AS DOUBLE) / n) * (1 - CAST(n1 AS DOUBLE) / n)
        |        * (CAST(n AS DOUBLE) - d_all) / (n - 1)
        |        * 1000000000, 0) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS v_e9,
        |    CAST(round(CAST(d_all AS DOUBLE) * n1 / n * 1000000000, 0)
        |      AS BIGINT) AS e1_e9
        |  FROM risk WHERE d_all > 0
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_event_days,
        |    CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(e1_e9) AS BIGINT) AS e1_e9,
        |    CAST(sum(u_e9) AS BIGINT) AS u_e9,
        |    CAST(sum(v_e9) AS BIGINT) AS v_e9
        |  FROM terms
        |)
        |SELECT n_event_days, o1, e1_e9, u_e9, v_e9,
        |  CASE WHEN v_e9 > 0 THEN
        |    CAST(u_e9 AS DOUBLE) / sqrt(CAST(v_e9 AS DOUBLE) * 1000000000)
        |  END AS z_logrank
        |FROM agg""".stripMargin,
    // The q254 curve CTEs verbatim + one lead() span pass; the
    // integral and median are pure BIGINT arithmetic, tau baked.
    "q257_rmst" ->
      s"""WITH RECURSIVE u AS (
         |  SELECT user_id,
         |    min(CASE WHEN event_type = 'view'
         |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fv,
         |    min(CASE WHEN event_type = 'purchase'
         |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fp,
         |    max(CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)) AS le
         |  FROM events GROUP BY 1
         |), dur AS (
         |  SELECT CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END AS event,
         |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN fp - fv
         |         ELSE le - fv END AS dur
         |  FROM u WHERE fv IS NOT NULL
         |), days AS (
         |  SELECT dur AS day, CAST(sum(event) AS BIGINT) AS d_conv,
         |    CAST(sum(1 - event) AS BIGINT) AS n_censored
         |  FROM dur GROUP BY 1
         |), risk AS (
         |  SELECT day, d_conv, n_censored,
         |    CAST(sum(d_conv + n_censored) OVER () AS BIGINT)
         |      - CAST(coalesce(sum(d_conv + n_censored) OVER (ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS n_risk,
         |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
         |  FROM days
         |), km AS (
         |  SELECT rn, day, n_risk, d_conv, n_censored,
         |    CASE WHEN d_conv > 0
         |      THEN (CAST(1000000000 AS BIGINT) * (n_risk - d_conv)) // n_risk
         |      ELSE CAST(1000000000 AS BIGINT) END AS surv_e9
         |  FROM risk WHERE rn = 1
         |  UNION ALL
         |  SELECT r.rn, r.day, r.n_risk, r.d_conv, r.n_censored,
         |    CASE WHEN r.d_conv > 0
         |      THEN (k.surv_e9 * (r.n_risk - r.d_conv)) // r.n_risk
         |      ELSE k.surv_e9 END
         |  FROM risk r JOIN km k ON r.rn = k.rn + 1
         |), curve AS (
         |  SELECT day, surv_e9 FROM km WHERE d_conv > 0
         |), spans AS (
         |  SELECT day, surv_e9,
         |    coalesce(lead(day, 1) OVER (ORDER BY day), $RmstHorizonDays)
         |      AS next_day
         |  FROM curve
         |), agg AS (
         |  SELECT
         |    CAST(sum(greatest(least(next_day, $RmstHorizonDays)
         |      - least(day, $RmstHorizonDays), 0) * surv_e9) AS BIGINT)
         |      AS tail_e9,
         |    CAST(min(day) AS BIGINT) AS first_day,
         |    CAST(min(CASE WHEN surv_e9 <= 500000000 THEN day END)
         |      AS BIGINT) AS median_day
         |  FROM spans
         |)
         |SELECT CAST($RmstHorizonDays AS BIGINT) AS tau_days,
         |  coalesce(tail_e9 + CAST(1000000000 AS BIGINT)
         |    * least(first_day, $RmstHorizonDays),
         |    CAST(${1000000000L * RmstHorizonDays} AS BIGINT))
         |    AS rmst_e9_days,
         |  median_day
         |FROM agg""".stripMargin,
    // Same per-user duration cells and per-day counts; the truncating
    // e9 survival fold restated as a linear recursive CTE — the same
    // acc*(n-d)//n step, bit-for-bit.
    "q254_kaplan_meier" ->
      """WITH RECURSIVE u AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view'
        |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fv,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fp,
        |    max(CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)) AS le
        |  FROM events GROUP BY 1
        |), dur AS (
        |  SELECT CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END AS event,
        |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN fp - fv
        |         ELSE le - fv END AS dur
        |  FROM u WHERE fv IS NOT NULL
        |), days AS (
        |  SELECT dur AS day, CAST(sum(event) AS BIGINT) AS d_conv,
        |    CAST(sum(1 - event) AS BIGINT) AS n_censored
        |  FROM dur GROUP BY 1
        |), risk AS (
        |  SELECT day, d_conv, n_censored,
        |    CAST(sum(d_conv + n_censored) OVER () AS BIGINT)
        |      - CAST(coalesce(sum(d_conv + n_censored) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS n_risk,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
        |  FROM days
        |), km AS (
        |  SELECT rn, day, n_risk, d_conv, n_censored,
        |    CASE WHEN d_conv > 0
        |      THEN (CAST(1000000000 AS BIGINT) * (n_risk - d_conv)) // n_risk
        |      ELSE CAST(1000000000 AS BIGINT) END AS surv_e9
        |  FROM risk WHERE rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.day, r.n_risk, r.d_conv, r.n_censored,
        |    CASE WHEN r.d_conv > 0
        |      THEN (k.surv_e9 * (r.n_risk - r.d_conv)) // r.n_risk
        |      ELSE k.surv_e9 END
        |  FROM risk r JOIN km k ON r.rn = k.rn + 1
        |)
        |SELECT day, n_risk, d_conv, n_censored, surv_e9
        |FROM km WHERE d_conv > 0""".stripMargin,
    // q254's recursive CTE keyed by (arm, rn): one independent
    // truncating e9 fold per treatment arm, the same acc*(n-d)//n
    // step bit-for-bit.
    "q259_km_by_arm" ->
      """WITH RECURSIVE u AS (
        |  SELECT user_id, (user_id % 2 = 1) AS treat,
        |    min(CASE WHEN event_type = 'view'
        |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fv,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fp,
        |    max(CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
        |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)) AS le
        |  FROM events GROUP BY 1, 2
        |), dur AS (
        |  SELECT treat,
        |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END AS event,
        |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN fp - fv
        |         ELSE le - fv END AS dur
        |  FROM u WHERE fv IS NOT NULL
        |), days AS (
        |  SELECT treat, dur AS day, CAST(sum(event) AS BIGINT) AS d_conv,
        |    CAST(sum(1 - event) AS BIGINT) AS n_censored
        |  FROM dur GROUP BY 1, 2
        |), risk AS (
        |  SELECT treat, day, d_conv, n_censored,
        |    CAST(sum(d_conv + n_censored) OVER (PARTITION BY treat) AS BIGINT)
        |      - CAST(coalesce(sum(d_conv + n_censored) OVER (PARTITION BY treat
        |          ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS BIGINT) AS n_risk,
        |    CAST(row_number() OVER (PARTITION BY treat ORDER BY day)
        |      AS BIGINT) AS rn
        |  FROM days
        |), km AS (
        |  SELECT treat, rn, day, n_risk, d_conv, n_censored,
        |    CASE WHEN d_conv > 0
        |      THEN (CAST(1000000000 AS BIGINT) * (n_risk - d_conv)) // n_risk
        |      ELSE CAST(1000000000 AS BIGINT) END AS surv_e9
        |  FROM risk WHERE rn = 1
        |  UNION ALL
        |  SELECT r.treat, r.rn, r.day, r.n_risk, r.d_conv, r.n_censored,
        |    CASE WHEN r.d_conv > 0
        |      THEN (k.surv_e9 * (r.n_risk - r.d_conv)) // r.n_risk
        |      ELSE k.surv_e9 END
        |  FROM risk r JOIN km k ON r.treat = k.treat AND r.rn = k.rn + 1
        |)
        |SELECT CAST(CASE WHEN treat THEN 1 ELSE 0 END AS BIGINT) AS arm,
        |  day, n_risk, d_conv, n_censored, surv_e9
        |FROM km WHERE d_conv > 0""".stripMargin,
    // q259's per-arm recursive CTEs + q257's span/clip integral PER
    // ARM, the arm spine from the duration cells (so an eventless arm
    // coalesces to tau while an absent arm stays NULL), one pivot row.
    "q260_rmst_by_arm" ->
      s"""WITH RECURSIVE u AS (
         |  SELECT user_id, (user_id % 2 = 1) AS treat,
         |    min(CASE WHEN event_type = 'view'
         |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fv,
         |    min(CASE WHEN event_type = 'purchase'
         |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fp,
         |    max(CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)) AS le
         |  FROM events GROUP BY 1, 2
         |), dur AS (
         |  SELECT treat,
         |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END AS event,
         |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN fp - fv
         |         ELSE le - fv END AS dur
         |  FROM u WHERE fv IS NOT NULL
         |), days AS (
         |  SELECT treat, dur AS day, CAST(sum(event) AS BIGINT) AS d_conv,
         |    CAST(sum(1 - event) AS BIGINT) AS n_censored
         |  FROM dur GROUP BY 1, 2
         |), risk AS (
         |  SELECT treat, day, d_conv, n_censored,
         |    CAST(sum(d_conv + n_censored) OVER (PARTITION BY treat) AS BIGINT)
         |      - CAST(coalesce(sum(d_conv + n_censored) OVER (PARTITION BY treat
         |          ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS n_risk,
         |    CAST(row_number() OVER (PARTITION BY treat ORDER BY day)
         |      AS BIGINT) AS rn
         |  FROM days
         |), km AS (
         |  SELECT treat, rn, day, n_risk, d_conv,
         |    CASE WHEN d_conv > 0
         |      THEN (CAST(1000000000 AS BIGINT) * (n_risk - d_conv)) // n_risk
         |      ELSE CAST(1000000000 AS BIGINT) END AS surv_e9
         |  FROM risk WHERE rn = 1
         |  UNION ALL
         |  SELECT r.treat, r.rn, r.day, r.n_risk, r.d_conv,
         |    CASE WHEN r.d_conv > 0
         |      THEN (k.surv_e9 * (r.n_risk - r.d_conv)) // r.n_risk
         |      ELSE k.surv_e9 END
         |  FROM risk r JOIN km k ON r.treat = k.treat AND r.rn = k.rn + 1
         |), curve AS (
         |  SELECT treat, day, surv_e9 FROM km WHERE d_conv > 0
         |), spans AS (
         |  SELECT treat, day, surv_e9,
         |    coalesce(lead(day, 1) OVER (PARTITION BY treat ORDER BY day),
         |      $RmstHorizonDays) AS next_day
         |  FROM curve
         |), agg AS (
         |  SELECT treat,
         |    CAST(sum(greatest(least(next_day, $RmstHorizonDays)
         |      - least(day, $RmstHorizonDays), 0) * surv_e9) AS BIGINT)
         |      AS tail_e9,
         |    CAST(min(day) AS BIGINT) AS first_day,
         |    CAST(min(CASE WHEN surv_e9 <= 500000000 THEN day END)
         |      AS BIGINT) AS median_day
         |  FROM spans GROUP BY 1
         |), arms AS (
         |  SELECT treat, CAST(count(*) AS BIGINT) AS n_at_risk
         |  FROM dur GROUP BY 1
         |), per AS (
         |  SELECT a.treat, a.n_at_risk,
         |    coalesce(g.tail_e9 + CAST(1000000000 AS BIGINT)
         |        * least(g.first_day, $RmstHorizonDays),
         |      CAST(${1000000000L * RmstHorizonDays} AS BIGINT))
         |      AS rmst_e9_days,
         |    g.median_day
         |  FROM arms a LEFT JOIN agg g ON a.treat = g.treat
         |)
         |SELECT CAST($RmstHorizonDays AS BIGINT) AS tau_days,
         |  max(CASE WHEN NOT treat THEN n_at_risk END) AS n0_at_risk,
         |  max(CASE WHEN treat THEN n_at_risk END) AS n1_at_risk,
         |  max(CASE WHEN NOT treat THEN rmst_e9_days END) AS rmst0_e9_days,
         |  max(CASE WHEN treat THEN rmst_e9_days END) AS rmst1_e9_days,
         |  max(CASE WHEN treat THEN rmst_e9_days END)
         |    - max(CASE WHEN NOT treat THEN rmst_e9_days END)
         |    AS rmst_diff_e9_days,
         |  max(CASE WHEN NOT treat THEN median_day END) AS median0_day,
         |  max(CASE WHEN treat THEN median_day END) AS median1_day
         |FROM per""".stripMargin,
    // Same cell relation as q246/q247, same exact rank-ceil cap, same
    // truncating winsorized means — bit-for-bit on every column.
    "q261_winsorized_means" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN NOT (user_id % 2 = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n0v,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1v
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, v, n0v, n1v, n0v + n1v AS t,
        |    sum(n0v + n1v) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |    sum(n0v + n1v) OVER (PARTITION BY event_type) AS n_all
        |  FROM cells
        |), capd AS (
        |  SELECT *, min(CASE WHEN cum >= (99 * n_all + 99) // 100
        |                THEN v END)
        |      OVER (PARTITION BY event_type) AS cap
        |  FROM w
        |), m AS (
        |  SELECT event_type,
        |    CAST(sum(n0v) AS BIGINT) AS n0,
        |    CAST(sum(n1v) AS BIGINT) AS n1,
        |    CAST(max(cap) AS BIGINT) AS cap_cents,
        |    CAST(sum(CASE WHEN v > cap THEN t ELSE 0 END) AS BIGINT)
        |      AS n_capped,
        |    CAST(sum(n0v * least(v, cap)) AS BIGINT) AS ws0,
        |    CAST(sum(n1v * least(v, cap)) AS BIGINT) AS ws1,
        |    CAST(sum(n0v * v) AS BIGINT) AS rs0,
        |    CAST(sum(n1v * v) AS BIGINT) AS rs1
        |  FROM capd GROUP BY 1
        |)
        |SELECT event_type, n0, n1, cap_cents, n_capped,
        |  CASE WHEN n0 > 0 THEN ws0 // n0 END AS wmean0_cents,
        |  CASE WHEN n1 > 0 THEN ws1 // n1 END AS wmean1_cents,
        |  CASE WHEN n0 > 0 AND n1 > 0
        |       THEN ws1 // n1 - ws0 // n0 END AS wdiff_cents,
        |  CASE WHEN n0 > 0 THEN rs0 // n0 END AS rmean0_cents,
        |  CASE WHEN n1 > 0 THEN rs1 // n1 END AS rmean1_cents
        |FROM m""".stripMargin,
    // Same cell relation, same per-arm rank-ceil order statistics,
    // same rung stack — bit-for-bit on every quantile and diff.
    "q263_quantile_effects" -> {
      val rungSelects = QtePctX100.map { p =>
        s"""  SELECT event_type, CAST($p AS BIGINT) AS pct_x100, n0, n1,
           |    CASE WHEN n0 > 0 THEN q0_$p END AS q0_cents,
           |    CASE WHEN n1 > 0 THEN q1_$p END AS q1_cents,
           |    CASE WHEN n0 > 0 AND n1 > 0
           |         THEN q1_$p - q0_$p END AS qte_cents
           |  FROM m""".stripMargin
      }.mkString("\n", "\n  UNION ALL\n", "")
      val qAggs = QtePctX100.map { p =>
        s"""    CAST(min(CASE WHEN c0 >= ($p * n0 + 99) // 100 THEN v END)
           |      AS BIGINT) AS q0_$p,
           |    CAST(min(CASE WHEN c1 >= ($p * n1 + 99) // 100 THEN v END)
           |      AS BIGINT) AS q1_$p""".stripMargin
      }.mkString(",\n")
      s"""WITH cells AS (
         |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v,
         |    CAST(sum(CASE WHEN NOT (user_id % 2 = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n0v,
         |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1v
         |  FROM events GROUP BY 1, 2
         |), w AS (
         |  SELECT event_type, v,
         |    sum(n0v) OVER (PARTITION BY event_type ORDER BY v) AS c0,
         |    sum(n1v) OVER (PARTITION BY event_type ORDER BY v) AS c1,
         |    sum(n0v) OVER (PARTITION BY event_type) AS n0,
         |    sum(n1v) OVER (PARTITION BY event_type) AS n1
         |  FROM cells
         |), m AS (
         |  SELECT event_type,
         |    CAST(max(n0) AS BIGINT) AS n0,
         |    CAST(max(n1) AS BIGINT) AS n1,
         |$qAggs
         |  FROM w GROUP BY 1
         |)$rungSelects""".stripMargin
    },
    // Same survival cells and censoring rule; z² and each rung's
    // ln²(HR) are the IDENTICAL driver-baked double literals, the d
    // expression the same fixed IEEE shape under the same ceil.
    "q262_schoenfeld_ladder" -> {
      val rungRows = SchoenfeldHrX100.map { hr =>
        val lnSq = { val l = math.log(hr.toDouble / 100.0); l * l }
        s"($hr, $lnSq)"
      }.mkString(", ")
      s"""WITH u AS (
         |  SELECT user_id, (user_id % 2 = 1) AS treat,
         |    min(CASE WHEN event_type = 'view'
         |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fv,
         |    min(CASE WHEN event_type = 'purchase'
         |      THEN CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) END) AS fp,
         |    max(CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
         |        date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)) AS le
         |  FROM events GROUP BY 1, 2
         |), dur AS (
         |  SELECT treat,
         |    CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END AS event
         |  FROM u WHERE fv IS NOT NULL
         |), base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_risk_users,
         |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1_users,
         |    CAST(sum(event) AS BIGINT) AS events_observed
         |  FROM dur
         |), rungs AS (
         |  SELECT * FROM (VALUES $rungRows) AS t(hr_x100, ln_sq)
         |), x AS (
         |  SELECT CAST(r.hr_x100 AS BIGINT) AS hr_x100,
         |    b.n_risk_users, b.events_observed,
         |    CASE WHEN b.n1_users > 0 AND b.n1_users < b.n_risk_users THEN
         |      CAST(ceil($SchoenfeldZSq
         |        / ((CAST(b.n1_users AS DOUBLE)
         |            * (b.n_risk_users - b.n1_users)
         |            / (CAST(b.n_risk_users AS DOUBLE) * b.n_risk_users))
         |           * r.ln_sq)) AS BIGINT)
         |    END AS events_needed
         |  FROM base b CROSS JOIN rungs r
         |)
         |SELECT hr_x100, n_risk_users, events_observed, events_needed,
         |  CASE WHEN events_needed IS NOT NULL THEN
         |    CAST(CASE WHEN events_observed >= events_needed
         |         THEN 1 ELSE 0 END AS BIGINT) END AS enough
         |FROM x""".stripMargin
    },
    // Same per-user cells, same per-digest bit flips, same truncating
    // means and add-one Monte-Carlo p — bit-for-bit on every column.
    // (Factored to a val so q252's BH step-up restates it verbatim as
    // its p-value source.)
    "q245_permutation_test" -> q245OracleSql,
    // q245's oracle verbatim as the p source (nested-WITH derived
    // table), then the same deterministic ordering and integer
    // step-up comparisons.
    "q252_bh_fdr" ->
      s"""WITH p AS (SELECT event_type, p_ppm FROM ($q245OracleSql) q245),
         |ranked AS (
         |  SELECT event_type, p_ppm,
         |    CAST(row_number() OVER (ORDER BY p_ppm, event_type) AS BIGINT) AS rk,
         |    CAST(count(*) OVER () AS BIGINT) AS m
         |  FROM p
         |), ok AS (
         |  SELECT event_type, p_ppm, rk, m,
         |    50000 * rk // m AS bh_limit_ppm,
         |    max(CASE WHEN p_ppm * m <= 50000 * rk THEN rk ELSE 0 END)
         |      OVER () AS k_star
         |  FROM ranked
         |)
         |SELECT event_type, p_ppm, rk, m, bh_limit_ppm, k_star,
         |  CAST(CASE WHEN rk <= k_star THEN 1 ELSE 0 END AS BIGINT) AS rejected
         |FROM ok""".stripMargin)

  /** q245's full oracle SQL (see the map comment above). */
  private[graft] lazy val q245OracleSql: String =
      s"""WITH cells AS (
         |  SELECT event_type, user_id, (user_id % 2 = 1) AS treat,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sv
         |  FROM events GROUP BY 1, 2, 3
         |), obs AS (
         |  SELECT event_type,
         |    CAST(sum(CASE WHEN NOT treat THEN n ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN treat THEN n ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN NOT treat THEN sv ELSE 0 END) AS BIGINT) AS s0,
         |    CAST(sum(CASE WHEN treat THEN sv ELSE 0 END) AS BIGINT) AS s1
         |  FROM cells GROUP BY 1
         |), obs2 AS (
         |  SELECT event_type, n0, n1,
         |    s0 // greatest(n0, 1) AS mean0_e2,
         |    s1 // greatest(n1, 1) AS mean1_e2,
         |    abs(s1 // greatest(n1, 1) - s0 // greatest(n0, 1)) AS obs_diff_e2
         |  FROM obs
         |), draws AS (
         |  SELECT event_type, n, sv, rr.r AS r,
         |    (CAST('0x' || substr(md5('perm' || CAST(rr.r // 48 AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)
         |      >> (rr.r % 48)) & 1 AS b
         |  FROM cells, (SELECT unnest(generate_series(0, ${PermReps - 1})) AS r) rr
         |), perm AS (
         |  SELECT event_type, r,
         |    abs(CAST(sum(CASE WHEN b = 1 THEN sv ELSE 0 END) AS BIGINT)
         |          // greatest(CAST(sum(CASE WHEN b = 1 THEN n ELSE 0 END) AS BIGINT), 1)
         |      - CAST(sum(CASE WHEN b = 0 THEN sv ELSE 0 END) AS BIGINT)
         |          // greatest(CAST(sum(CASE WHEN b = 0 THEN n ELSE 0 END) AS BIGINT), 1)) AS perm_diff_e2
         |  FROM draws GROUP BY 1, 2
         |), cnt AS (
         |  SELECT p.event_type,
         |    CAST(sum(CASE WHEN p.perm_diff_e2 >= o.obs_diff_e2 THEN 1 ELSE 0 END) AS BIGINT) AS n_perm_ge
         |  FROM perm p JOIN obs2 o ON o.event_type = p.event_type
         |  GROUP BY 1
         |)
         |SELECT o.event_type, o.n0, o.n1, o.mean0_e2, o.mean1_e2,
         |  o.obs_diff_e2, c.n_perm_ge,
         |  (1 + c.n_perm_ge) * 1000000 // ${PermReps + 1} AS p_ppm
         |FROM obs2 o JOIN cnt c ON c.event_type = o.event_type""".stripMargin

  /** The rest of the oracle map (split from the literal above so
    * [[q245OracleSql]] can sit between them as a named val). */
  private val oraclesMore: Map[String, String] = Map(
    // Same parity split and accumulator set; Welch z in one IEEE
    // double expression over the exact BIGINTs.
    "q133_ab_ztest" ->
      """WITH e AS (
        |  SELECT event_type, (user_id % 2 = 1) AS treat,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events
        |), m AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT treat THEN v ELSE 0 END) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN treat THEN v ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN NOT treat THEN v * v ELSE 0 END) AS BIGINT) AS q0,
        |    CAST(sum(CASE WHEN treat THEN v * v ELSE 0 END) AS BIGINT) AS q1
        |  FROM e GROUP BY 1
        |)
        |SELECT event_type, n0, n1,
        |  CAST(s0 // n0 AS BIGINT) AS mean0_e2,
        |  CAST(s1 // n1 AS BIGINT) AS mean1_e2,
        |  CASE WHEN n0 > 1 AND n1 > 1 THEN
        |    (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |    / sqrt(
        |        ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
        |      + ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0)
        |   END AS z_score
        |FROM m""".stripMargin,
    // Same n-scaled exact walk; argmax via the identical
    // (|S| desc, day asc) row_number tiebreak.
    "q134_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, CAST(sum(x) AS BIGINT) AS total,
        |    count(*) AS n_days
        |  FROM daily GROUP BY 1
        |), walk AS (
        |  SELECT d.event_type, t.n_days, d.day,
        |    CAST(sum(d.x * t.n_days - t.total) OVER (
        |      PARTITION BY d.event_type ORDER BY d.day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_xn
        |  FROM daily d JOIN t USING (event_type)
        |), picked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY abs(cusum_xn) DESC, day ASC) AS rn
        |  FROM walk
        |)
        |SELECT event_type, n_days, day AS change_day, cusum_xn,
        |  CAST(abs(cusum_xn) AS BIGINT) AS max_abs_xn
        |FROM picked WHERE rn = 1""".stripMargin,
    // dayofweek: DuckDB is 0=Sunday, Spark 1=Sunday — both sides
    // normalize to slot 0 = Sunday 00h. median((a+b)/2) interpolation
    // matches Spark's percentile-based median on exact ints.
    "q135_seasonal_baseline" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), slotted AS (
        |  SELECT *, dayofweek(hour_ts) * 24 + hour(hour_ts) AS slot
        |  FROM hourly
        |), base AS (
        |  SELECT event_type, slot,
        |    median(cnt) AS slot_median, count(*) AS n_weeks
        |  FROM slotted GROUP BY 1, 2
        |)
        |SELECT s.event_type, s.hour_ts, CAST(s.slot AS BIGINT) AS slot,
        |  s.cnt, CAST(b.slot_median AS DOUBLE) AS slot_median, b.n_weeks,
        |  CAST(s.cnt AS DOUBLE) > b.slot_median * 2.0 AS is_spike,
        |  CAST(s.cnt AS DOUBLE) < b.slot_median * 0.5 AS is_dip
        |FROM slotted s JOIN base b USING (event_type, slot)""".stripMargin,
    // Independent restatement of the ordered endpoints: dual
    // row_number() passes (asc / desc over the same tiebreak) instead
    // of min_by/max_by aggregates.
    "q127_ohlc_bars" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bar_start,
        |    event_type, CAST(round(value * 100, 0) AS BIGINT) AS v_e2,
        |    CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY bar_start, event_type
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY bar_start, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM b
        |)
        |SELECT bar_start, event_type,
        |  CAST(max(CASE WHEN rn_a = 1 THEN v_e2 END) AS BIGINT) AS open_e2,
        |  CAST(max(v_e2) AS BIGINT) AS high_e2,
        |  CAST(min(v_e2) AS BIGINT) AS low_e2,
        |  CAST(max(CASE WHEN rn_d = 1 THEN v_e2 END) AS BIGINT) AS close_e2,
        |  count(*) AS n_events
        |FROM r GROUP BY 1, 2""".stripMargin,
    // The identical Holt recursion replayed as a recursive CTE keyed
    // by (type, rn); every division shifted non-negative by the same
    // offsets, so both engines compute the identical FLOOR.
    "q268_holt_forecast" -> {
      val (lN, bN) = holtStep("h.l", "h.b", "s.y * 1000000", "//")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2
         |), seq AS (
         |  SELECT event_type, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily
         |), holt AS (
         |  SELECT event_type, rn, n_days,
         |    y * 1000000 AS l, CAST(0 AS BIGINT) AS b
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn, s.n_days, $lN AS l, $bN AS b
         |  FROM holt h JOIN seq s
         |    ON s.event_type = h.event_type AND s.rn = h.rn + 1
         |), fin AS (
         |  SELECT event_type, n_days, l AS level_e6, b AS trend_e6
         |  FROM holt WHERE rn = n_days
         |)
         |SELECT f.event_type, f.n_days, f.level_e6, f.trend_e6,
         |  CAST(hh.range AS BIGINT) AS h,
         |  CAST((f.level_e6 + hh.range * f.trend_e6
         |    + ${1000000L * HoltOffF}) // 1000000 - ${HoltOffF} AS BIGINT)
         |    AS forecast_cents
         |FROM fin f CROSS JOIN range(1, 8) hh""".stripMargin
    },
    // The identical Holt-Winters recursion from the SAME hwStep
    // template (l/b plus seven explicit seasonal columns), replayed as
    // a recursive CTE keyed by (type, rn); `//` floor = Spark's `div`
    // on the offset-non-negative operands.
    "q269_holt_winters" -> {
      val (lN, bN, sN) = hwStep("h.l", "h.b", i => s"h.s$i",
        "s.y * 1000000", "s.slot", "//")
      val zeroS = (0 to 6).map(i => s"CAST(0 AS BIGINT) AS s$i")
        .mkString(", ")
      val stepS = (0 to 6).map(i => s"${sN(i)} AS s$i").mkString(", ")
      val sH = (0 to 6).map(i => s"WHEN $i THEN f.s$i")
        .mkString(s"(CASE (CAST(f.last_day AS DATE) - DATE '1970-01-01' " +
          s"+ hh.range) % 7 ", " ", " END)")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2
         |), seq AS (
         |  SELECT event_type, y,
         |    (CAST(day AS DATE) - DATE '1970-01-01') % 7 AS slot,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_days,
         |    max(day) OVER (PARTITION BY event_type) AS last_day
         |  FROM daily
         |), hw AS (
         |  SELECT event_type, rn, n_days, last_day,
         |    y * 1000000 AS l, CAST(0 AS BIGINT) AS b, $zeroS
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn, s.n_days, s.last_day,
         |    $lN AS l, $bN AS b, $stepS
         |  FROM hw h JOIN seq s
         |    ON s.event_type = h.event_type AND s.rn = h.rn + 1
         |), fin AS (SELECT * FROM hw WHERE rn = n_days)
         |SELECT f.event_type, f.n_days, f.l AS level_e6, f.b AS trend_e6,
         |  CAST(hh.range AS BIGINT) AS h,
         |  CAST($sH AS BIGINT) AS season_e6,
         |  CAST((f.l + hh.range * f.b + $sH + ${1000000L * HoltOffF})
         |    // 1000000 - $HoltOffF AS BIGINT) AS forecast_cents
         |FROM fin f CROSS JOIN range(1, 8) hh""".stripMargin
    },
    // The SAME holtStep recursion kept at EVERY rn (the rolling-origin
    // states), actuals joined at rn + h, in-sample naive denominator
    // via one lag window; integer MASE identical to the Spark side.
    "q270_forecast_backtest" -> {
      val (lN, bN) = holtStep("h.l", "h.b", "s.y * 1000000", "//")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2
         |), seq AS (
         |  SELECT event_type, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily
         |), holt AS (
         |  SELECT event_type, rn, n_days, y, y * 1000000 AS l,
         |    CAST(0 AS BIGINT) AS b
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn, s.n_days, s.y, $lN AS l, $bN AS b
         |  FROM holt h JOIN seq s
         |    ON s.event_type = h.event_type AND s.rn = h.rn + 1
         |), sad AS (
         |  SELECT event_type, CAST(sum(abs(y - py)) AS BIGINT) AS sad
         |  FROM (SELECT event_type, y,
         |          lag(y) OVER (PARTITION BY event_type ORDER BY rn) AS py
         |        FROM seq)
         |  WHERE py IS NOT NULL GROUP BY 1
         |), evals AS (
         |  SELECT o.event_type, a.rn - o.rn AS h, o.n_days,
         |    abs(CAST((o.l + (a.rn - o.rn) * o.b + ${1000000L * HoltOffF})
         |        // 1000000 - $HoltOffF AS BIGINT) - a.y) AS err_holt,
         |    abs(o.y - a.y) AS err_naive
         |  FROM holt o JOIN seq a
         |    ON a.event_type = o.event_type
         |    AND a.rn > o.rn AND a.rn <= o.rn + 7
         |  WHERE o.rn >= $BacktestMinOrigin AND o.rn < o.n_days
         |), sel AS (
         |  SELECT event_type, h, n_days, 'holt' AS method,
         |    err_holt AS abs_err FROM evals
         |  UNION ALL
         |  SELECT event_type, h, n_days, 'naive', err_naive FROM evals
         |)
         |SELECT s.event_type, CAST(s.h AS BIGINT) AS h, s.method,
         |  count(*) AS n_evals, CAST(sum(s.abs_err) AS BIGINT) AS sae_cents,
         |  CASE WHEN d.sad > 0 THEN
         |    CAST((CAST(sum(s.abs_err) AS BIGINT) * (max(s.n_days) - 1)
         |      * 1000000) // (count(*) * d.sad) AS BIGINT) END AS mase_e6
         |FROM sel s JOIN sad d ON d.event_type = s.event_type
         |GROUP BY s.event_type, s.h, s.method, d.sad""".stripMargin
    },
    // q269's hw recursion kept at EVERY rn; actuals joined at rn + h
    // with their calendar slot selecting the seasonal term; snaive via
    // a rn−7 self-join with last-value fallback; q270's integer MASE.
    "q271_seasonal_backtest" -> {
      val (lN, bN, sN) = hwStep("h.l", "h.b", i => s"h.s$i",
        "s.y * 1000000", "s.slot", "//")
      val zeroS = (0 to 6).map(i => s"CAST(0 AS BIGINT) AS s$i")
        .mkString(", ")
      val stepS = (0 to 6).map(i => s"${sN(i)} AS s$i").mkString(", ")
      val sT = (0 to 6).map(i => s"WHEN $i THEN o.s$i")
        .mkString("(CASE a.slot ", " ", " END)")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2
         |), seq AS (
         |  SELECT event_type, y,
         |    (CAST(day AS DATE) - DATE '1970-01-01') % 7 AS slot,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily
         |), hw AS (
         |  SELECT event_type, rn, n_days, y,
         |    y * 1000000 AS l, CAST(0 AS BIGINT) AS b, $zeroS
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn, s.n_days, s.y,
         |    $lN AS l, $bN AS b, $stepS
         |  FROM hw h JOIN seq s
         |    ON s.event_type = h.event_type AND s.rn = h.rn + 1
         |), sad AS (
         |  SELECT event_type, CAST(sum(abs(y - py)) AS BIGINT) AS sad
         |  FROM (SELECT event_type, y,
         |          lag(y) OVER (PARTITION BY event_type ORDER BY rn) AS py
         |        FROM seq)
         |  WHERE py IS NOT NULL GROUP BY 1
         |), evals AS (
         |  SELECT o.event_type, a.rn - o.rn AS h, o.n_days,
         |    abs(CAST((o.l + (a.rn - o.rn) * o.b + $sT
         |        + ${1000000L * HoltOffF})
         |        // 1000000 - $HoltOffF AS BIGINT) - a.y) AS err_hw,
         |    abs(coalesce(p.y, o.y) - a.y) AS err_snaive
         |  FROM hw o JOIN seq a
         |    ON a.event_type = o.event_type
         |    AND a.rn > o.rn AND a.rn <= o.rn + 7
         |  LEFT JOIN seq p
         |    ON p.event_type = a.event_type AND p.rn = a.rn - 7
         |  WHERE o.rn >= $BacktestMinOrigin AND o.rn < o.n_days
         |), sel AS (
         |  SELECT event_type, h, n_days, 'hw' AS method,
         |    err_hw AS abs_err FROM evals
         |  UNION ALL
         |  SELECT event_type, h, n_days, 'snaive', err_snaive FROM evals
         |)
         |SELECT s.event_type, CAST(s.h AS BIGINT) AS h, s.method,
         |  count(*) AS n_evals, CAST(sum(s.abs_err) AS BIGINT) AS sae_cents,
         |  CASE WHEN d.sad > 0 THEN
         |    CAST((CAST(sum(s.abs_err) AS BIGINT) * (max(s.n_days) - 1)
         |      * 1000000) // (count(*) * d.sad) AS BIGINT) END AS mase_e6
         |FROM sel s JOIN sad d ON d.event_type = s.event_type
         |GROUP BY s.event_type, s.h, s.method, d.sad""".stripMargin
    },
    // The same holtStep eval relation; q̂ as the row_number-k row of
    // the sorted calibration errors (value-deterministic under ties),
    // coverage joined from the held-out split.
    "q272_conformal_intervals" -> {
      val (lN, bN) = holtStep("h.l", "h.b", "s.y * 1000000", "//")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2
         |), seq AS (
         |  SELECT event_type, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily
         |), holt AS (
         |  SELECT event_type, rn, n_days, y * 1000000 AS l,
         |    CAST(0 AS BIGINT) AS b
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn, s.n_days, $lN AS l, $bN AS b
         |  FROM holt h JOIN seq s
         |    ON s.event_type = h.event_type AND s.rn = h.rn + 1
         |), evals AS (
         |  SELECT o.event_type, a.rn - o.rn AS h, o.rn % 2 = 1 AS is_cal,
         |    abs(CAST((o.l + (a.rn - o.rn) * o.b + ${1000000L * HoltOffF})
         |        // 1000000 - $HoltOffF AS BIGINT) - a.y) AS abs_err
         |  FROM holt o JOIN seq a
         |    ON a.event_type = o.event_type
         |    AND a.rn > o.rn AND a.rn <= o.rn + 7
         |  WHERE o.rn >= $BacktestMinOrigin AND o.rn < o.n_days
         |), cal AS (
         |  SELECT event_type, h, abs_err,
         |    row_number() OVER (PARTITION BY event_type, h
         |                       ORDER BY abs_err) AS rk,
         |    count(*) OVER (PARTITION BY event_type, h) AS n_cal
         |  FROM evals WHERE is_cal
         |), qh AS (
         |  SELECT event_type, h, CAST(n_cal AS BIGINT) AS n_cal,
         |    abs_err AS qhat_cents
         |  FROM cal
         |  WHERE rk = least(($ConformalCovNum * (n_cal + 1) + 9) // 10, n_cal)
         |), t AS (
         |  SELECT e.event_type, e.h, count(*) AS n_test,
         |    CAST(sum(CASE WHEN e.abs_err <= q.qhat_cents THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_in
         |  FROM evals e JOIN qh q
         |    ON q.event_type = e.event_type AND q.h = e.h
         |  WHERE NOT e.is_cal GROUP BY 1, 2
         |)
         |SELECT q.event_type, CAST(q.h AS BIGINT) AS h, q.n_cal,
         |  CAST(coalesce(t.n_test, 0) AS BIGINT) AS n_test, q.qhat_cents,
         |  CASE WHEN t.n_test > 0 THEN
         |    CAST((1000000 * t.n_in) // t.n_test AS BIGINT) END AS cover_e6
         |FROM qh q LEFT JOIN t
         |  ON t.event_type = q.event_type AND t.h = q.h""".stripMargin
    },
    // One-step-ahead forecasts from the rn−1 state row, lower medians
    // as row_number order statistics — every flag an integer compare.
    "q273_residual_anomalies" -> {
      val (lN, bN) = holtStep("h.l", "h.b", "s.y * 1000000", "//")
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2
         |), seq AS (
         |  SELECT event_type, day, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily
         |), holt AS (
         |  SELECT event_type, rn, n_days, y * 1000000 AS l,
         |    CAST(0 AS BIGINT) AS b
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.event_type, s.rn, s.n_days, $lN AS l, $bN AS b
         |  FROM holt h JOIN seq s
         |    ON s.event_type = h.event_type AND s.rn = h.rn + 1
         |), res AS (
         |  SELECT a.event_type, a.day, a.y,
         |    CAST((o.l + o.b + ${1000000L * HoltOffF}) // 1000000
         |      - $HoltOffF AS BIGINT) AS fc
         |  FROM holt o JOIN seq a
         |    ON a.event_type = o.event_type AND a.rn = o.rn + 1
         |), med AS (
         |  SELECT event_type, r AS med FROM (
         |    SELECT event_type, y - fc AS r,
         |      row_number() OVER (PARTITION BY event_type ORDER BY y - fc)
         |        AS rk,
         |      count(*) OVER (PARTITION BY event_type) AS n
         |    FROM res)
         |  WHERE rk = (n + 1) // 2
         |), mad AS (
         |  SELECT event_type, adev AS mad FROM (
         |    SELECT r.event_type, abs(r.y - r.fc - m.med) AS adev,
         |      row_number() OVER (PARTITION BY r.event_type
         |                         ORDER BY abs(r.y - r.fc - m.med)) AS rk,
         |      count(*) OVER (PARTITION BY r.event_type) AS n
         |    FROM res r JOIN med m ON m.event_type = r.event_type)
         |  WHERE rk = (n + 1) // 2
         |)
         |SELECT r.event_type, CAST(r.day AS DATE) AS day, r.y AS y_cents,
         |  r.fc AS fc_cents, r.y - r.fc AS resid_cents,
         |  m.med AS med_cents, d.mad AS mad_cents,
         |  abs(r.y - r.fc - m.med) > 3 * d.mad AS flagged
         |FROM res r
         |JOIN med m ON m.event_type = r.event_type
         |JOIN mad d ON d.event_type = r.event_type""".stripMargin
    },
    // Same 8-tap integer formula; `//` floor = Spark's `div` truncate
    // on the non-negative operands (README div contract).
    "q122_ewma_smooth" -> {
      val lags = (1 until EwmaTaps)
        .map(k => s"lag(v_e2, $k) OVER w AS l$k").mkString(", ")
      val num = (("128 * v_e2") +: (1 until EwmaTaps)
        .map(k => s"${1L << (EwmaTaps - 1 - k)} * coalesce(l$k, 0)")).mkString(" + ")
      val den = ("128" +: (1 until EwmaTaps)
        .map(k => s"CASE WHEN l$k IS NOT NULL THEN ${1L << (EwmaTaps - 1 - k)} ELSE 0 END"))
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    CAST(round(value * 100, 0) AS BIGINT) AS v_e2
         |  FROM events
         |), l AS (
         |  SELECT event_id, user_id, ts, v_e2, $lags
         |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |)
         |SELECT event_id, user_id, ts, v_e2,
         |  CAST(($num) // ($den) AS BIGINT) AS ewma_e2
         |FROM l""".stripMargin
    },
    // The UNSALTED join: salt affects row placement only, so the
    // oracle restates q108 without it.
    "q108_salted_skew_join" ->
      """WITH dim AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS first_ts
        |  FROM events GROUP BY 1
        |), j AS (
        |  SELECT e.event_type, e.user_id,
        |    date_diff('day', CAST(d.first_ts AS DATE),
        |              CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS age_days
        |  FROM events e JOIN dim d USING (user_id)
        |)
        |SELECT event_type,
        |  CASE WHEN age_days = 0 THEN 'day0'
        |       WHEN age_days <= 7 THEN 'week1'
        |       WHEN age_days <= 30 THEN 'month1'
        |       ELSE 'later' END AS tenure,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j GROUP BY 1, 2""".stripMargin,
    // Same deterministic sample restated the quadratic way: every
    // active day exploded into the windows it covers, then a distinct
    // count of sampled users per window (Spark instead merges per-day
    // sample SETS — set union never re-touches events).
    "q91_sliding_sketch" ->
      s"""WITH act AS (
         |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
         |), wd AS (
         |  SELECT CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE)
         |    AS window_day, day
         |  FROM (SELECT DISTINCT day FROM act)
         |)
         |SELECT window_day,
         |  CAST(count(DISTINCT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
         |    IN ('${SketchBuckets.mkString("', '")}') THEN user_id END) AS BIGINT)
         |    AS n_sampled,
         |  CAST(count(DISTINCT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
         |    IN ('${SketchBuckets.mkString("', '")}') THEN user_id END)
         |    * $SketchScale AS BIGINT) AS est_users
         |FROM wd JOIN act USING (day)
         |GROUP BY 1""".stripMargin,
    // Independent quadratic restatement: day grid × events range join
    // + count(DISTINCT) — the formulation the Spark plan avoids.
    "q83_trailing_distinct" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), grid AS (
        |  SELECT unnest(generate_series(min(day), max(day) + 6, INTERVAL 1 DAY))::DATE AS window_day
        |  FROM act
        |)
        |SELECT window_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
        |FROM grid
        |JOIN act ON act.day BETWEEN window_day - 6 AND window_day
        |GROUP BY 1""".stripMargin,
    // q84's transition CTEs, then the same unrolled power iterations
    // with per-edge floor division — chained CTEs, the q90 convention.
    "q204_stationary_mix" -> {
      val iters = (1 to StationaryIters).map { r =>
        s"""p$r AS (
           |  SELECT ty.node, CAST(coalesce(i.inflow, 0) AS BIGINT) AS pi_e9
           |  FROM types ty LEFT JOIN (
           |    SELECT t.next_type, sum(p.pi_e9 * t.rate_ppm // 1000000) AS inflow
           |    FROM t JOIN p${r - 1} p ON p.node = t.prev_type GROUP BY 1
           |  ) i ON i.next_type = ty.node
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
         |  FROM events
         |), c AS (
         |  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
         |  FROM seq WHERE prev_type IS NOT NULL
         |  GROUP BY 1, 2
         |), t AS (
         |  SELECT prev_type, next_type,
         |    CAST(n_trans * 1000000 // sum(n_trans)
         |      OVER (PARTITION BY prev_type) AS BIGINT) AS rate_ppm
         |  FROM c
         |), types AS (
         |  SELECT prev_type AS node FROM t UNION SELECT next_type FROM t
         |), nn AS (SELECT count(*) AS n FROM types),
         |p0 AS (
         |  SELECT node, CAST(1000000000 // n AS BIGINT) AS pi_e9
         |  FROM types CROSS JOIN nn
         |),
         |$iters
         |SELECT node AS event_type, pi_e9,
         |  CAST(pi_e9 // 1000 AS BIGINT) AS share_ppm
         |FROM p$StationaryIters""".stripMargin
    },
    "q84_transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT prev_type, next_type, n_trans,
        |  CAST(n_trans * 1000000 // sum(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS rate_ppm
        |FROM c""".stripMargin,
    // Dual-encoding contract (see Tables.events): with the
    // TIMESTAMP(MICROS) files DuckDB's CAST(ts AS TIMESTAMP) is a
    // no-op on the same micros Spark loads; with the older
    // TIMESTAMP(NANOS) files DuckDB reads TIMESTAMP_NS and the CAST
    // truncates to the same microseconds Spark reconstructs. Either
    // way both sides agree bit-for-bit under the UTC session pin.
    "q34_events_windowed" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_sum_e2,
        |  CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "q35_sessionize" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
         |), flagged AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR date_diff('microsecond', lag(ts) OVER w, ts) > ${30L * 60 * 1000000}
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), sess AS (
         |  SELECT *, CAST(sum(new_session) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM flagged
         |)
         |SELECT user_id, session_seq,
         |  min(ts) AS session_start,
         |  max(ts) AS session_end,
         |  date_diff('microsecond', min(ts), max(ts)) AS duration_us,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_sum_e2
         |FROM sess
         |GROUP BY 1, 2""".stripMargin,
    "q62_trailing_window" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS BIGINT) AS sum_e2_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin,
    // Independent restatement: plain range-predicate join (no
    // bucketing) against the same top-3-hours window derivation.
    "q63_interval_join" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
        |  FROM ev GROUP BY 1, 2
        |), wins AS (
        |  SELECT event_type, h,
        |    h - INTERVAL 15 MINUTE AS ws, h + INTERVAL 45 MINUTE AS we
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY event_type ORDER BY cnt DESC, h ASC) AS rn
        |        FROM hourly)
        |  WHERE rn <= 3
        |)
        |SELECT e.event_id, e.event_type, w.h AS window_hour, e.ts
        |FROM ev e JOIN wins w
        |  ON e.event_type = w.event_type AND e.ts >= w.ws AND e.ts < w.we""".stripMargin,
    // Independent restatement: per-purchase LATERAL top-1 lookup with
    // the same at-or-before + largest-event_id tie-break contract as
    // the union+window plan.
    "q40_asof_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
        |), p AS (
        |  SELECT * FROM ev WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT * FROM ev WHERE event_type = 'click'
        |)
        |SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  l.event_id AS attr_click_id,
        |  date_diff('microsecond', l.ts, p.ts) AS gap_micros,
        |  CAST(round(p.value * 100, 0) AS BIGINT) AS value_e2
        |FROM p LEFT JOIN LATERAL (
        |  SELECT c.event_id, c.ts FROM c
        |  WHERE c.user_id = p.user_id AND c.ts <= p.ts
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) l ON true""".stripMargin,
    // Same three stacked running-frame windows — DuckDB evaluates the
    // identical sequential-min funnel definition.
    "q65_funnel_steps" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |), s1 AS (
        |  SELECT *, CASE WHEN event_type = 'view' THEN us END AS v_us,
        |    min(CASE WHEN event_type = 'view' THEN us END) OVER w AS t1_run
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING)
        |), s2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND t1_run IS NOT NULL
        |      THEN us END AS c_us,
        |    min(CASE WHEN event_type = 'click' AND t1_run IS NOT NULL
        |      THEN us END) OVER w AS t2_run
        |  FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING)
        |), s3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND t2_run IS NOT NULL
        |      THEN us END AS p_us
        |  FROM s2
        |)
        |SELECT user_id,
        |  min(v_us) AS t_view_us,
        |  min(c_us) AS t_click_us,
        |  min(p_us) AS t_purchase_us,
        |  CAST(CASE WHEN min(p_us) IS NOT NULL THEN 3
        |            WHEN min(c_us) IS NOT NULL THEN 2
        |            WHEN min(v_us) IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS funnel_stage
        |FROM s3 GROUP BY user_id""".stripMargin,
    "q81_forward_fill" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100, 0) AS BIGINT) END AS p_e2
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type, us,
        |  last_value(p_e2 IGNORE NULLS) OVER w AS last_purchase_e2,
        |  us - last_value(CASE WHEN p_e2 IS NOT NULL THEN us END IGNORE NULLS) OVER w
        |    AS us_since_purchase
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS UNBOUNDED PRECEDING)""".stripMargin,
    "q117_session_paths" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
         |  FROM events
         |), flagged AS (
         |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
         |                   OR us - lag(us) OVER w > ${30L * 60 * 1000000}
         |                 THEN 1 ELSE 0 END AS new_session
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
         |), sess AS (
         |  SELECT *, CAST(sum(new_session) OVER (
         |    PARTITION BY user_id ORDER BY us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM flagged
         |), paths AS (
         |  SELECT user_id, session_seq,
         |    array_to_string(list_slice(list(event_type ORDER BY us, event_id), 1, 5), '>') AS path
         |  FROM sess GROUP BY 1, 2
         |), counts AS (
         |  SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1
         |)
         |SELECT path, n_sessions FROM counts
         |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q116_linear_interp" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v_e2
        |  FROM events
        |), nb AS (
        |  SELECT event_id, user_id, us, v_e2,
        |    lag(us) OVER w AS pus, lag(v_e2) OVER w AS pv,
        |    lead(us) OVER w AS nus, lead(v_e2) OVER w AS nv
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |)
        |SELECT event_id, user_id, us, v_e2,
        |  CASE WHEN pus IS NOT NULL AND nus IS NOT NULL AND nus > pus
        |       THEN (pv * (nus - us) + nv * (us - pus)) // (nus - pus) END AS interp_e2
        |FROM nb""".stripMargin,
    "q79_hourly_spine" ->
      """WITH ev AS (
        |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events
        |), counts AS (
        |  SELECT event_type, h, count(*) AS n_events FROM ev GROUP BY 1, 2
        |), b AS (
        |  SELECT min(h) AS hmin, max(h) AS hmax FROM ev
        |), spine AS (
        |  SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h FROM b
        |), t AS (
        |  SELECT DISTINCT event_type FROM ev
        |)
        |SELECT t.event_type, s.h, CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events
        |FROM t CROSS JOIN spine s
        |LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = s.h""".stripMargin,
    "q77_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events
        |), r AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor
        |  FROM days
        |)
        |SELECT user_id,
        |  min(day) AS streak_start,
        |  max(day) AS streak_end,
        |  count(*) AS n_days
        |FROM r GROUP BY user_id, anchor""".stripMargin,
    "q66_retention_cohorts" ->
      s"""WITH act AS (
         |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
         |    count(*) AS n_events
         |  FROM events GROUP BY 1, 2
         |), c AS (
         |  SELECT user_id, week,
         |    min(week) OVER (PARTITION BY user_id) AS cohort_week
         |  FROM act
         |), cells AS (
         |  SELECT cohort_week,
         |    date_diff('microsecond', cohort_week, week) // ${WeekMicros} AS week_offset,
         |    count(*) AS n_active
         |  FROM c GROUP BY 1, 2
         |)
         |SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset, n_active,
         |  max(CASE WHEN week_offset = 0 THEN n_active END)
         |    OVER (PARTITION BY cohort_week) AS cohort_size,
         |  CAST(round(1e6 * CAST(n_active AS DOUBLE) /
         |    CAST(max(CASE WHEN week_offset = 0 THEN n_active END)
         |      OVER (PARTITION BY cohort_week) AS DOUBLE), 0) AS BIGINT) AS retention_e6
         |FROM cells""".stripMargin)
}
