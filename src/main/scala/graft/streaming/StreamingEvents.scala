package graft.streaming

import graft.ops.Exact._
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surfaces for the event/document pipelines.
  *
  * The reference pipeline is daily batch (SURVEY §2.8 — no streaming
  * needed for parity); these are the scale extensions a continuous
  * training-data pipeline needs, built so the BATCH and STREAMING
  * paths share one transformation:
  *
  *  - [[windowedKpis]] is written against a plain DataFrame and works
  *    unchanged over `spark.read` and `spark.readStream` input — the
  *    batch q34 oracle therefore transitively verifies the streaming
  *    plan (EventStreamSpec pins the equality).
  *  - [[dedupByKey]] is `dropDuplicates` with a watermark: streaming
  *    state is bounded by event time, so an unbounded run cannot
  *    accumulate unbounded dedup state (the q20 exact-dedup contract,
  *    continuous form).
  *  - [[sessionize]] is the q35 gap-session operator as explicit
  *    `flatMapGroupsWithState` state: sessions close when the event-
  *    time watermark passes the 30-minute gap, which is exactly the
  *    batch semantics of "next event more than 30 minutes later" —
  *    with bounded per-user state (one open session each).
  *
  * At scale: all three are keyed state — shuffle on (window/key/user),
  * state store partitioned the same way; no operator holds more than
  * watermark-bounded state, so a 1000-executor cluster runs them
  * indefinitely.
  */
object StreamingEvents {

  /** The events-table schema (TESTDATA.md), declared explicitly:
    * streaming file sources do not infer schemas. */
  val eventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** JSON-lines streaming source over a landing-style directory. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).json(dir)

  /** Hourly KPIs per event_type — the q34 aggregation minus the
    * distinct-user count (DISTINCT aggregation is unsupported over
    * streams; the batch q34 keeps it). Works on batch and streaming
    * inputs alike; callers of the streaming form must set a watermark
    * upstream for append-mode output. */
  /** Hourly OHLC bars per event_type — q127's downsampling aggregate,
    * written against a plain DataFrame so the SAME function runs over
    * `spark.read` and `spark.readStream` (the q127 batch oracle then
    * transitively verifies the streaming plan; EventStreamSpec pins
    * the equality). The ordered open/close endpoints ride min_by/
    * max_by pairs — incremental-merge-safe aggregates, so streaming
    * state per (window, type) group is ONE row of endpoints, never
    * the events. */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .withColumn("v_e2", e2(col("value")))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min_by(col("v_e2"), struct(col("ts"), col("event_id"))).as("open_e2"),
        max(col("v_e2")).as("high_e2"),
        min(col("v_e2")).as("low_e2"),
        max_by(col("v_e2"), struct(col("ts"), col("event_id"))).as("close_e2"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("bar_start"), col("event_type"),
        col("open_e2"), col("high_e2"), col("low_e2"), col("close_e2"),
        col("n_events"))

  def windowedKpis(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sumE2(col("value")).as("value_sum_e2"),
        sum(col("k")).as("k_sum"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum_e2"), col("k_sum"))

  /** Stream-static broadcast enrichment — the canonical dimension-
    * lookup shape of streaming ETL: every incoming event joins a
    * STATIC user dimension (left join — unknown users pass through
    * with null attributes, never dropped). The static side is
    * `broadcast()`: stream-static joins are stateless per micro-batch,
    * and broadcasting the dim means NO shuffle of the stream at all —
    * each executor probes its local hash map at scan speed, exactly
    * how a 1000-executor cluster enriches an unbounded stream against
    * a bounded dimension. Same function body serves `spark.read` and
    * `readStream` inputs (EventStreamSpec pins the equality); for a
    * slowly-changing dim, re-planning per batch picks up a swapped
    * snapshot (TableSwap) without restarting the query. */
  def enrichWithDim(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Exact streaming dedup on `keyCols`, state bounded by a watermark
    * on `tsCol`: duplicates arriving within the watermark horizon are
    * dropped; state for older keys is evicted. */
  def dedupByKey(events: DataFrame, tsCol: String, delay: String, keyCols: String*): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicates(keyCols :+ tsCol)

  // -- stream-stream interval join (attribution) -----------------------

  /** Watermarked stream-stream interval join: attribute each `action`
    * event to the `trigger` events of the same user in the preceding
    * `withinSeconds` (e.g. click→view attribution). Works identically
    * on batch inputs — the join condition is pure column algebra — so
    * the spec pins stream output against the batch join on the same
    * data. State is bounded: each side holds only rows inside its
    * watermark horizon, and the interval condition lets Spark evict
    * trigger rows once `action.ts` can no longer reach them.
    *
    * At scale this is a keyed shuffle on user_id with range pruning in
    * the state store — no unbounded buffering, no cross product. */
  def attributeWithin(
      triggers: DataFrame, actions: DataFrame, withinSeconds: Long,
      delay: String = "0 seconds"): DataFrame = {
    val t = triggers.withWatermark("ts", delay)
      .select(col("user_id"), col("event_id").as("trigger_id"),
        col("ts").as("trigger_ts"), col("event_type").as("trigger_type"))
    val a = actions.withWatermark("ts", delay)
      .select(col("user_id"), col("event_id").as("action_id"),
        col("ts").as("action_ts"), col("event_type").as("action_type"))
    t.join(a,
      t("user_id") === a("user_id") &&
        col("action_ts") >= col("trigger_ts") &&
        col("action_ts") <= col("trigger_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
      .select(t("user_id"), col("trigger_id"), col("action_id"),
        col("trigger_ts"), col("action_ts"))
  }

  // -- stateful sessionization ----------------------------------------

  /** One input event (mirrors eventSchema). */
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Open-session state carried between micro-batches. */
  final case class SessionState(start: Long, end: Long, nEvents: Long, valueE2: Long)

  /** A closed session (same shape as batch q35 minus session_seq,
    * which is a run-relative ordinal the streaming form replaces with
    * the session start time). */
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, duration_us: Long, n_events: Long, value_sum_e2: Long)

  private val GapMicros = 30L * 60 * 1000000

  private def micros(t: Timestamp): Long = t.getTime * 1000 + t.getNanos / 1000 % 1000

  private def toSession(uid: Long, st: SessionState): Session =
    Session(uid, new Timestamp(st.start / 1000), new Timestamp(st.end / 1000),
      st.end - st.start, st.nEvents, st.valueE2)

  /** flatMapGroupsWithState kernel: folds a user's micro-batch events
    * into the open session, emitting sessions whose gap has closed.
    * Also called directly by the unit spec (pure function). */
  private[graft] def foldUser(
      uid: Long, events: Iterator[Ev], state: GroupState[SessionState]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(toSession(uid, _))
      state.remove()
      return out.iterator
    }
    val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var open = state.getOption
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = micros(e.ts)
      val v = math.round(e.value * 100)
      open match {
        // within the gap on EITHER side of the open session: merge,
        // extending backwards for a cross-batch straggler (batch
        // sessionization would have sorted it before the session start)
        case Some(st) if t >= st.start - GapMicros && t - st.end <= GapMicros =>
          open = Some(SessionState(math.min(st.start, t), math.max(st.end, t),
            st.nEvents + 1, st.valueE2 + v))
        // straggler older than the open session by MORE than the gap:
        // in event-time order it is its own already-closed session —
        // folding it in (the old `t - st.end <= Gap` accepted any
        // negative gap) corrupted the open session's stats instead
        case Some(st) if t < st.start - GapMicros =>
          closed += toSession(uid, SessionState(t, t, 1, v))
        case Some(st) =>
          closed += toSession(uid, st)
          open = Some(SessionState(t, t, 1, v))
        case None =>
          open = Some(SessionState(t, t, 1, v))
      }
    }
    open.foreach { st =>
      state.update(st)
      state.setTimeoutTimestamp(st.end / 1000 + GapMicros / 1000)
    }
    closed.result().iterator
  }

  /** Streaming gap-sessionization: per-user open-session state with an
    * event-time timeout at (last event + 30 min); a session is emitted
    * once the watermark proves no event can extend it. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(foldUser)
  }
}
