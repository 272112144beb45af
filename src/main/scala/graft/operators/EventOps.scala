package graft.operators

import graft.{Query, Tables}
import graft.Query.Q
import graft.Par.{r2, r6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators, batch forms (SURVEY.md §2.10). The streaming twins
  * in graft.streaming reuse the same window semantics via Structured
  * Streaming; these batch versions are the oracle-checkable surface.
  *
  * All grouping is on (window, event_type) or (user_id, session) — both
  * high-cardinality-safe at 100 TB: tumbling/sliding windows hash-partition
  * by window start, sessionization partitions by user_id (the natural
  * shuffle key for per-entity state).
  */
object EventOps {
  /** Hourly tumbling counts+sums per event_type — uses the streaming-native
    * window() operator (start == date_trunc('hour') for 1h/epoch-aligned). */
  private val tumbling: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), r2(sum(col("value"))).as("total"))
      .select(col("w.start").as("h"), col("event_type"), col("cnt"),
        col("total"))
      .orderBy("h", "event_type")

  /** 1-hour window sliding every 15 min — each event lands in 4 windows
    * (epoch-aligned, matching Spark's window() alignment). */
  private val sliding: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("ws"), col("event_type"), col("cnt"))
      .orderBy("ws", "event_type")

  /** Session windows (30-min inactivity gap) per user via gaps-and-islands:
    * lag → gap flag → running sum = session id. Exact integer µs arithmetic
    * on the raw ns counter — no interval/float drift. The same sessions come
    * out of Structured Streaming's session_window (parity-tested). */
  private val session: Q = (s, d) => {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(runW))
      .groupBy("user_id", "sess")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), r2(sum(col("value"))).as("session_value"))
      .orderBy("user_id", "sess")
  }

  /** Click→purchase attribution: each click joined to the same user's
    * purchases within the following 30 minutes — the batch twin of the
    * stream-stream interval join (StreamingOps.intervalJoin). user_id is
    * the equi shuffle key; the time band is a residual predicate, so this
    * stays a plain hash/merge join at any scale (never a cartesian), and
    * the streaming form's state per user ~ event rate × interval. Exact
    * integer µs arithmetic (ts_ns div 1000) — no interval-type drift. */
  private val intervalJoin: Q = (s, d) => {
    val bandUs = 30L * 60 * 1000000
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_us"), col("value").as("amount"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("p_us") >= col("c_us") &&
        col("p_us") <= col("c_us") + bandUs)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_us") - col("c_us")).as("lag_us"), col("amount"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** Batch twin of the watermarked stream-stream LEFT OUTER interval
    * join (StreamingOps.intervalJoinLeft): every click survives, carrying
    * its in-window purchases when they exist — the attribution form where
    * unconverted clicks ride along instead of vanishing. Same equi-key
    * (user_id) + residual-band shape as q_stream_interval_join; in the
    * streaming form the outer side emits only once the watermark closes
    * the window, which is why both sides carry one. Unmatched rows take
    * sentinel −1 (never NULL) so row order and hashing are
    * engine-identical with no null-ordering divergence. */
  private val intervalJoinLeft: Q = (s, d) => {
    val bandUs = 30L * 60 * 1000000
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_us"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
        col("p_us") >= col("c_us") && col("p_us") <= col("c_us") + bandUs,
        "left")
      .select(col("user_id"), col("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("p_us") - col("c_us"), lit(-1L)).as("lag_us"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** Pivot: daily event counts spread into one column per event_type.
    * Explicit value list keeps the schema static (required for a plannable
    * wide table at scale — never let pivot scan for distinct values on a
    * 100 TB input). */
  private val pivot: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("day", date_trunc("day", col("ts")))
      .groupBy("day")
      .pivot("event_type",
        Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  /** Ordered conversion funnel view → click → purchase: for each user the
    * first view, the first click AFTER that view, the first purchase AFTER
    * that click — order-sensitive, so it is NOT three independent
    * existence checks. ONE shuffle: the three stage timestamps are chained
    * window minima over the same user_id partitioning (Catalyst plans one
    * Exchange and stacks the Window ops), then a per-user collapse and a
    * global 1-row summary. Exact integer µs arithmetic. At 100 TB this is
    * the same single hash partition pass — per-user state is three longs. */
  private val funnel: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
    val perUser = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts_us") > col("t1"),
          col("ts_us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts_us") > col("t2"),
          col("ts_us"))).over(w))
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
    // Ratios are NULL when the denominator stage is empty: Spark's 0/0
    // would be NaN and r6's floor-cast would silently turn it into 0.0,
    // while DuckDB keeps NaN — NULL-on-empty is both the saner answer
    // and exact cross-engine parity on arbitrary inputs.
    perUser.agg(
      count(col("t1")).as("users_view"),
      count(col("t2")).as("users_click_after_view"),
      count(col("t3")).as("users_purchase_after_click"),
      when(count(col("t1")) > 0,
        r6(count(col("t2")) / count(col("t1")))).as("conv_click"),
      when(count(col("t2")) > 0,
        r6(count(col("t3")) / count(col("t2")))).as("conv_purchase"))
  }

  /** Cohort retention: users grouped by first-active day, counted on each
    * of the following 7 days they return. Two shuffles (user-day distinct,
    * cohort join is co-partitioned on user_id) + the final small agg —
    * the (cohort, offset) matrix is bounded (days × 8) regardless of
    * input size, so the output never needs a scale path. */
  private val retention: Q = (s, d) => {
    val days = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(cohort, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** First-order event-transition matrix (the Markov-chain view of user
    * behavior): count and probability of each (current → next) event-type
    * transition within a user's stream. One shuffle on user_id for the
    * lead(); the transition matrix itself is |types|² rows — bounded at
    * any scale, so the normalizing window runs on a handful of rows. */
  private val markov: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(expr("ts_ns div 1000"), col("event_id"))
    val wSrc = Window.partitionBy("cur")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("cur"),
        col("ts_ns"), col("event_id"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      .withColumn("p", r6(col("n") / sum(col("n")).over(wSrc)))
      .orderBy("cur", "nxt")
  }

  /** Z-score outlier flagging: per-type mean/stddev (5-row aggregate,
    * broadcast back) → events with |z| > 2.5. Two linear passes, no
    * window over the low-cardinality event_type (a 5-partition window
    * would serialize 100 TB through 5 tasks — the groupBy+broadcast
    * shape is the one that scales). z is r6-rounded on BOTH sides and
    * the filter tests the rounded value, so the threshold crossing is
    * decided on identical doubles in both engines. */
  /** Scoring core shared with the stream-static twin (graft.streaming
    * StreamingOps.anomaly): threshold and rounding live HERE only, so
    * the batch query and the streaming twin cannot desynchronize —
    * their parity is the property StreamingSpec tests. */
  private[graft] def anomalyScore(events: DataFrame,
      stats: DataFrame): DataFrame =
    events.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", r6((col("value") - col("mu")) / col("sigma")))
      .filter(abs(col("z")) > 2.5)
      .select("event_id", "event_type", "value", "z")

  private val anomaly: Q = (s, d) => {
    val e = Tables.events(s, d)
    val stats = e.groupBy("event_type")
      .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sigma"))
    anomalyScore(e, stats).orderBy("event_id")
  }

  /** SCD2 interval build: collapse each user's consecutive same-type run
    * into one [valid_from, valid_to) row — the slowly-changing-dimension
    * form a warehouse keeps per entity. Gaps-and-islands (lag → change
    * flag → running sum = run id) then lead() for the closing edge; all
    * windows share the user_id partitioning, so Catalyst plans ONE
    * Exchange — per-entity history builds are a single shuffle at any
    * scale. Exact integer µs ordering (ts_ns div 1000, event_id). */
  private val scd2: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byRun = Window.partitionBy("user_id").orderBy("run")
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("chg")).over(runW))
      .groupBy("user_id", "run")
      .agg(min(col("event_type")).as("status"),
        min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byRun))
      .select("user_id", "run", "status", "valid_from", "valid_to",
        "n_events")
      .orderBy("user_id", "run")
  }

  /** Point-in-time (temporal) join — the warehouse lookup every SCD2
    * dimension exists FOR, which q_events_scd2 (builds the intervals)
    * and q_join_asof (nearest-event semantics) both stop short of:
    * each purchase event joins the status interval that was VALID at
    * its timestamp, where the dimension is the SCD2 run-length
    * encoding of the user's non-purchase activity ("what was the user
    * doing when they bought"). Scale shape: the interval dimension is
    * per-entity-bounded and the join carries user_id as the equi key —
    * one shuffle on the natural entity key, the [from, to) residual
    * evaluates within each matched group (never a cross product; the
    * same reason sessionization shuffles on user_id). Open intervals
    * (valid_to NULL) match everything after their start; purchases
    * before any activity fall out of the LEFT join and surface as the
    * '__NONE__' row instead of vanishing. Exact integer-µs bounds. */
  private val joinTemporal: Q = (s, d) => {
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val act = ev.filter(col("event_type") =!= "purchase")
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byRun = Window.partitionBy("user_id").orderBy("run")
    val dim = act
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("chg")).over(runW))
      .groupBy("user_id", "run")
      .agg(min(col("event_type")).as("status"),
        min(col("ts_us")).as("from_us"))
      .withColumn("to_us", lead(col("from_us"), 1).over(byRun))
      .select("user_id", "status", "from_us", "to_us")
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("value"))
    facts.join(dim,
        facts("user_id") === dim("user_id") &&
          col("ts_us") >= col("from_us") &&
          (col("to_us").isNull || col("ts_us") < col("to_us")),
        "left")
      .select(coalesce(col("status"), lit("__NONE__")).as("status"),
        col("value"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_purchases"),
        r6(avg(col("value"))).as("avg_value"))
      .orderBy("status")
  }

  /** CDC/changelog apply (the SCD1 upsert-merge complement to q_events_scd2):
    * the event stream is read as a keyed changelog — the latest operation
    * per user wins ('purchase' acts as the delete marker, anything else
    * upserts `value`). One row_number window over the natural user_id
    * partitioning picks the survivor, then tombstones are dropped; this is
    * exactly how a 100 TB snapshot-from-changelog materialization runs
    * (shuffle once on the merge key, no global state). Exact integer µs
    * ordering with event_id as the unique tie-break. */
  private val cdcApply: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "purchase")
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  /** DAU/MAU engagement: exact distinct actives per day and per calendar
    * month, stickiness = dau/mau. Two hash aggregates (day- and
    * month-keyed — both high-cardinality-safe) and a broadcast of the
    * |months|-row frame back onto days; at 100 TB the exact
    * countDistinct pre-aggregates per (day, user) map-side, and the
    * sketch variant is q_agg_approx_distinct's shape. date_trunc keeps
    * TIMESTAMP dtype on both sides (DATE would change the comparator
    * dtype). dau ≤ mau by construction, so stickiness is in (0,1];
    * exact-integer division → no rounding step. */
  private val dauMau: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"),
        date_trunc("month", col("ts")).as("month"), col("user_id"))
    val dau = e.groupBy("day", "month")
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = e.groupBy("month")
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), Seq("month"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau") / col("mau")).as("stickiness"))
      .orderBy("day")
  }

  /** Journey mining: the 10 most common 3-step event-type paths over
    * consecutive events per user. One window shuffle on user_id (two
    * leads over the same exact-µs ordering share the Exchange), then a
    * |types|³-bounded hash agg — path mining is a linear scan at any
    * scale because the aggregate key space is the type alphabet, not
    * the user count. */
  private val pathTopk: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
      .limit(10)
  }

  /** Rolling 7-day engagement over the daily series: daily counts+sums,
    * then a RANGE frame over the day ordinal. The window runs on the
    * |days|-row aggregate (bounded — one row per calendar day), never
    * on events, so the unpartitioned frame is safe at any scale — the
    * same census-window argument as q_sample_split. */
  private val rolling7d: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .withColumn("dnum", datediff(col("day"), lit("1970-01-01")))
    val w = Window.orderBy("dnum").rangeBetween(-6, 0)
    daily
      .select(col("day"), col("n"),
        sum(col("n")).over(w).as("n_7d"),
        r2(sum(col("v")).over(w)).as("v_7d"))
      .orderBy("day")
  }

  /** Per-day session quality rollup on top of the 30-min-gap islands:
    * session count, bounce rate (single-event sessions), mean duration.
    * Sessions shuffle on user_id exactly like q_stream_session; the
    * daily rollup is a second aggregate on the bounded per-session frame
    * keyed by integer day ordinal (start_us div 86.4e9 — no calendar
    * arithmetic to drift cross-engine). */
  private val sessionStats: Q = (s, d) => {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(runW))
      .groupBy("user_id", "sess")
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .groupBy(expr("start_us div 86400000000").as("day_num"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, 1)).as("n_bounce"),
        r6(count(when(col("n_events") === 1, 1)).cast("double") /
          count(lit(1))).as("bounce_rate"),
        r2(avg((col("end_us") - col("start_us")) / lit(1000000.0)))
          .as("avg_dur_s"))
      .orderBy("day_num")
  }

  /** Linear multi-touch attribution: each purchase's value is split
    * evenly across the user's click/view touches in the preceding 7
    * days, then credited revenue rolls up per touch channel. The
    * touch↔purchase pairing is the same user-keyed band join as
    * q_stream_interval_join (equi on user_id, time band as residual —
    * never a cartesian); the per-purchase touch count comes from the
    * pair aggregate, and credit = value/n splits exactly (one division
    * per pair, identical doubles cross-engine, r2 only at the final
    * rollup). */
  private val attribution: Q = (s, d) => {
    val bandUs = 7L * 24 * 3600 * 1000000
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts_us").as("p_us"), col("value"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts_us").as("t_us"))
    val pairs = purchases.join(touches, Seq("user_id"))
      .filter(col("t_us") < col("p_us") &&
        col("t_us") >= col("p_us") - bandUs)
    // per-purchase touch count as a p_id-partitioned window (round
    // 10): data-parallel at any scale, and the band join no longer
    // runs twice (the old groupBy + back-join re-evaluated it); value
    // is constant per purchase so it rides the pair rows directly
    val wp = Window.partitionBy("p_id").rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    pairs
      .withColumn("n_touch", count(lit(1)).over(wp))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_credits"),
        r2(sum(col("value") / col("n_touch"))).as("credited"))
      .orderBy("channel")
  }

  /** Rolling 7-day distinct actives per day — the DISTINCT twin of
    * q_events_rolling_7d (a running sum can slide; a distinct count
    * cannot, so the correct distributed shape is day×user dedup → day
    * spine band join → re-count). The (day, user) frame is bounded by
    * |days|·|users|; the spine side is |days| rows and broadcasts; the
    * final countDistinct shuffles on the spine day. Integer day
    * ordinals only — no calendar arithmetic. */
  private val rollingUniques: Q = (s, d) => {
    val du = Tables.events(s, d)
      .select(expr("(ts_ns div 1000) div 86400000000").as("day_num"),
        col("user_id"))
      .distinct()
    val spine = du.select(col("day_num").as("day")).distinct()
    du.join(broadcast(spine),
        col("day_num") >= col("day") - 6 && col("day_num") <= col("day"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("uniques_7d"),
        countDistinct(when(col("day_num") === col("day"),
          col("user_id"))).as("uniques_1d"))
      .orderBy("day")
  }

  /** Funnel latency profile: per user, first signup → first subsequent
    * purchase; reports conversion count and the latency distribution
    * (mean/median/p90 seconds). Two per-user min-aggregates (shuffle on
    * user_id, the natural key) and one bounded final aggregate — no
    * windows over the event stream. */
  private val funnelTime: Q = (s, d) => {
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts_us")).as("s_us"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"))
      .join(signup, Seq("user_id"))
      .filter(col("ts_us") > col("s_us"))
      .groupBy("user_id").agg(min(col("ts_us")).as("p_us"),
        first(col("s_us")).as("s_us2"))
    firstPurchase
      .select(((col("p_us") - col("s_us2")) / lit(1000000.0)).as("lat_s"))
      .agg(count(lit(1)).as("n_converted"),
        r2(avg(col("lat_s"))).as("mean_s"),
        r2(expr("percentile(lat_s, 0.5)")).as("p50_s"),
        r2(expr("percentile(lat_s, 0.9)")).as("p90_s"))
  }

  /** Hour-of-day × day-of-week seasonality matrix with activity share —
    * the load-shaping profile behind capacity planning and anomaly
    * baselines. Bucketing is PURE INTEGER epoch arithmetic (hour = µs
    * div 3.6e9 mod 24; dow = epoch-day + 4 mod 7, 0 = Monday — no
    * calendar/timezone functions to drift cross-engine); one hash
    * aggregate into ≤168 cells, share against a broadcast 1-row total. */
  private val seasonality: Q = (s, d) => {
    Tables.events(s, d)
      .select(
        expr("((ts_ns div 1000) div 86400000000 + 4) % 7").as("dow"),
        expr("((ts_ns div 1000) div 3600000000 ) % 24").as("hod"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        Tables.events(s, d).agg(count(lit(1)).as("tot"))))
      .select(col("dow"), col("hod"), col("n"),
        r6(col("n").cast("double") / col("tot")).as("share"))
      .orderBy("dow", "hod")
  }

  /** Inter-order gap profile: per-customer day gaps between consecutive
    * orders (lag over the custkey partition — the natural shuffle key),
    * rolled up to one distribution row (mean/median/p90 days). Integer
    * epoch-day arithmetic end to end. */
  private val orderGaps: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy("day_num", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)")
          .as("day_num"))
      .withColumn("gap", col("day_num") - lag(col("day_num"), 1).over(w))
      .filter(col("gap").isNotNull)
      .agg(count(lit(1)).as("n_gaps"),
        r2(avg(col("gap"))).as("mean_days"),
        r2(expr("percentile(gap, 0.5)")).as("p50_days"),
        r2(expr("percentile(gap, 0.9)")).as("p90_days"))
  }

  /** Kaplan–Meier survival curve for time-to-first-purchase — funnel
    * latency with CENSORING done right (q_events_funnel_time averages
    * the converters; this estimates the whole curve without
    * survivorship bias): per user, duration = days from first activity
    * to first purchase; users who never purchase are CENSORED at their
    * observation end (corpus max day), leaving the risk set without
    * counting as conversions. Per duration t: hazard = conversions(t)
    * / at-risk entering t, S(t) = Π_{t'≤t} (1 − hazard) — the
    * probability of still being purchase-free after t days. The
    * duration census is |days|-bounded after one per-user aggregate,
    * so the product runs as ONE sequential array fold in duration
    * order (the kruskal discipline — identical multiply sequence in
    * both engines, replayed by the oracle as a recursive CTE); integer
    * at-risk/event arithmetic, one division per duration. */
  private val survival: Q = (s, d) => {
    val perUser = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min(expr("(ts_ns div 1000) div 86400000000")).as("first_day"),
        min(when(col("event_type") === "purchase",
          expr("(ts_ns div 1000) div 86400000000"))).as("p_day"),
        max(expr("(ts_ns div 1000) div 86400000000")).as("last_day"))
    // NOT a driver-collected literal (round-11 A/B: the collect form
    // measured -1 job each, but it adds a SECOND events scan — the
    // crossJoin form's twin reads of perUser are exchange-reused, so
    // one corpus scan serves both; at 100 TB the scan wins the trade)
    val maxDay = perUser.agg(max(col("last_day")).as("max_day"))
    val census = perUser.crossJoin(broadcast(maxDay))
      .select(
        when(col("p_day").isNotNull, col("p_day") - col("first_day"))
          .otherwise(col("max_day") - col("first_day")).as("t"),
        col("p_day").isNotNull.cast("long").as("is_ev"))
      .groupBy("t")
      .agg(sum(col("is_ev")).as("ev"),
        (count(lit(1)) - sum(col("is_ev"))).as("cen"))
    val hz = "(CAST(x.ev AS DOUBLE) / acc.risk)"
    val outT = "ARRAY<STRUCT<t: BIGINT, n_at_risk: BIGINT, " +
      "n_converted: BIGINT, n_censored: BIGINT, hazard: DOUBLE, " +
      "survival: DOUBLE>>"
    census
      .agg(expr("array_sort(collect_list(struct(t, ev, cen)))").as("arr"))
      .select(explode(expr(
        s"""aggregate(
              arr,
              named_struct(
                'risk', aggregate(arr, CAST(0 AS BIGINT),
                                  (a, x) -> a + x.ev + x.cen),
                'surv', CAST(1.0 AS DOUBLE),
                'out', CAST(array() AS $outT)),
              (acc, x) -> named_struct(
                'risk', acc.risk - x.ev - x.cen,
                'surv', acc.surv * (1.0 - $hz),
                'out', array_append(acc.out, named_struct(
                  't', x.t,
                  'n_at_risk', acc.risk,
                  'n_converted', x.ev,
                  'n_censored', x.cen,
                  'hazard', $hz,
                  'survival', acc.surv * (1.0 - $hz)))),
              acc -> acc.out)""")).as("r"))
      .select(col("r.t").as("t"),
        col("r.n_at_risk").as("n_at_risk"),
        col("r.n_converted").as("n_converted"),
        col("r.n_censored").as("n_censored"),
        r6(col("r.hazard")).as("hazard"),
        r6(col("r.survival")).as("survival"))
      .orderBy("t")
  }

  /** Log-rank test between two experiment arms' time-to-first-purchase
    * curves (arm = user_id parity — the deterministic A/B assignment):
    * the hypothesis test that pairs with q_events_survival's estimate,
    * answering "does arm A convert faster" WITHOUT discarding censored
    * users the way a converters-only t-test would. At each duration t
    * the expected arm-A conversions under H0 are d·n_A/n, with the
    * hypergeometric variance; O−E and V accumulate THROUGH the same
    * sequential duration-order fold as the survival product (exact
    * integer risk sets; the double E/V updates run in one pinned
    * order, replayed by the oracle's recursive CTE), and the single
    * final division yields z and χ². */
  private val logrank: Q = (s, d) => {
    val dayE = "(ts_ns div 1000) div 86400000000"
    val perUser = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min(expr(dayE)).as("first_day"),
        min(when(col("event_type") === "purchase", expr(dayE)))
          .as("p_day"),
        max(expr(dayE)).as("last_day"))
    // NOT a driver-collected literal (round-11 A/B: the collect form
    // measured -1 job each, but it adds a SECOND events scan — the
    // crossJoin form's twin reads of perUser are exchange-reused, so
    // one corpus scan serves both; at 100 TB the scan wins the trade)
    val maxDay = perUser.agg(max(col("last_day")).as("max_day"))
    val census = perUser.crossJoin(broadcast(maxDay))
      .select(
        when(col("p_day").isNotNull, col("p_day") - col("first_day"))
          .otherwise(col("max_day") - col("first_day")).as("t"),
        col("p_day").isNotNull.cast("long").as("is_ev"),
        (col("user_id") % 2 === 0).cast("long").as("is_a"))
      .groupBy("t")
      .agg(sum(col("is_ev") * col("is_a")).as("ev_a"),
        sum(col("is_ev") * (lit(1) - col("is_a"))).as("ev_b"),
        sum((lit(1) - col("is_ev")) * col("is_a")).as("cen_a"),
        sum((lit(1) - col("is_ev")) * (lit(1) - col("is_a"))).as("cen_b"))
    val dEx = "CAST(x.ev_a + x.ev_b AS DOUBLE)"
    val n = "(acc.risk_a + acc.risk_b)"
    val eaStep = s"($dEx * acc.risk_a / $n)"
    val vStep = s"(CASE WHEN $n > 1 THEN $dEx * acc.risk_a / $n" +
      s" * acc.risk_b / $n * ($n - x.ev_a - x.ev_b) / ($n - 1)" +
      " ELSE 0.0 END)"
    census
      .agg(expr("array_sort(collect_list(" +
        "struct(t, ev_a, ev_b, cen_a, cen_b)))").as("arr"))
      .select(expr(
        s"""aggregate(
              arr,
              named_struct(
                'risk_a', aggregate(arr, CAST(0 AS BIGINT),
                                    (a, x) -> a + x.ev_a + x.cen_a),
                'risk_b', aggregate(arr, CAST(0 AS BIGINT),
                                    (a, x) -> a + x.ev_b + x.cen_b),
                'oa', CAST(0 AS BIGINT),
                'ea', CAST(0.0 AS DOUBLE),
                'v', CAST(0.0 AS DOUBLE)),
              (acc, x) -> named_struct(
                'risk_a', acc.risk_a - x.ev_a - x.cen_a,
                'risk_b', acc.risk_b - x.ev_b - x.cen_b,
                'oa', acc.oa + x.ev_a,
                'ea', acc.ea + $eaStep,
                'v', acc.v + $vStep),
              acc -> acc)""").as("f"),
        expr("aggregate(arr, CAST(0 AS BIGINT)," +
          " (a, x) -> a + x.ev_a + x.cen_a)").as("n_a"),
        expr("aggregate(arr, CAST(0 AS BIGINT)," +
          " (a, x) -> a + x.ev_b + x.cen_b)").as("n_b"))
      .select(col("n_a"), col("n_b"), col("f.oa").as("o_a"),
        r6(col("f.ea")).as("e_a"),
        r6((col("f.oa") - col("f.ea")) / sqrt(col("f.v"))).as("z_stat"),
        r6((col("f.oa") - col("f.ea")) * (col("f.oa") - col("f.ea")) /
          col("f.v")).as("chi2"))
  }

  /** Inter-arrival time profile per event type: gap to the same user's
    * previous event of that type in exact integer microseconds
    * (user-partitioned lag — never a global window; partitions by the
    * same (user, type) key the sessionizers shuffle on), rolled up per
    * type into count / mean / median / p95 seconds. The rate census
    * behind capacity planning and bot detection (a p50 of seconds where
    * humans take minutes is the classic automation tell). Long gap sums
    * stay exact; one double division per statistic. */
  private val interarrival: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        r2(sum(col("gap_us")).cast("double") / count(lit(1)) /
          lit(1000000.0)).as("mean_sec"),
        r2(expr("percentile(gap_us, 0.5)") / lit(1000000.0)).as("p50_sec"),
        r2(expr("percentile(gap_us, 0.95)") / lit(1000000.0)).as("p95_sec"))
      .orderBy("event_type")
  }

  /** Traffic-burst detection: hourly counts → global mean+2σ threshold
    * (computed on the bounded hour frame, broadcast back, r6-rounded so
    * the flag compare is identical cross-engine) → adjacent flagged
    * hours merged into burst intervals by gaps-and-islands. Output one
    * row per burst (start/end hour ordinal, width, peak rate). The
    * islands window runs over flagged hours only (≪ |hours|). */
  private val bursts: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(expr("(ts_ns div 1000) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
    val thr = hourly.agg(
      r6(avg(col("c")) + lit(2.0) *
        stddev_samp(col("c").cast("double"))).as("thr"))
    val flagged = hourly.crossJoin(broadcast(thr))
      .filter(col("c") > col("thr"))
    val w = Window.orderBy("hr")
    flagged
      .withColumn("grp", col("hr") - row_number().over(w))
      .groupBy("grp")
      .agg(min(col("hr")).as("start_hr"), max(col("hr")).as("end_hr"),
        count(lit(1)).as("n_hours"), max(col("c")).as("peak"))
      .select("start_hr", "end_hr", "n_hours", "peak")
      .orderBy("start_hr")
  }

  /** Token-bucket rate-limit replay — the batch twin of ingest-edge
    * admission control (what-if capacity planning: how much would each
    * user have been throttled under capacity C=1.5 tokens, refill 1
    * token/hour? — strict enough to throttle within-session bursts
    * (4.5% of events dropped at sf0.01)). A token bucket is inherently sequential state, so
    * this is the survival/kruskal discipline at its purest: per user,
    * the event times fold LEFT in time order with the bucket state as
    * a 3-slot BIGINT array [last_ts, micro_tokens, n_admitted] —
    * all-integer arithmetic (micro-tokens; refill = Δus/3600 capped at
    * C), so the fold is bit-identical in any engine that folds the
    * same order. Equal timestamps commute (every event costs one
    * token), so sorting by ts alone is a total enough order. One
    * shuffle on user_id; per-user arrays are |user events|-bounded.
    * The oracle folds the identical lambda via list_reduce with the
    * init element prepended. */
  private val rateLimit: Q = (s, d) => {
    val refill = "least(1500000L, acc[1] + (e[0] - acc[0]) div 3600)"
    val step = s"(acc, e) -> array(e[0]," +
      s" CASE WHEN $refill >= 1000000 THEN $refill - 1000000L" +
      s" ELSE $refill END," +
      s" acc[2] + CASE WHEN $refill >= 1000000 THEN 1L ELSE 0L END)"
    Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("aggregate(transform(array_sort(collect_list(ts_us))," +
          " t -> array(t, 0L, 0L)), array(0L, 1500000L, 0L)," +
          s" $step)[2]").as("n_admitted"))
      .select(col("user_id"), col("n_events"), col("n_admitted"),
        (col("n_events") - col("n_admitted")).as("n_dropped"))
      .orderBy("user_id")
  }

  /** Interval-OVERLAP join — the missing member of the interval-join
    * family (asof = nearest point, theta_range = containment band;
    * this is set-vs-set overlap): which user sessions overlapped a
    * traffic burst, and for how long — the incident-impact query every
    * ops pipeline runs. Both interval sets derive in-plan (30-min-gap
    * sessions; mean+2σ hourly bursts, the q_events_bursts definition).
    * Scale shape: intervals explode into covered HOUR buckets and the
    * join is an EQUI-join on the bucket — never interval × interval —
    * with each true pair matched exactly once at the bucket of its
    * overlap start (= greatest of the two start hours, which both
    * sides provably cover) and a residual half-open overlap test.
    * Overlap lengths are exact integer micros summed as longs; the
    * seconds column is BIGINT/10⁶ (the decimal-contract form). */
  private val intervalOverlap: Q = (s, d) => {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(runW))
      .groupBy("user_id", "sess")
      .agg(min(col("ts_us")).as("s_us"), max(col("ts_us")).as("e_us"))
    val hourly = Tables.events(s, d)
      .groupBy(expr("(ts_ns div 1000) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
    val thr = hourly.agg(
      r6(avg(col("c")) + lit(2.0) *
        stddev_samp(col("c").cast("double"))).as("thr"))
    val wb = Window.orderBy("hr")
    val burstIv = hourly.crossJoin(broadcast(thr))
      .filter(col("c") > col("thr"))
      .withColumn("grp", col("hr") - row_number().over(wb))
      .groupBy("grp")
      .agg(min(col("hr")).as("b_start_hr"), max(col("hr")).as("b_end_hr"))
      .select(col("b_start_hr"), col("b_end_hr"),
        (col("b_start_hr") * 3600000000L).as("b_s_us"),
        ((col("b_end_hr") + 1) * 3600000000L).as("b_e_us"))
    // equi-join on the covered-hour bucket; h == greatest(start hours)
    // picks exactly ONE bucket per true pair (no post-join distinct)
    val sessB = sessions
      .withColumn("h", explode(expr(
        "sequence(s_us div 3600000000, e_us div 3600000000)")))
    val burstB = burstIv
      .withColumn("h", explode(expr("sequence(b_start_hr, b_end_hr)")))
    sessB.join(burstB, Seq("h"))
      .filter(col("h") === greatest(expr("s_us div 3600000000"),
        col("b_start_hr")))
      .withColumn("ov_us",
        least(col("e_us") + 1, col("b_e_us"))
          - greatest(col("s_us"), col("b_s_us")))
      .filter(col("ov_us") > 0)
      .groupBy("b_start_hr", "b_end_hr")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("ov_us")).as("overlap_us_sum"))
      .withColumn("overlap_s", col("overlap_us_sum") / lit(1000000.0))
      .orderBy("b_start_hr")
  }

  /** Purchase-churn snapshot: users who purchased in the body of the
    * window but not in its final week, with the churn rate among
    * early purchasers. Windows are integer epoch-day arithmetic
    * anchored on the corpus max day (no wall clock — replay-stable);
    * per-user flags come from one hash aggregate on user_id and the
    * anti-condition is a FILTERed count, not an anti join. */
  private val churn: Q = (s, d) => {
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("(ts_ns div 1000) div 86400000000").as("day_num"))
    val cutoff = p.agg((max(col("day_num")) - 6).as("cut"))
    p.crossJoin(broadcast(cutoff))
      .groupBy("user_id")
      .agg(count(when(col("day_num") < col("cut"), 1)).as("early"),
        count(when(col("day_num") >= col("cut"), 1)).as("late"))
      .filter(col("early") > 0)
      .agg(count(lit(1)).as("n_early_buyers"),
        count(when(col("late") === 0, 1)).as("n_churned"),
        r6(count(when(col("late") === 0, 1)).cast("double") /
          count(lit(1))).as("churn_rate"))
  }

  /** Rolling 7-day MEDIAN of daily revenue — medians cannot slide like
    * sums (q_events_rolling_7d's RANGE frame), so the correct
    * distributed shape is the day-spine band join (q_events_rolling_
    * uniques' pattern) with a percentile re-aggregate per target day.
    * Daily revenues are r2-rounded before the band join so the
    * interpolated median runs on identical doubles cross-engine. */
  private val rollingMedian: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)")
        .as("day_num"))
      .agg(r2(sum(col("o_totalprice"))).as("rev"))
    val spine = daily.select(col("day_num").as("day")).distinct()
    daily.join(broadcast(spine),
        col("day_num") >= col("day") - 6 && col("day_num") <= col("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_days"),
        r2(expr("percentile(rev, 0.5)")).as("med7"))
      .orderBy("day")
  }

  /** OHLC time-series resample: hourly bars per event_type. open/close
    * are the values at the bar's first/last event under exact
    * (µs, event_id) order — min_by/max_by over a zero-padded sortable
    * string key, so clock ties are broken deterministically and the bar
    * is replay-stable. high/low/volume are plain aggregates. ONE hash
    * aggregate, no window — the downsampling shape that stays linear
    * and shuffle-minimal at any scale (the classic alternative, a
    * row_number window per bar, would shuffle the same data but sort
    * it too). */
  private val ohlc: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("hr", expr("(ts_ns div 1000) div 3600000000"))
      .withColumn("k", concat(lpad(col("ts_us").cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 10, "0")))
      .groupBy("hr", "event_type")
      .agg(min_by(col("value"), col("k")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("k")).as("close"),
        count(lit(1)).as("n_events"),
        r2(sum(col("value"))).as("volume"))
      .orderBy("hr", "event_type")

  /** Seasonal-naive forecast backtest — the baseline every real
    * forecasting pipeline must beat, and the backtest harness that
    * proves it: forecast(day) = actual(day − 7), scored with MAE and
    * MAPE over every day that has a week-ago ancestor. The series is
    * the |days|-bounded daily census; the backtest join is a
    * broadcast-scale self-join on day−7. Counts are exact integers, so
    * MAE is exact to its one division; MAPE follows the r6 discipline. */
  private val forecastNaive: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(expr("(ts_ns div 1000) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    daily.select(col("day"), col("c").as("actual"))
      .join(daily.select((col("day") + 7).as("day"), col("c").as("fc")),
        Seq("day"))
      .agg(count(lit(1)).as("n_days"),
        r6(avg(abs(col("actual") - col("fc")))).as("mae"),
        r6(avg(abs(col("actual") - col("fc")).cast("double") /
          col("actual"))).as("mape"))
  }

  /** Gap-fill + linear interpolation of the hourly purchase-value
    * series — the time-series regularization every forecasting/feature
    * pipeline needs before a model sees the data. Hourly sums are one
    * hash aggregate (r2-rounded, round-then-interpolate); the spine is
    * sequence(min,max) over a 1-row aggregate; the four neighbor
    * columns (prev/next value + hour) come from TWO window passes
    * (IGNORE NULLS last/first) over the |hours|-bounded series — the
    * census-window argument, never a window over raw events. Edges are
    * closed (spine endpoints are observed), so the fill expression is
    * total. */
  private val interpolate: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("(ts_ns div 1000) div 3600000000").as("hr"))
      .agg(r2(sum(col("value"))).as("v"))
    val spine = hourly.agg(min("hr").as("lo"), max("hr").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hr"))
    val wPrev = Window.orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.orderBy("hr")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(hourly, Seq("hr"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("v").isNotNull, col("hr")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(when(col("v").isNotNull, col("hr")),
        ignoreNulls = true).over(wNext))
      .select(col("hr"),
        when(col("v").isNotNull, 1).otherwise(0).as("observed"),
        r6(when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("hr") - col("ph")).cast("double") /
            (col("nh") - col("ph")))).as("v_fill"))
      .orderBy("hr")
  }

  /** Growth accounting (the new / retained / resurrected / lapsing
    * split of daily purchase actives): each (user, day) active row is
    * classed by its neighbor active days — lag for how the user arrived
    * (first ever / consecutive / returned after a gap), lead for
    * whether they lapse after today. ONE shuffle on user_id for both
    * window functions, then a |days|-bounded hash aggregate; the
    * four FILTERed counts are the standard DAU growth decomposition
    * (new + retained + resurrected = DAU) at any scale. */
  private val growthAccounting: Q = (s, d) => {
    val uw = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("(ts_ns div 1000) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    uw.withColumn("pd", lag(col("day"), 1).over(w))
      .withColumn("nd", lead(col("day"), 1).over(w))
      .groupBy("day")
      .agg(
        count(when(col("pd").isNull, 1)).as("n_new"),
        count(when(col("pd") === col("day") - 1, 1)).as("n_retained"),
        count(when(col("pd").isNotNull && col("pd") < col("day") - 1, 1))
          .as("n_resurrected"),
        count(when(col("nd").isNull || col("nd") > col("day") + 1, 1))
          .as("n_lapsing"))
      .orderBy("day")
  }

  /** Weekly cohort LTV curves: cumulative purchase revenue per user by
    * (signup-week cohort, weeks since signup) — the revenue companion
    * to q_events_retention's user counts. Per-user first week and the
    * per-(cohort, week) revenue are both single hash aggregates; the
    * cumulative sum runs over the |weeks|²-bounded cohort matrix
    * (census-window argument) in deterministic wo order on r2-rounded
    * cells, and cohort sizes broadcast back. */
  private val cohortLtv: Q = (s, d) => {
    val week = "(ts_ns div 1000) div 604800000000"
    val fe = Tables.events(s, d).groupBy("user_id")
      .agg(min(expr(week)).as("cw"))
    val pur = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(week).as("wk"), col("value"))
    val co = fe.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val wr = pur.join(fe, "user_id")
      .groupBy(col("cw"), col("wk"))
      .agg(r2(sum(col("value"))).as("rev"))
      .select(col("cw"), (col("wk") - col("cw")).as("wo"), col("rev"))
    val w = Window.partitionBy("cw").orderBy("wo")
    wr.withColumn("cum_rev", sum(col("rev")).over(w))
      .join(broadcast(co), "cw")
      .select(col("cw").as("cohort_week"), col("wo").as("week_offset"),
        col("n_users"), r6(col("cum_rev") / col("n_users")).as("ltv"))
      .orderBy("cohort_week", "week_offset")
  }

  /** DuckDB-side decoder for an n-hex-char md5 prefix of column ref `h`
    * (the general form of RelationalOps.hexValSql, which is fixed at 15). */
  private def hexValSqlN(n: Int, h: String): String =
    (0 until n).map { i =>
      val w = 1L << (4 * (n - 1 - i))
      s"(CAST(strpos('0123456789abcdef', substring($h, ${i + 1}, 1)) AS BIGINT) - 1) * $w"
    }.mkString(" + ")

  /** Watermark-design audit — the measurement a streaming pipeline needs
    * BEFORE choosing `withWatermark`: replay the event log in simulated
    * arrival order (arrival = event time + a deterministic md5-derived
    * network delay in [0, 120 s) — the corpus itself is generated fully
    * time-sorted, so disorder is injected, reproducibly) and bucket each
    * event's observed lateness `watermark_at_arrival − event_time`.
    * The running `max(event_time) so far in arrival order` is exactly
    * Spark's watermark function, computed scale-safely by
    * Dist.withPrefixMaxLong (range shuffle + per-partition partials +
    * broadcast prefix maxima — never a single-partition window). The
    * output histogram (on-time / ≤1 s / ≤10 s / ≤60 s / ≤120 s / over)
    * is a bounded hash aggregate; its cumulative form reads off the drop
    * rate of any candidate watermark delay. All integer µs arithmetic. */
  private val lateness: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("jit_us", expr(
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 120000000"))
      .select(col("event_id"), col("ts_us"),
        (col("ts_us") + col("jit_us")).as("arr_us"))
    val wm = Dist.withPrefixMaxLong(ev, "wm_us", col("ts_us"),
      Seq(col("arr_us"), col("event_id")))
    val buckets = wm.withColumn("late_us", col("wm_us") - col("ts_us"))
      .withColumn("bucket_id",
        when(col("late_us") === 0L, 0)
          .when(col("late_us") <= 1000000L, 1)
          .when(col("late_us") <= 10000000L, 2)
          .when(col("late_us") <= 60000000L, 3)
          .when(col("late_us") <= 120000000L, 4)
          .otherwise(5))
      .groupBy("bucket_id")
      .agg(count(lit(1)).as("n"), max(col("late_us")).as("max_late_us"))
    // n_tot = Σn over the ≤6-row bucket census — the separate corpus
    // count + crossJoin was one MORE pass over the watermark frame for
    // a total the census already carries. Driver fold (round 9); exact
    // longs, same r6 pin. Oracle unchanged.
    val bs = buckets.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nTot = bs.map(_._2).sum
    import s.implicits._
    bs.toSeq.map { case (b, n, mx) => (b, n, graft.Par.r6d(n / nTot.toDouble), mx) }
      .toDF("bucket_id", "n", "pct", "max_late_us")
      .orderBy("bucket_id")
  }

  /** Per-user consecutive-active-day streaks (gaps-and-islands): distinct
    * active days → island id = day_num − row_number (constant within each
    * run of consecutive days) → per-island length → per-user summary.
    * Every window partitions by user_id — the natural per-entity shuffle
    * key, never a global window — so the plan holds at 100 TB. */
  private val streaks: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("day_num")
    Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day_num"))
      .distinct()
      .withColumn("isl", col("day_num") - row_number().over(w))
      .groupBy("user_id", "isl")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum(col("len")).as("active_days"),
        max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** Peak concurrent sessions per day, by interval sweep-line: sessionize
    * (30-min gap, same law as q_stream_session), emit ±1 boundary events,
    * exact global running sum over (time, −delta) via the distributed
    * prefix-sum primitive (range shuffle + broadcast offsets — no
    * single-partition window), then a per-day max. Ties at one instant
    * count starts before ends (inclusive-interval overlap); rows with
    * identical (t, delta) are interchangeable under the running sum, so
    * the per-day max is order-deterministic. */
  private val concurrency: Q = (s, d) => {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // eager localCheckpoint (round 12, guide §2.2): the ±1 boundary
    // union below references sess TWICE (start rows + end rows), so the
    // unmaterialized form ran the events scan + the two sessionizing
    // windows + the session aggregate once PER SIDE. One events pass
    // now; the pinned frame is |sessions|-bounded.
    val sess = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("new_sess",
        when(lag(col("ts_us"), 1).over(w).isNull, 1L)
          .when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(runW))
      .groupBy("user_id", "sess")
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      .localCheckpoint()
    val bounds = sess
      .select(col("start_us").as("t_us"), lit(1L).as("delta"))
      .unionAll(sess.select(col("end_us").as("t_us"), lit(-1L).as("delta")))
    Dist.withPrefixSumsLong(bounds, Seq(("running", col("delta"))),
        Seq(col("t_us"), col("delta").desc))
      .withColumn("day_num", expr("t_us div 86400000000"))
      .groupBy("day_num")
      .agg(max(col("running")).as("peak"),
        sum(when(col("delta") > 0, 1L).otherwise(0L)).as("n_starts"))
      .orderBy("day_num")
  }

  /** Misra-Gries (Frequent) candidate pass, run per partition: a map of
    * at most `cap` counters; an incoming item either increments its
    * counter, claims a free slot, or decrements every live counter
    * (dropping zeros). Classic guarantee: any item whose true partition
    * count exceeds N_p/cap survives the pass. Across partitions, an item
    * with GLOBAL count > N/cap must exceed N_p/cap in at least one
    * partition (pigeonhole), so the UNION of per-partition candidate
    * sets is a complete superset of the global heavy hitters — no
    * counter merging needed when a cheap exact second pass follows. */
  private[graft] def mgCandidates[T](cap: Int)(it: Iterator[T]): Iterator[T] = {
    val m = scala.collection.mutable.HashMap.empty[T, Long]
    it.foreach { x =>
      m.get(x) match {
        case Some(c) => m(x) = c + 1
        case None if m.size < cap => m(x) = 1L
        case None =>
          // decrement-all: each stored count unit is spent at most once,
          // so total decrement work is amortized O(1) per input item.
          val dead = m.iterator.filter(_._2 == 1L).map(_._1).toList
          dead.foreach(m.remove)
          m.mapValuesInPlace((_, c) => c - 1)
      }
    }
    m.keysIterator
  }

  /** Provable heavy hitters over user activity — the mergeable-sketch
    * shape for "who dominates the stream" at 100 TB: a per-partition
    * Misra-Gries(256) pass reduces the raw stream to ≤256 candidate ids
    * per partition WITHOUT a shuffle (the union of partition summaries
    * is a complete superset of every user with count > N/256 — see
    * mgCandidates), then one exact count pass over the semi-joined
    * stream verifies candidates and keeps exactly those above the
    * guarantee threshold. The emitted set is therefore EXACT (all and
    * only the >N/256 users, with exact counts) regardless of sketch
    * internals — which is what makes it oracle-checkable; the sketch
    * only bounds the shuffle to candidates. Eviction behavior under
    * skew is pinned separately in EventsR6Spec on a synthetic stream. */
  private val heavyHitters: Q = (s, d) => {
    import s.implicits._
    val cap = 256
    val ev = Tables.events(s, d)
    val cands = ev.select(col("user_id")).as[Long]
      .mapPartitions(mgCandidates[Long](cap))
      .toDF("user_id").distinct()
    // the guarantee threshold needs ONE number (stream length) — a
    // bounded driver census. A/B'd round 11: job count ties (7) —
    // the old crossJoin(broadcast(agg)) pair was also a separate
    // events pass — kept for the simpler plan (no broadcast exchange;
    // count() is metadata-cheap)
    val nTotal = ev.count()
    ev.join(cands, Seq("user_id"), "left_semi")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * cap > lit(nTotal))
      .select(col("user_id"), col("cnt"),
        r6(col("cnt").cast("double") / lit(nTotal)).as("share"))
      .orderBy(col("cnt").desc, col("user_id"))
  }

  /** Daily + whole-corpus distinct users via 32-bit-word bitmap algebra —
    * the Druid/ClickHouse pattern that replaces countDistinct's row
    * expansion with mergeable integer words: user u sets bit (u mod 32)
    * of word (u div 32); per-(day, word) bit_or is a map-side-combinable
    * hash aggregate; popcount sums give exact daily uniques, and the
    * SAME day-level words re-merge (bit_or again) into the whole-corpus
    * count — demonstrating why bitmap distinct is re-aggregable where
    * daily countDistinct results are not additive. 32-bit words (not
    * 64) because a 1<<63 shift overflows the oracle engine's BIGINT;
    * width only changes the word census, not the algebra. Emitted as
    * per-day rows plus a day=-1 corpus row. */
  private val bitmapDistinct: Q = (s, d) => {
    val words = Tables.events(s, d)
      .select(expr("(ts_ns div 1000) div 86400000000").as("day"),
        expr("user_id div 32").as("w"),
        expr("shiftleft(1L, CAST(user_id % 32 AS INT))").as("m"))
      .groupBy("day", "w").agg(expr("bit_or(m)").as("bm"))
    val daily = words.groupBy("day")
      .agg(sum(expr("CAST(bit_count(bm) AS BIGINT)")).as("uniques"),
        count(lit(1)).as("n_words"))
    val corpus = words.groupBy("w").agg(expr("bit_or(bm)").as("bm"))
      .agg(sum(expr("CAST(bit_count(bm) AS BIGINT)")).as("uniques"),
        count(lit(1)).as("n_words"))
      .select(lit(-1L).as("day"), col("uniques"), col("n_words"))
    daily.unionAll(corpus).orderBy("day")
  }

  /** Holt double-exponential smoothing (level + trend, α=0.5, β=0.25)
    * of the daily count series, with a 7-day-ahead linear forecast —
    * the trend-aware upgrade of q_stats_ewma (which cannot track a
    * drifting mean) and of q_events_forecast_naive (which has no
    * model at all). A recursive smoother has unbounded memory of the
    * past, so cross-engine parity comes from the survival/kruskal
    * discipline: the |days|-bounded daily census folds SEQUENTIALLY in
    * day order through ONE aggregate() whose update expression is the
    * same text the oracle replays as a recursive CTE — bit-identical
    * doubles, r6 only at the output boundary. Init l₁=y₁, b₁=0;
    * constants written CAST(0.5 AS DOUBLE) in both engines because a
    * bare 0.5 literal is DECIMAL in the oracle engine (the ewma
    * lesson). Forecast rows carry c=-1 and fit = lₙ + h·bₙ. */
  private val holt: Q = (s, d) => holtWithForecast(s, d)

  /** The Holt fold's 1-row frame: acc.tr = per-day trace (day, c, l, b,
    * fit) where fit is the ONE-STEP-AHEAD prediction from the strict
    * prefix — which is what makes the trace directly reusable as a
    * rolling-origin backtest (q_eval_holt_backtest) without retraining
    * per cutoff. */
  private def holtFolded(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("(ts_ns div 1000) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val lNew = "CAST(0.5 AS DOUBLE) * x.c" +
      " + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)"
    val bNew = s"CAST(0.25 AS DOUBLE) * (($lNew) - acc.l)" +
      " + CAST(0.75 AS DOUBLE) * acc.b"
    val rowT = "STRUCT<day: BIGINT, c: BIGINT, l: DOUBLE, b: DOUBLE," +
      " fit: DOUBLE>"
    val folded = daily.agg(expr(
      s"""aggregate(
            array_sort(collect_list(struct(day, c))),
            named_struct('l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE),
              'i', CAST(0 AS BIGINT),
              'tr', CAST(array() AS ARRAY<$rowT>)),
            (acc, x) -> CASE WHEN acc.i = 0 THEN named_struct(
                'l', CAST(x.c AS DOUBLE), 'b', CAST(0 AS DOUBLE),
                'i', CAST(1 AS BIGINT),
                'tr', array(named_struct('day', x.day, 'c', x.c,
                  'l', CAST(x.c AS DOUBLE), 'b', CAST(0 AS DOUBLE),
                  'fit', CAST(x.c AS DOUBLE))))
              ELSE named_struct(
                'l', $lNew, 'b', $bNew, 'i', acc.i + 1,
                'tr', concat(acc.tr, array(named_struct('day', x.day,
                  'c', x.c, 'l', $lNew, 'b', $bNew,
                  'fit', acc.l + acc.b))))
              END)""").as("acc"))
    folded
  }

  private def holtWithForecast(s: SparkSession, d: String): DataFrame = {
    val folded = holtFolded(s, d)
    val trace = folded
      .select(explode(col("acc.tr")).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("c"),
        r6(col("r.l")).as("level"), r6(col("r.b")).as("trend"),
        r6(col("r.fit")).as("fit"))
    val fc = folded.select(explode(expr(
        "transform(sequence(1, 7), h -> named_struct(" +
          "'day', element_at(acc.tr, -1).day + h," +
          " 'c', CAST(-1 AS BIGINT), 'l', acc.l, 'b', acc.b," +
          " 'fit', acc.l + h * acc.b))")).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("c"),
        r6(col("r.l")).as("level"), r6(col("r.b")).as("trend"),
        r6(col("r.fit")).as("fit"))
    trace.unionAll(fc).orderBy("day")
  }

  /** Rolling-origin forecast backtest — the model-selection eval that
    * tells you whether the Holt smoother actually beats the seasonal-
    * naive baseline on THIS series, instead of assuming it: for every
    * day t ≥ 8 the Holt one-step prediction (the fold's fit(t) — by
    * construction trained only on the strict prefix, so NO retraining
    * per cutoff) and the week-ago-naive c(t−7) are scored against the
    * actual. One census-bounded self-join on day−7 + one final
    * aggregate; identical-text MAE/MAPE double expressions. */
  private val holtBacktest: Q = (s, d) => {
    val trace = holtFolded(s, d)
      .select(explode(col("acc.tr")).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("c"),
        col("r.fit").as("fit"))
    val hw = hwFolded(s, d)
      .select(explode(col("acc.tr")).as("r"))
      .select(col("r.day").as("day"), col("r.fit").as("hw_fit"))
    val naive = trace.select((col("day") + 7).as("day"),
      col("c").as("naive7"))
    trace.join(naive, Seq("day")).join(hw, Seq("day"))
      .agg(count(lit(1)).as("n_days"),
        r6(avg(abs(col("c") - col("fit")))).as("mae_holt"),
        r6(avg(abs(col("c") - col("hw_fit")))).as("mae_hw"),
        r6(avg(abs((col("c") - col("naive7")).cast("double"))))
          .as("mae_naive"),
        r6(avg(abs(col("c") - col("fit")) / col("c")))
          .as("mape_holt"),
        r6(avg(abs(col("c") - col("hw_fit")) / col("c")))
          .as("mape_hw"),
        r6(avg(abs((col("c") - col("naive7")).cast("double"))
          / col("c"))).as("mape_naive"))
  }

  /** Sequential-pattern support for consecutive event-type bigrams —
    * the pattern-mining complement of q_events_markov: markov
    * row-normalizes TRANSITION COUNTS (how often), support counts
    * DISTINCT USERS exhibiting the sequence (how widespread) — the
    * SPADE/PrefixSpan "support" semantics at pattern length 2.
    * Consecutive pairs come from one lag over the (user_id)-partitioned
    * stream (the natural shuffle key); support shares divide by the
    * total-user census via one broadcast row. Integer-exact until the
    * final r6 share. */
  private val seqSupport: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val pairs = Tables.events(s, d)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("a", lag(col("event_type"), 1).over(w))
      .filter(col("a").isNotNull)
      .select(col("user_id"), col("a"), col("event_type").as("b"))
    val totalUsers = Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("n_users_total"))
    pairs.groupBy("a", "b")
      .agg(count(lit(1)).as("n_trans"),
        countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(totalUsers))
      .select(col("a"), col("b"), col("n_trans"), col("n_users"),
        r6(col("n_users").cast("double") / col("n_users_total"))
          .as("support"))
      .orderBy(col("n_trans").desc, col("a"), col("b"))
  }

  /** Stationary distribution of the event-type Markov chain — where
    * q_events_markov reports the one-step transition matrix, this
    * power-iterates π' = πP to the long-run occupancy (4 rounds from
    * uniform — the chain is 5-state, aperiodic and well-mixed, so 4
    * rounds converge to r6 resolution; the iteration count is part of
    * the declared semantics, the pagerank discipline). P is r6-pinned
    * BEFORE iterating and each π is r6-pinned per round, so both
    * engines replay identical doubles; the 5-term mix Σπ(i)p(i,j)
    * folds sequentially in source order (kruskal discipline). All
    * frames are |types|²-bounded after one linear lag pass. */
  private val markovStationary: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(expr("ts_ns div 1000"), col("event_id"))
    val wSrc = Window.partitionBy("a")
    // The transition matrix P is |types|²-bounded (≤25 cells — the type
    // DOMAIN is a constant, not data-scaled), so the 4 power iterations
    // run DRIVER-SIDE on the collected census (the MMR/cluster-purity
    // k-bounded pattern): ONE corpus lag pass + one collect, where the
    // round-8 form re-planned a join + sorted-fold aggregate per
    // iteration (14 jobs for 25 cells). The fold replays the previous
    // SQL exactly — per-target terms sorted by source state, same
    // r6-pinned doubles each round — so the oracle hash is unchanged.
    val pr = Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("a"),
        col("ts_ns"), col("event_id"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .withColumn("p", r6(col("n") / sum(col("n")).over(wSrc)))
      .select("a", "b", "p")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // init weight derived from the data (ADVICE r6): 1/|distinct source
    // states|, not a hardcoded 1/5 — on data where an event type never
    // appears as a transition source, a literal 1/5 init would not be a
    // distribution (and both engines would agree, so the oracle could
    // not catch it). Same derivation in the oracle SQL.
    val states = pr.map(_._1).distinct
    var pi: Map[String, Double] =
      states.map(_ -> 1.0 / states.length).toMap
    for (_ <- 1 to 4)
      pi = pr.filter(t => pi.contains(t._1)).groupBy(_._2).map {
        case (t2, ts) =>
          t2 -> graft.Par.r6d(ts.sortBy(_._1).foldLeft(0.0) { (acc, x) =>
            acc + pi(x._1) * x._3
          })
      }
    import s.implicits._
    pi.toSeq.sortBy(_._1)
      .map { case (t, v) => (t, v, 4L) }
      .toDF("event_type", "pi", "n_iter")
      .orderBy("event_type")
  }

  /** Time-bounded funnel census (the windowFunnel semantics): how deep
    * into signup→click→purchase does each user get INSIDE a 30-minute
    * window anchored at a signup? Differs from q_events_funnel (whole-
    * period ordering, no deadline) — this is the activation-flow
    * metric. Greedy-earliest chaining (first qualifying click after
    * the anchor, then first purchase after that click) is depth-
    * optimal for a chain — taking the earliest step can only extend
    * the remaining window — so max depth per user is exact. All joins
    * are user-keyed equi joins with band residuals (never cartesian);
    * integer µs arithmetic; the census is |depths|-bounded. */
  private val windowFunnel: Q = (s, d) => {
    val bandUs = 30L * 60 * 1000000
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
    def step(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val s1 = step("signup")
      .select(col("user_id"), col("event_id").as("s_id"),
        col("ts_us").as("s_us"))
    val c1 = s1.join(step("click")
        .select(col("user_id"), col("ts_us").as("c_us")), Seq("user_id"))
      .filter(col("c_us") > col("s_us") &&
        col("c_us") <= col("s_us") + bandUs)
      .groupBy("user_id", "s_id", "s_us")
      .agg(min(col("c_us")).as("c1_us"))
    val p1 = c1.join(step("purchase")
        .select(col("user_id"), col("ts_us").as("p_us")), Seq("user_id"))
      .filter(col("p_us") > col("c1_us") &&
        col("p_us") <= col("s_us") + bandUs)
      .groupBy("user_id", "s_id").agg(min(col("p_us")).as("p1_us"))
    // depth per anchor = how many of {signup, first-click, first-
    // purchase} exist for the anchor = a count over the union of the
    // three stage frames (c1/p1 each carry ≤1 row per s_id), keyed by
    // s_id — ONE hash aggregate instead of the previous two left joins
    // (round 10; user_id rides along as a constant per anchor)
    val depthPerAnchor = s1.select(col("user_id"), col("s_id"))
      .unionAll(c1.select(col("user_id"), col("s_id")))
      .unionAll(p1.select(col("user_id"), col("s_id")))
      .groupBy("s_id")
      .agg(max(col("user_id")).as("user_id"),
        count(lit(1)).as("depth"))
      .select(col("user_id"), col("depth"))
    val perUser = Tables.events(s, d).select("user_id").distinct()
      .join(depthPerAnchor.groupBy("user_id")
        .agg(max(col("depth")).as("depth")), Seq("user_id"), "left")
      .select(coalesce(col("depth"), lit(0L)).as("depth"))
    // n_total = Σ n_users by construction (every user appears exactly
    // once in perUser), so the share denominator comes from a window
    // over the ≤4-row depth census — round 10: the previous
    // crossJoin(broadcast(agg)) form evaluated the whole s1/c1/p1
    // upstream TWICE (once per action on perUser) and paid a broadcast
    // QueryStage job; this is one pass, one subtree (15 → 7 jobs).
    // Partition-less window over a |depths|-bounded census: the
    // declared census-window allowance.
    val census = perUser.groupBy("depth").agg(count(lit(1)).as("n_users"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    census
      .withColumn("n_total", sum(col("n_users")).over(wAll))
      .select(col("depth"), col("n_users"),
        r6(col("n_users").cast("double") / col("n_total")).as("share"))
      .orderBy("depth")
  }

  /** Shared recursive-CTE chain replaying the Holt fold (daily census →
    * rn-ordered recursion carrying level/trend/one-step fit) — used by
    * the forecast oracle and the rolling-origin backtest oracle. */
  private val holtRecCtes: String =
    """WITH RECURSIVE daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         ds AS (SELECT day, c,
                       CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                         AS rn
                FROM daily),
         rec(rn, day, c, l, b, fit) AS (
           SELECT rn, day, c, CAST(c AS DOUBLE), CAST(0 AS DOUBLE),
                  CAST(c AS DOUBLE)
           FROM ds WHERE rn = 1
           UNION ALL
           SELECT d.rn, d.day, d.c,
                  CAST(0.5 AS DOUBLE) * d.c
                    + CAST(0.5 AS DOUBLE) * (r.l + r.b),
                  CAST(0.25 AS DOUBLE)
                    * ((CAST(0.5 AS DOUBLE) * d.c
                        + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
                    + CAST(0.75 AS DOUBLE) * r.b,
                  r.l + r.b
           FROM rec r JOIN ds d ON d.rn = r.rn + 1)"""

  /** Holt-Winters update expressions, generated ONCE and instantiated
    * into both engines (Spark fold: st="acc", x*="x.*"; oracle
    * recursion: st="r", x*="d.*") — zero formula drift by construction.
    * Additive weekly seasonality indexed by ABSOLUTE epoch-day mod 7
    * (engine-stable, no calendar call); the 7 seasonal slots are
    * SCALAR fields s0..s6 because the oracle engine's list lambdas
    * carry no index parameter. α=0.5, β=γ=0.25 as CAST-to-DOUBLE
    * literals. */
  private def hwSIdx(st: String, dayExpr: String): String =
    s"(CASE $dayExpr % 7" +
      (0 to 5).map(i => s" WHEN $i THEN $st.s$i").mkString +
      s" ELSE $st.s6 END)"
  private def hwExprs(st: String, xDay: String, xC: String)
      : (String, String, Int => String, String) = {
    val sidx = hwSIdx(st, xDay)
    val lNew = s"(CAST(0.5 AS DOUBLE) * ($xC - $sidx)" +
      s" + CAST(0.5 AS DOUBLE) * ($st.l + $st.b))"
    val bNew = s"(CAST(0.25 AS DOUBLE) * ($lNew - $st.l)" +
      s" + CAST(0.75 AS DOUBLE) * $st.b)"
    val sNew: Int => String = i =>
      s"CASE WHEN $xDay % 7 = $i THEN CAST(0.25 AS DOUBLE)" +
        s" * ($xC - $lNew) + CAST(0.75 AS DOUBLE) * $sidx" +
        s" ELSE $st.s$i END"
    val fit = s"($st.l + $st.b + $sidx)"
    (lNew, bNew, sNew, fit)
  }

  /** The Holt-Winters recursion CTE (shares daily/ds with
    * holtRecCtes). */
  private val hwRecCte: String = {
    val (lNew, bNew, sNew, fit) = hwExprs("r", "d.day", "d.c")
    s"""hwrec(rn, day, c, l, b, ${(0 to 6).map("s" + _).mkString(", ")},
           seas, fit) AS (
         SELECT rn, day, c, CAST(c AS DOUBLE), CAST(0 AS DOUBLE),
                ${(0 to 6).map(_ => "CAST(0 AS DOUBLE)").mkString(", ")},
                CAST(0 AS DOUBLE), CAST(c AS DOUBLE)
         FROM ds WHERE rn = 1
         UNION ALL
         SELECT d.rn, d.day, d.c, $lNew, $bNew,
                ${(0 to 6).map(sNew).mkString(",\n                ")},
                ${hwSIdx("r", "d.day")}, $fit
         FROM hwrec r JOIN ds d ON d.rn = r.rn + 1)"""
  }

  /** Holt-Winters triple exponential smoothing (level + trend +
    * additive weekly seasonality) — the model the backtest says this
    * series actually needs: q_eval_holt_backtest shows seasonal-naive
    * beating plain Holt (MAE 13.0 vs 15.0 at sf0.01) because the
    * engineered corpus is weekly-periodic, which level+trend cannot
    * represent. Same sequential-fold discipline as holt (one identical
    * update text in both engines via hwExprs, r6 only at the output
    * boundary); trace rows carry the seasonal component used by each
    * one-step fit; 7 forecast rows extend the last state with
    * l + h·b + s[(day+h) mod 7]. */
  // def, not val: this block sits below the `queries` map in
  // object-initialization order, so a val would be captured as null
  private def holtWinters: Q = (s, d) => {
    val folded = hwFolded(s, d)
    val trace = folded
      .select(explode(col("acc.tr")).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("c"),
        r6(col("r.l")).as("level"), r6(col("r.b")).as("trend"),
        r6(col("r.seas")).as("seasonal"), r6(col("r.fit")).as("fit"))
    val fcFit = s"acc.l + h * acc.b + " +
      hwSIdx("acc", "(element_at(acc.tr, -1).day + h)")
    val fc = folded.select(explode(expr(
        "transform(sequence(1, 7), h -> named_struct(" +
          "'day', element_at(acc.tr, -1).day + h," +
          " 'c', CAST(-1 AS BIGINT), 'l', acc.l, 'b', acc.b," +
          s" 'seas', ${hwSIdx("acc", "(element_at(acc.tr, -1).day + h)")}," +
          s" 'fit', $fcFit))")).as("r"))
      .select(col("r.day").as("day"), col("r.c").as("c"),
        r6(col("r.l")).as("level"), r6(col("r.b")).as("trend"),
        r6(col("r.seas")).as("seasonal"), r6(col("r.fit")).as("fit"))
    trace.unionAll(fc).orderBy("day")
  }

  /** The HW fold's 1-row frame (acc.l/b/s0..s6 + per-day trace). */
  private def hwFolded(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(expr("(ts_ns div 1000) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
    val (lNew, bNew, sNew, fit) = hwExprs("acc", "x.day", "x.c")
    val rowT = "STRUCT<day: BIGINT, c: BIGINT, l: DOUBLE, b: DOUBLE," +
      " seas: DOUBLE, fit: DOUBLE>"
    val zeroS = (0 to 6).map(i => s"'s$i', CAST(0 AS DOUBLE)")
      .mkString(", ")
    val carryS = (0 to 6).map(i => s"'s$i', ${sNew(i)}").mkString(", ")
    daily.agg(expr(
      s"""aggregate(
            array_sort(collect_list(struct(day, c))),
            named_struct('l', CAST(0 AS DOUBLE), 'b', CAST(0 AS DOUBLE),
              $zeroS, 'i', CAST(0 AS BIGINT),
              'tr', CAST(array() AS ARRAY<$rowT>)),
            (acc, x) -> CASE WHEN acc.i = 0 THEN named_struct(
                'l', CAST(x.c AS DOUBLE), 'b', CAST(0 AS DOUBLE),
                $zeroS, 'i', CAST(1 AS BIGINT),
                'tr', array(named_struct('day', x.day, 'c', x.c,
                  'l', CAST(x.c AS DOUBLE), 'b', CAST(0 AS DOUBLE),
                  'seas', CAST(0 AS DOUBLE), 'fit', CAST(x.c AS DOUBLE))))
              ELSE named_struct(
                'l', $lNew, 'b', $bNew, $carryS, 'i', acc.i + 1,
                'tr', concat(acc.tr, array(named_struct('day', x.day,
                  'c', x.c, 'l', $lNew, 'b', $bNew,
                  'seas', ${hwSIdx("acc", "x.day")}, 'fit', $fit))))
              END)""").as("acc"))
  }

  /** One πP oracle iteration (markovStationary): prev CTE name → next
    * select, replaying the r6-per-round sequential mix fold. */
  private def piIterSql(prev: String): String =
    s"""SELECT p.b AS t,
           floor(list_reduce(list($prev.pi * p.p ORDER BY p.a),
                   (acc, v) -> acc + v) * 1000000 + 0.5) / 1000000.0
             AS pi
        FROM p JOIN $prev ON p.a = $prev.t GROUP BY p.b"""

  val declared: Seq[Query] = Seq(
    Query("q_events_window_funnel", windowFunnel,
      """WITH ev AS (SELECT user_id, event_id, event_type,
                            epoch_us(ts) AS ts_us
                     FROM events),
         s1 AS (SELECT user_id, event_id AS s_id, ts_us AS s_us
                FROM ev WHERE event_type = 'signup'),
         c1 AS (SELECT s1.user_id, s_id, s_us,
                       min(c.ts_us) AS c1_us
                FROM s1 JOIN ev c ON c.user_id = s1.user_id
                  AND c.event_type = 'click'
                  AND c.ts_us > s_us AND c.ts_us <= s_us + 1800000000
                GROUP BY s1.user_id, s_id, s_us),
         p1 AS (SELECT c1.user_id, s_id, min(p.ts_us) AS p1_us
                FROM c1 JOIN ev p ON p.user_id = c1.user_id
                  AND p.event_type = 'purchase'
                  AND p.ts_us > c1_us AND p.ts_us <= s_us + 1800000000
                GROUP BY c1.user_id, s_id),
         da AS (SELECT s1.user_id,
                       1 + (CASE WHEN c1.s_id IS NOT NULL THEN 1 ELSE 0
                            END)
                         + (CASE WHEN p1.s_id IS NOT NULL THEN 1 ELSE 0
                            END) AS depth
                FROM s1
                LEFT JOIN c1 ON c1.s_id = s1.s_id
                LEFT JOIN p1 ON p1.s_id = s1.s_id),
         pu AS (SELECT u.user_id,
                       CAST(coalesce(mx.depth, 0) AS BIGINT) AS depth
                FROM (SELECT DISTINCT user_id FROM ev) u
                LEFT JOIN (SELECT user_id, max(depth) AS depth
                           FROM da GROUP BY user_id) mx
                  ON mx.user_id = u.user_id),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pu)
         SELECT depth, CAST(count(*) AS BIGINT) AS n_users,
                floor((CAST(count(*) AS DOUBLE) / n_total)
                  * 1000000 + 0.5) / 1000000.0 AS share
         FROM pu CROSS JOIN tot
         GROUP BY depth, n_total ORDER BY depth""", cap = 14)
      .allowGlobalWindow("<= 4-row depth census"),
    Query("q_events_markov_stationary", markovStationary,
      s"""WITH pr AS (
           SELECT user_id, event_type AS a,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS b
           FROM events),
         cnt AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
                 FROM pr WHERE b IS NOT NULL GROUP BY a, b),
         p AS (SELECT a, b,
                      floor((CAST(n AS DOUBLE)
                             / sum(n) OVER (PARTITION BY a))
                        * 1000000 + 0.5) / 1000000.0 AS p
               FROM cnt),
         pi0 AS (SELECT DISTINCT a AS t,
                        CAST(1.0 AS DOUBLE)
                          / (SELECT count(DISTINCT a) FROM p) AS pi
                 FROM p),
         pi1 AS (${piIterSql("pi0")}),
         pi2 AS (${piIterSql("pi1")}),
         pi3 AS (${piIterSql("pi2")}),
         pi4 AS (${piIterSql("pi3")})
         SELECT t AS event_type, pi, CAST(4 AS BIGINT) AS n_iter
         FROM pi4 ORDER BY event_type""", cap = 8),
    Query("q_events_seq_support", seqSupport,
      """WITH p AS (
           SELECT user_id,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS a,
                  event_type AS b
           FROM events),
         tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                   AS n_users_total FROM events),
         g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_trans,
                      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
               FROM p WHERE a IS NOT NULL GROUP BY a, b)
         SELECT a, b, n_trans, n_users,
                floor((CAST(n_users AS DOUBLE) / n_users_total)
                  * 1000000 + 0.5) / 1000000.0 AS support
         FROM g CROSS JOIN tot
         ORDER BY n_trans DESC, a, b"""),
    Query("q_events_holt", holt,
      s"""$holtRecCtes,
         lastrow AS (SELECT day, l, b FROM rec
                     WHERE rn = (SELECT max(rn) FROM rec)),
         fc AS (SELECT lastrow.day + h.h AS day,
                       CAST(-1 AS BIGINT) AS c,
                       lastrow.l AS l, lastrow.b AS b,
                       lastrow.l + h.h * lastrow.b AS fit
                FROM lastrow CROSS JOIN
                  (SELECT unnest(generate_series(1, 7)) AS h) h)
         SELECT day, c,
                floor(l * 1000000 + 0.5) / 1000000.0 AS level,
                floor(b * 1000000 + 0.5) / 1000000.0 AS trend,
                floor(fit * 1000000 + 0.5) / 1000000.0 AS fit
         FROM (SELECT day, c, l, b, fit FROM rec
               UNION ALL SELECT * FROM fc)
         ORDER BY day"""),
    Query("q_eval_holt_backtest", holtBacktest,
      s"""$holtRecCtes,
         $hwRecCte,
         naive AS (SELECT day + 7 AS day, c AS naive7 FROM rec),
         j AS (SELECT r.day, r.c, r.fit, h.fit AS hw_fit, n.naive7
               FROM rec r
               JOIN naive n ON n.day = r.day
               JOIN hwrec h ON h.day = r.day)
         SELECT CAST(count(*) AS BIGINT) AS n_days,
                floor(avg(abs(c - fit)) * 1000000 + 0.5) / 1000000.0
                  AS mae_holt,
                floor(avg(abs(c - hw_fit)) * 1000000 + 0.5) / 1000000.0
                  AS mae_hw,
                floor(avg(abs(CAST(c - naive7 AS DOUBLE)))
                  * 1000000 + 0.5) / 1000000.0 AS mae_naive,
                floor(avg(abs(c - fit) / c) * 1000000 + 0.5)
                  / 1000000.0 AS mape_holt,
                floor(avg(abs(c - hw_fit) / c) * 1000000 + 0.5)
                  / 1000000.0 AS mape_hw,
                floor(avg(abs(CAST(c - naive7 AS DOUBLE)) / c)
                  * 1000000 + 0.5) / 1000000.0 AS mape_naive
         FROM j"""),
    Query("q_events_holt_winters", holtWinters,
      s"""$holtRecCtes,
         $hwRecCte,
         lastrow AS (SELECT * FROM hwrec
                     WHERE rn = (SELECT max(rn) FROM hwrec)),
         fc AS (SELECT lastrow.day + h.h AS day,
                       CAST(-1 AS BIGINT) AS c,
                       lastrow.l AS l, lastrow.b AS b,
                       ${hwSIdx("lastrow", "(lastrow.day + h.h)")}
                         AS seas,
                       lastrow.l + h.h * lastrow.b
                         + ${hwSIdx("lastrow", "(lastrow.day + h.h)")}
                         AS fit
                FROM lastrow CROSS JOIN
                  (SELECT unnest(generate_series(1, 7)) AS h) h)
         SELECT day, c,
                floor(l * 1000000 + 0.5) / 1000000.0 AS level,
                floor(b * 1000000 + 0.5) / 1000000.0 AS trend,
                floor(seas * 1000000 + 0.5) / 1000000.0 AS seasonal,
                floor(fit * 1000000 + 0.5) / 1000000.0 AS fit
         FROM (SELECT day, c, l, b, seas, fit FROM hwrec
               UNION ALL SELECT * FROM fc)
         ORDER BY day"""),
    Query("q_events_heavy_hitters", heavyHitters,
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
                    FROM events GROUP BY user_id),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events)
         SELECT user_id, cnt,
                floor((CAST(cnt AS DOUBLE) / n_total) * 1000000 + 0.5)
                  / 1000000.0 AS share
         FROM c CROSS JOIN t
         WHERE cnt * 256 > n_total
         ORDER BY cnt DESC, user_id"""),
    Query("q_agg_bitmap_distinct", bitmapDistinct,
      """WITH words AS (
           SELECT epoch_us(ts)::BIGINT // 86400000000 AS day,
                  user_id // 32 AS w,
                  bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS bm
           FROM events GROUP BY day, w),
         daily AS (
           SELECT day,
                  CAST(sum(CAST(bit_count(bm) AS BIGINT)) AS BIGINT)
                    AS uniques,
                  CAST(count(*) AS BIGINT) AS n_words
           FROM words GROUP BY day),
         corpus0 AS (SELECT w, bit_or(bm) AS bm FROM words GROUP BY w),
         corpus AS (
           SELECT CAST(-1 AS BIGINT) AS day,
                  CAST(sum(CAST(bit_count(bm) AS BIGINT)) AS BIGINT)
                    AS uniques,
                  CAST(count(*) AS BIGINT) AS n_words
           FROM corpus0)
         SELECT * FROM daily UNION ALL SELECT * FROM corpus
         ORDER BY day"""),
    Query("q_events_streaks", streaks,
      """WITH d AS (
           SELECT DISTINCT user_id,
                  epoch_us(ts)::BIGINT // 86400000000 AS day_num
           FROM events),
         i AS (
           SELECT user_id, day_num,
                  day_num - row_number() OVER (
                    PARTITION BY user_id ORDER BY day_num) AS isl
           FROM d),
         st AS (SELECT user_id, isl, count(*) AS len FROM i GROUP BY 1, 2)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
                CAST(max(len) AS BIGINT) AS longest_streak,
                count(*) AS n_streaks
         FROM st GROUP BY user_id ORDER BY user_id"""),
    Query("q_events_concurrency", concurrency,
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts)::BIGINT AS ts_us
           FROM events),
         l AS (
           SELECT user_id, ts_us,
                  CASE WHEN lag(ts_us) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) IS NULL THEN 1
                       WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id) > 1800000000 THEN 1
                       ELSE 0 END AS new_sess,
                  event_id
           FROM e),
         sx AS (
           SELECT user_id, ts_us,
                  sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS sess
           FROM l),
         sess AS (
           SELECT user_id, sess, min(ts_us) AS start_us,
                  max(ts_us) AS end_us
           FROM sx GROUP BY 1, 2),
         b AS (
           SELECT start_us AS t_us, 1 AS delta FROM sess
           UNION ALL SELECT end_us, -1 FROM sess),
         r AS (
           SELECT t_us, delta,
                  CAST(sum(delta) OVER (ORDER BY t_us, delta DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
           FROM b)
         SELECT t_us // 86400000000 AS day_num,
                CAST(max(running) AS BIGINT) AS peak,
                CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_starts
         FROM r GROUP BY 1 ORDER BY 1""", cap = 7),
    Query("q_events_lateness", lateness,
      s"""WITH e AS (
            SELECT event_id, epoch_us(ts)::BIGINT AS ts_us,
                   md5(CAST(event_id AS VARCHAR)) AS h
            FROM events),
          a AS (
            SELECT event_id, ts_us,
                   ts_us + ((${hexValSqlN(7, "h")}) % 120000000) AS arr_us
            FROM e),
          w AS (
            SELECT ts_us,
                   max(ts_us) OVER (ORDER BY arr_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS wm_us
            FROM a),
          b AS (
            SELECT wm_us - ts_us AS late_us,
                   CASE WHEN wm_us - ts_us = 0 THEN 0
                        WHEN wm_us - ts_us <= 1000000 THEN 1
                        WHEN wm_us - ts_us <= 10000000 THEN 2
                        WHEN wm_us - ts_us <= 60000000 THEN 3
                        WHEN wm_us - ts_us <= 120000000 THEN 4
                        ELSE 5 END AS bucket_id
            FROM w),
          t AS (SELECT count(*) AS n_tot FROM b)
          SELECT bucket_id, count(*) AS n,
                 ${graft.Par.sql("count(*) / CAST(n_tot AS DOUBLE)", 1000000)} AS pct,
                 max(late_us) AS max_late_us
          FROM b, t GROUP BY bucket_id, n_tot ORDER BY bucket_id""", cap = 9),
    Query("q_events_cohort_ltv", cohortLtv,
      """WITH fe AS (
           SELECT user_id, min(epoch_us(ts) // 604800000000) AS cw
           FROM events GROUP BY user_id),
         pur AS (
           SELECT e.user_id, epoch_us(e.ts) // 604800000000 AS wk,
                  e.value
           FROM events e WHERE e.event_type = 'purchase'),
         co AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
                FROM fe GROUP BY cw),
         wr AS (SELECT f.cw, p.wk - f.cw AS wo,
                       floor(sum(p.value) * 100 + 0.5) / 100.0 AS rev
                FROM pur p JOIN fe f ON p.user_id = f.user_id
                GROUP BY f.cw, p.wk),
         cum AS (SELECT cw, wo,
                        sum(rev) OVER (PARTITION BY cw ORDER BY wo)
                          AS cum_rev
                 FROM wr)
         SELECT c.cw AS cohort_week, c.wo AS week_offset, co.n_users,
                floor((c.cum_rev / co.n_users) * 1000000 + 0.5)
                  / 1000000.0 AS ltv
         FROM cum c JOIN co ON c.cw = co.cw
         ORDER BY cohort_week, week_offset"""),
    Query("q_events_growth_acct", growthAccounting,
      """WITH uw AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events WHERE event_type = 'purchase'),
         lagd AS (SELECT user_id, day,
                   lag(day) OVER (PARTITION BY user_id ORDER BY day) AS pd,
                   lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nd
                  FROM uw)
         SELECT day,
                CAST(count(*) FILTER (pd IS NULL) AS BIGINT) AS n_new,
                CAST(count(*) FILTER (pd = day - 1) AS BIGINT)
                  AS n_retained,
                CAST(count(*) FILTER (pd IS NOT NULL AND pd < day - 1)
                  AS BIGINT) AS n_resurrected,
                CAST(count(*) FILTER (nd IS NULL OR nd > day + 1)
                  AS BIGINT) AS n_lapsing
         FROM lagd GROUP BY day ORDER BY day"""),
    Query("q_events_interpolate", interpolate,
      """WITH hourly AS (
           SELECT epoch_us(ts) // 3600000000 AS hr,
                  floor(sum(value) * 100 + 0.5) / 100.0 AS v
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
         spine AS (SELECT unnest(generate_series(lo, hi)) AS hr FROM b),
         j AS (SELECT s.hr, h.v FROM spine s
               LEFT JOIN hourly h ON s.hr = h.hr),
         f AS (SELECT hr, v,
                last_value(v IGNORE NULLS) OVER wp AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN hr END
                  IGNORE NULLS) OVER wp AS ph,
                first_value(v IGNORE NULLS) OVER wn AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN hr END
                  IGNORE NULLS) OVER wn AS nh
               FROM j
               WINDOW wp AS (ORDER BY hr ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW),
               wn AS (ORDER BY hr ROWS BETWEEN CURRENT ROW AND
                 UNBOUNDED FOLLOWING))
         SELECT hr,
                CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed,
                floor((CASE WHEN v IS NOT NULL THEN v
                       ELSE pv + (nv - pv) * CAST(hr - ph AS DOUBLE)
                            / (nh - ph) END) * 1000000 + 0.5)
                  / 1000000.0 AS v_fill
         FROM f ORDER BY hr""")
      .allowGlobalWindow("|hours| spine"),
    Query("q_events_forecast_naive", forecastNaive,
      """WITH daily AS (
           SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY day),
         bt AS (SELECT a.c AS actual, b.c AS fc
                FROM daily a JOIN daily b ON a.day = b.day + 7)
         SELECT CAST(count(*) AS BIGINT) AS n_days,
                floor(avg(abs(actual - fc)) * 1000000 + 0.5) / 1000000.0
                  AS mae,
                floor(avg(CAST(abs(actual - fc) AS DOUBLE) / actual)
                  * 1000000 + 0.5) / 1000000.0 AS mape
         FROM bt"""),
    Query("q_events_ohlc", ohlc,
      """WITH e AS (
           SELECT epoch_us(ts) // 3600000000 AS hr, event_type, value,
                  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                  lpad(CAST(event_id AS VARCHAR), 10, '0') AS k
           FROM events)
         SELECT hr, event_type,
                arg_min(value, k) AS open,
                max(value) AS high,
                min(value) AS low,
                arg_max(value, k) AS close,
                count(*) AS n_events,
                floor(sum(value) * 100 + 0.5) / 100.0 AS volume
         FROM e GROUP BY hr, event_type ORDER BY hr, event_type"""),
    Query("q_events_churn", churn,
      """WITH p AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day_num
           FROM events WHERE event_type = 'purchase'),
         cutoff AS (SELECT max(day_num) - 6 AS cut FROM p),
         pu AS (
           SELECT user_id,
                  count(*) FILTER (day_num < cut) AS early,
                  count(*) FILTER (day_num >= cut) AS late
           FROM p CROSS JOIN cutoff GROUP BY user_id)
         SELECT count(*) AS n_early_buyers,
                count(*) FILTER (late = 0) AS n_churned,
                floor((CAST(count(*) FILTER (late = 0) AS DOUBLE)
                  / count(*)) * 1000000 + 0.5) / 1000000.0 AS churn_rate
         FROM pu WHERE early > 0"""),
    Query("q_win_rolling_median", rollingMedian,
      """WITH daily AS (
           SELECT epoch(o_orderdate)::BIGINT // 86400 AS day_num,
                  floor(sum(o_totalprice) * 100 + 0.5) / 100.0 AS rev
           FROM orders GROUP BY day_num),
         spine AS (SELECT DISTINCT day_num AS day FROM daily)
         SELECT day, count(*) AS n_days,
                floor(quantile_cont(rev, 0.5) * 100 + 0.5) / 100.0 AS med7
         FROM daily JOIN spine ON day_num >= day - 6 AND day_num <= day
         GROUP BY day ORDER BY day""")
      .allowUnboundedJoin(
        "|days| daily revenues x a 7-day band of the |days| spine"),
    // Token bucket folded with the identical integer lambda; the init
    // state is prepended (list_reduce seeds from the first element).
    Query("q_events_rate_limit", rateLimit,
      """WITH u AS (
           SELECT user_id, list(epoch_us(ts) ORDER BY epoch_us(ts)) AS ts
           FROM events GROUP BY user_id),
         f AS (
           SELECT user_id, len(ts) AS n_events,
                  list_reduce(
                    list_prepend([CAST(0 AS BIGINT), 1500000, 0],
                      list_transform(ts,
                        t -> [t, CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
                    (acc, e) -> [e[1],
                      CASE WHEN least(1500000, acc[2] + (e[1] - acc[1]) // 3600)
                                >= 1000000
                           THEN least(1500000,
                                  acc[2] + (e[1] - acc[1]) // 3600) - 1000000
                           ELSE least(1500000,
                                  acc[2] + (e[1] - acc[1]) // 3600) END,
                      acc[3] + CASE WHEN least(1500000,
                                  acc[2] + (e[1] - acc[1]) // 3600) >= 1000000
                                    THEN 1 ELSE 0 END])[3] AS n_admitted
           FROM u)
         SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
                CAST(n_admitted AS BIGINT) AS n_admitted,
                CAST(n_events - n_admitted AS BIGINT) AS n_dropped
         FROM f ORDER BY user_id"""),
    // Session×burst interval overlap: the oracle needs no blocking —
    // it joins the two interval CTEs on the raw half-open overlap
    // predicate; the engine's bucketed plan must produce identical
    // pairs (completeness proof for the blocking scheme).
    Query("q_join_interval_overlap", intervalOverlap,
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w
                            > 1800000000 THEN 1
                       WHEN lag(epoch_us(ts), 1) OVER w IS NULL THEN 1
                       ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ), sessed AS (
           SELECT *, sum(new_sess) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM flagged
         ), sess AS (
           SELECT user_id, sess, min(ts_us) AS s_us, max(ts_us) AS e_us
           FROM sessed GROUP BY user_id, sess
         ), hourly AS (
           SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS c
           FROM events GROUP BY hr
         ), thr AS (
           SELECT floor((avg(c) + 2.0 * stddev_samp(c)) * 1000000 + 0.5)
                    / 1000000.0 AS thr
           FROM hourly
         ), bflag AS (
           SELECT hr FROM hourly CROSS JOIN thr WHERE c > thr
         ), biv AS (
           SELECT min(hr) AS b_start_hr, max(hr) AS b_end_hr,
                  min(hr) * 3600000000 AS b_s_us,
                  (max(hr) + 1) * 3600000000 AS b_e_us
           FROM (SELECT hr, hr - row_number() OVER (ORDER BY hr) AS grp
                 FROM bflag) g GROUP BY grp
         ), pairs AS (
           SELECT b_start_hr, b_end_hr, user_id,
                  least(e_us + 1, b_e_us) - greatest(s_us, b_s_us) AS ov_us
           FROM sess JOIN biv
             ON s_us < b_e_us AND b_s_us <= e_us
           WHERE least(e_us + 1, b_e_us) - greatest(s_us, b_s_us) > 0)
         SELECT b_start_hr, b_end_hr,
                CAST(count(*) AS BIGINT) AS n_sessions,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(sum(ov_us) AS BIGINT) AS overlap_us_sum,
                CAST(sum(ov_us) AS BIGINT) / 1000000.0 AS overlap_s
         FROM pairs GROUP BY b_start_hr, b_end_hr
         ORDER BY b_start_hr""")
      .allowGlobalWindow("|hours| burst census"),
    Query("q_events_bursts", bursts,
      """WITH hourly AS (
           SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS c
           FROM events GROUP BY hr),
         thr AS (
           SELECT floor((avg(c) + 2.0 * stddev_samp(c)) * 1000000 + 0.5)
                    / 1000000.0 AS thr
           FROM hourly),
         flagged AS (
           SELECT hr, c FROM hourly CROSS JOIN thr WHERE c > thr),
         grp AS (
           SELECT hr, c,
                  hr - row_number() OVER (ORDER BY hr) AS grp
           FROM flagged)
         SELECT min(hr) AS start_hr, max(hr) AS end_hr,
                count(*) AS n_hours, max(c) AS peak
         FROM grp GROUP BY grp ORDER BY start_hr""")
      .allowGlobalWindow("|hours| spine"),
    Query("q_events_seasonality", seasonality,
      """WITH b AS (
           SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
                  (epoch_us(ts) // 3600000000) % 24 AS hod
           FROM events),
         tot AS (SELECT count(*) AS tot FROM events)
         SELECT dow, hod, count(*) AS n,
                floor((CAST(count(*) AS DOUBLE) / tot) * 1000000 + 0.5)
                  / 1000000.0 AS share
         FROM b CROSS JOIN tot
         GROUP BY dow, hod, tot ORDER BY dow, hod"""),
    Query("q_events_logrank", logrank,
      """WITH RECURSIVE u AS (
           SELECT user_id,
                  min(epoch_us(ts) // 86400000000) AS first_day,
                  min(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts) // 86400000000 END) AS p_day,
                  max(epoch_us(ts) // 86400000000) AS last_day
           FROM events GROUP BY user_id),
         mx AS (SELECT max(last_day) AS m FROM u),
         census AS (
           SELECT CASE WHEN p_day IS NOT NULL THEN p_day - first_day
                       ELSE mx.m - first_day END AS t,
                  CAST(sum(CASE WHEN p_day IS NOT NULL
                                 AND user_id % 2 = 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS ev_a,
                  CAST(sum(CASE WHEN p_day IS NOT NULL
                                 AND user_id % 2 <> 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS ev_b,
                  CAST(sum(CASE WHEN p_day IS NULL AND user_id % 2 = 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS cen_a,
                  CAST(sum(CASE WHEN p_day IS NULL AND user_id % 2 <> 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS cen_b
           FROM u CROSS JOIN mx GROUP BY 1),
         ds AS (SELECT *, CAST(row_number() OVER (ORDER BY t) AS BIGINT)
                            AS rn
                FROM census),
         tot AS (SELECT CAST(sum(ev_a + cen_a) AS BIGINT) AS na,
                        CAST(sum(ev_b + cen_b) AS BIGINT) AS nb
                 FROM census),
         rec(rn, risk_a, risk_b, oa, ea, v) AS (
           SELECT CAST(0 AS BIGINT), na, nb, CAST(0 AS BIGINT),
                  CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
           FROM tot
           UNION ALL
           SELECT d.rn,
                  r.risk_a - d.ev_a - d.cen_a,
                  r.risk_b - d.ev_b - d.cen_b,
                  r.oa + d.ev_a,
                  r.ea + (CAST(d.ev_a + d.ev_b AS DOUBLE) * r.risk_a
                          / (r.risk_a + r.risk_b)),
                  r.v + (CASE WHEN (r.risk_a + r.risk_b) > 1
                              THEN CAST(d.ev_a + d.ev_b AS DOUBLE)
                                   * r.risk_a / (r.risk_a + r.risk_b)
                                   * r.risk_b / (r.risk_a + r.risk_b)
                                   * ((r.risk_a + r.risk_b)
                                      - d.ev_a - d.ev_b)
                                   / ((r.risk_a + r.risk_b) - 1)
                              ELSE 0.0 END)
           FROM rec r JOIN ds d ON d.rn = r.rn + 1)
         SELECT tot.na AS n_a, tot.nb AS n_b, rec.oa AS o_a,
                floor(rec.ea * 1000000 + 0.5) / 1000000.0 AS e_a,
                floor(((rec.oa - rec.ea) / sqrt(rec.v))
                  * 1000000 + 0.5) / 1000000.0 AS z_stat,
                floor(((rec.oa - rec.ea) * (rec.oa - rec.ea) / rec.v)
                  * 1000000 + 0.5) / 1000000.0 AS chi2
         FROM rec CROSS JOIN tot
         WHERE rec.rn = (SELECT max(rn) FROM ds)"""),
    Query("q_events_survival", survival,
      """WITH RECURSIVE u AS (
           SELECT user_id,
                  min(epoch_us(ts) // 86400000000) AS first_day,
                  min(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts) // 86400000000 END) AS p_day,
                  max(epoch_us(ts) // 86400000000) AS last_day
           FROM events GROUP BY user_id),
         mx AS (SELECT max(last_day) AS m FROM u),
         census AS (
           SELECT CASE WHEN p_day IS NOT NULL THEN p_day - first_day
                       ELSE mx.m - first_day END AS t,
                  CAST(sum(CASE WHEN p_day IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS ev,
                  CAST(sum(CASE WHEN p_day IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS cen
           FROM u CROSS JOIN mx GROUP BY 1),
         ds AS (SELECT t, ev, cen,
                       CAST(row_number() OVER (ORDER BY t) AS BIGINT)
                         AS rn
                FROM census),
         tot AS (SELECT CAST(sum(ev + cen) AS BIGINT) AS n FROM census),
         rec(rn, t, ev, cen, risk, hazard, surv) AS (
           SELECT d.rn, d.t, d.ev, d.cen, tot.n,
                  (CAST(d.ev AS DOUBLE) / tot.n),
                  1.0 * (1.0 - (CAST(d.ev AS DOUBLE) / tot.n))
           FROM ds d, tot WHERE d.rn = 1
           UNION ALL
           SELECT d.rn, d.t, d.ev, d.cen, r.risk - r.ev - r.cen,
                  (CAST(d.ev AS DOUBLE) / (r.risk - r.ev - r.cen)),
                  r.surv * (1.0 - (CAST(d.ev AS DOUBLE)
                                   / (r.risk - r.ev - r.cen)))
           FROM rec r JOIN ds d ON d.rn = r.rn + 1)
         SELECT t, risk AS n_at_risk, ev AS n_converted,
                cen AS n_censored,
                floor(hazard * 1000000 + 0.5) / 1000000.0 AS hazard,
                floor(surv * 1000000 + 0.5) / 1000000.0 AS survival
         FROM rec ORDER BY t"""),
    Query("q_events_interarrival", interarrival,
      """WITH ev AS (
           SELECT user_id, event_type, event_id,
                  epoch_us(ts) AS ts_us
           FROM events),
         g AS (
           SELECT event_type,
                  ts_us - lag(ts_us, 1) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts_us, event_id) AS gap_us
           FROM ev)
         SELECT event_type, count(*) AS n_gaps,
                floor((CAST(sum(gap_us) AS DOUBLE) / count(*)
                       / 1000000.0) * 100 + 0.5) / 100.0 AS mean_sec,
                floor((quantile_cont(gap_us, 0.5) / 1000000.0)
                  * 100 + 0.5) / 100.0 AS p50_sec,
                floor((quantile_cont(gap_us, 0.95) / 1000000.0)
                  * 100 + 0.5) / 100.0 AS p95_sec
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY event_type ORDER BY event_type"""),
    Query("q_orders_gap", orderGaps,
      """WITH d AS (
           SELECT o_custkey, o_orderkey,
                  epoch(o_orderdate)::BIGINT // 86400 AS day_num
           FROM orders),
         g AS (
           SELECT day_num - lag(day_num, 1) OVER (
             PARTITION BY o_custkey ORDER BY day_num, o_orderkey) AS gap
           FROM d)
         SELECT count(*) AS n_gaps,
                floor(avg(gap) * 100 + 0.5) / 100.0 AS mean_days,
                floor(quantile_cont(gap, 0.5) * 100 + 0.5) / 100.0
                  AS p50_days,
                floor(quantile_cont(gap, 0.9) * 100 + 0.5) / 100.0
                  AS p90_days
         FROM g WHERE gap IS NOT NULL"""),
    Query("q_events_rolling_uniques", rollingUniques,
      """WITH du AS (
           SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_num, user_id
           FROM events),
         spine AS (SELECT DISTINCT day_num AS day FROM du)
         SELECT day,
                count(DISTINCT user_id) AS uniques_7d,
                count(DISTINCT user_id)
                  FILTER (day_num = day) AS uniques_1d
         FROM du JOIN spine ON day_num >= day - 6 AND day_num <= day
         GROUP BY day ORDER BY day""")
      .allowUnboundedJoin(
        "|day x user| rows x a 7-day band of the |days| spine"),
    Query("q_events_funnel_time", funnelTime,
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                     FROM events),
         signup AS (SELECT user_id, min(ts_us) AS s_us
                    FROM ev WHERE event_type = 'signup' GROUP BY user_id),
         fp AS (SELECT ev.user_id, min(ts_us) AS p_us, any_value(s_us)
                         AS s_us2
                FROM ev JOIN signup USING (user_id)
                WHERE event_type = 'purchase' AND ts_us > s_us
                GROUP BY ev.user_id),
         lat AS (SELECT (p_us - s_us2) / 1000000.0 AS lat_s FROM fp)
         SELECT count(*) AS n_converted,
                floor(avg(lat_s) * 100 + 0.5) / 100.0 AS mean_s,
                floor(quantile_cont(lat_s, 0.5) * 100 + 0.5) / 100.0
                  AS p50_s,
                floor(quantile_cont(lat_s, 0.9) * 100 + 0.5) / 100.0
                  AS p90_s
         FROM lat"""),
    Query("q_events_attribution", attribution,
      """WITH ev AS (SELECT user_id, event_id, event_type, value,
                            epoch_us(ts) AS ts_us FROM events),
         p AS (SELECT user_id, event_id AS p_id, ts_us AS p_us, value
               FROM ev WHERE event_type = 'purchase'),
         t AS (SELECT user_id, event_type AS channel, ts_us AS t_us
               FROM ev WHERE event_type IN ('click', 'view')),
         pairs AS (
           SELECT p.p_id, p.value AS v, t.channel
           FROM p JOIN t ON p.user_id = t.user_id
           WHERE t.t_us < p.p_us
             AND t.t_us >= p.p_us - 604800000000),
         np AS (SELECT p_id, count(*) AS n_touch FROM pairs GROUP BY p_id)
         SELECT channel, count(*) AS n_credits,
                floor(sum(v / n_touch) * 100 + 0.5) / 100.0 AS credited
         FROM pairs JOIN np USING (p_id)
         GROUP BY channel ORDER BY channel""", cap = 6),
    Query("q_events_session_stats", sessionStats,
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w
                            > 1800000000 THEN 1
                       WHEN lag(epoch_us(ts), 1) OVER w IS NULL THEN 1
                       ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ), sessed AS (
           SELECT *, sum(new_sess) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM flagged
         ), sess AS (
           SELECT user_id, sess, min(ts_us) AS start_us,
                  max(ts_us) AS end_us, count(*) AS n_events
           FROM sessed GROUP BY user_id, sess)
         SELECT start_us // 86400000000 AS day_num,
                count(*) AS n_sessions,
                count(*) FILTER (n_events = 1) AS n_bounce,
                floor((CAST(count(*) FILTER (n_events = 1) AS DOUBLE)
                  / count(*)) * 1000000 + 0.5) / 1000000.0 AS bounce_rate,
                floor((avg((end_us - start_us) / 1000000.0)) * 100 + 0.5)
                  / 100.0 AS avg_dur_s
         FROM sess GROUP BY day_num ORDER BY day_num"""),
    Query("q_events_path_topk", pathTopk,
      """WITH seq AS (
           SELECT event_type AS t1,
                  lead(event_type, 1) OVER w AS t2,
                  lead(event_type, 2) OVER w AS t3
           FROM events
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id))
         SELECT t1, t2, t3, count(*) AS cnt
         FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
         GROUP BY t1, t2, t3
         ORDER BY cnt DESC, t1, t2, t3 LIMIT 10"""),
    Query("q_events_rolling_7d", rolling7d,
      """WITH daily AS (
           SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n, sum(value) AS v
           FROM events GROUP BY 1),
         dd AS (SELECT day, n, v,
                       datediff('day', DATE '1970-01-01',
                                CAST(day AS DATE)) AS dnum
                FROM daily)
         SELECT day, n,
                CAST(sum(n) OVER (ORDER BY dnum
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS n_7d,
                floor((sum(v) OVER (ORDER BY dnum
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) * 100 + 0.5)
                  / 100.0 AS v_7d
         FROM dd ORDER BY day""")
      .allowGlobalWindow("|days| spine"),
    Query("q_events_dau_mau", dauMau,
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                           date_trunc('month', ts) AS month, user_id
                    FROM events),
         dau AS (SELECT day, month, count(DISTINCT user_id) AS dau
                 FROM e GROUP BY day, month),
         mau AS (SELECT month, count(DISTINCT user_id) AS mau
                 FROM e GROUP BY month)
         SELECT day, dau.dau, mau.mau, dau.dau / mau.mau AS stickiness
         FROM dau JOIN mau USING (month)
         ORDER BY day"""),
    Query("q_events_cdc_apply", cdcApply,
      """WITH ranked AS (
           SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, event_id, event_type, value
         FROM ranked WHERE rn = 1 AND event_type <> 'purchase'
         ORDER BY user_id"""),
    Query("q_events_anomaly", anomaly,
      """WITH st AS (SELECT event_type, avg(value) AS mu,
                            stddev_samp(value) AS sigma
                     FROM events GROUP BY event_type)
         SELECT event_id, event_type, value,
                floor(((value - mu) / sigma) * 1000000 + 0.5) / 1000000.0
                  AS z
         FROM events JOIN st USING (event_type)
         WHERE abs(floor(((value - mu) / sigma) * 1000000 + 0.5)
                   / 1000000.0) > 2.5
         ORDER BY event_id"""),
    // scd2's run-length chain over NON-purchase activity, then the
    // point-in-time LEFT join of purchases into [from, to)
    Query("q_join_temporal", joinTemporal,
      """WITH act AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
           FROM events WHERE event_type <> 'purchase'),
         flagged AS (
           SELECT user_id, event_id, event_type, ts_us,
                  CASE WHEN lag(event_type, 1) OVER w IS NULL
                         OR lag(event_type, 1) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM act
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         runs AS (
           SELECT *, CAST(sum(chg) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run
           FROM flagged),
         dim AS (
           SELECT user_id, status, from_us,
                  lead(from_us, 1) OVER (PARTITION BY user_id
                    ORDER BY run) AS to_us
           FROM (SELECT user_id, run, min(event_type) AS status,
                        min(ts_us) AS from_us
                 FROM runs GROUP BY user_id, run) c),
         facts AS (
           SELECT user_id, epoch_us(ts) AS ts_us, value
           FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT coalesce(dim.status, '__NONE__') AS status, f.value
           FROM facts f LEFT JOIN dim
             ON f.user_id = dim.user_id
            AND f.ts_us >= dim.from_us
            AND (dim.to_us IS NULL OR f.ts_us < dim.to_us))
         SELECT status, CAST(count(*) AS BIGINT) AS n_purchases,
                floor((avg(value)) * 1000000 + 0.5) / 1000000.0
                  AS avg_value
         FROM j GROUP BY status ORDER BY status"""),
    Query("q_events_scd2", scd2,
      """WITH flagged AS (
           SELECT user_id, event_id, event_type, ts,
                  epoch_us(ts) AS ts_us,
                  CASE WHEN lag(event_type, 1) OVER w IS NULL
                         OR lag(event_type, 1) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ), runs AS (
           SELECT *, CAST(sum(chg) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run
           FROM flagged
         ), collapsed AS (
           SELECT user_id, run, min(event_type) AS status,
                  min(ts) AS valid_from, count(*) AS n_events
           FROM runs GROUP BY user_id, run)
         SELECT user_id, run, status, valid_from,
                lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY run)
                  AS valid_to,
                n_events
         FROM collapsed ORDER BY user_id, run"""),
    Query("q_events_markov", markov,
      """WITH seq AS (
           SELECT event_type AS cur,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS nxt
           FROM events),
         g AS (SELECT cur, nxt, count(*) AS n FROM seq
               WHERE nxt IS NOT NULL GROUP BY cur, nxt)
         SELECT cur, nxt, n,
                floor((n / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE))
                      * 1000000 + 0.5) / 1000000.0 AS p
         FROM g ORDER BY cur, nxt"""),
    Query("q_events_funnel", funnel,
      """WITH u AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view'
                           THEN epoch_us(ts) END) AS t1
           FROM events GROUP BY user_id),
         c AS (SELECT e.user_id, min(epoch_us(ts)) AS t2
               FROM events e JOIN u USING (user_id)
               WHERE event_type = 'click' AND epoch_us(ts) > t1
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(epoch_us(ts)) AS t3
               FROM events e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND epoch_us(ts) > t2
               GROUP BY e.user_id),
         n AS (SELECT (SELECT count(*) FROM u WHERE t1 IS NOT NULL) AS nv,
                      (SELECT count(*) FROM c) AS nc,
                      (SELECT count(*) FROM p) AS np)
         SELECT nv AS users_view, nc AS users_click_after_view,
                np AS users_purchase_after_click,
                CASE WHEN nv > 0 THEN
                  floor((nc / nv) * 1000000 + 0.5) / 1000000.0 END
                  AS conv_click,
                CASE WHEN nc > 0 THEN
                  floor((np / nc) * 1000000 + 0.5) / 1000000.0 END
                  AS conv_purchase
         FROM n"""),
    Query("q_events_retention", retention,
      """WITH days AS (
           SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
           FROM events),
         cohort AS (SELECT user_id, min(day) AS cohort_day
                    FROM days GROUP BY user_id)
         SELECT cohort_day,
                CAST(date_diff('day', cohort_day, day) AS INTEGER)
                  AS day_offset,
                count(DISTINCT d.user_id) AS users
         FROM days d JOIN cohort USING (user_id)
         WHERE date_diff('day', cohort_day, day) <= 7
         GROUP BY cohort_day, day_offset
         ORDER BY cohort_day, day_offset"""),
    Query("q_agg_pivot", pivot,
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'view') AS view,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'error') AS error
         FROM events GROUP BY day ORDER BY day"""),
    Query("q_stream_tumbling", tumbling,
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS cnt,
                floor((sum(value)) * 100 + 0.5) / 100.0 AS total
         FROM events GROUP BY h, event_type ORDER BY h, event_type"""),
    // Each event belongs to the 4 epoch-aligned 15-min-slide windows whose
    // start is within the preceding hour: start = floor15(ts) - k*15min.
    Query("q_stream_sliding", sliding,
      """SELECT make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000)
                  AS ws,
                event_type, count(*) AS cnt
         FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
         GROUP BY ws, event_type ORDER BY ws, event_type"""),
    Query("q_stream_left_join", intervalJoinLeft,
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
                coalesce(p.event_id, -1) AS purchase_id,
                coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS lag_us
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON p.user_id = c.user_id
          AND epoch_us(p.ts) >= epoch_us(c.ts)
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
         ORDER BY user_id, click_id, purchase_id"""),
    Query("q_stream_interval_join", intervalJoin,
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
                p.event_id AS purchase_id,
                epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
                p.value AS amount
         FROM events c JOIN events p ON p.user_id = c.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND epoch_us(p.ts) >= epoch_us(c.ts)
           AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
         ORDER BY user_id, click_id, purchase_id"""),
    Query("q_stream_session", session,
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value, epoch_us(ts) AS ts_us,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w
                            > 1800000000 THEN 1
                       WHEN lag(epoch_us(ts), 1) OVER w IS NULL THEN 1
                       ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ), sessed AS (
           SELECT *, CAST(sum(new_sess) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sess
           FROM flagged)
         SELECT user_id, sess, min(ts) AS session_start,
                max(ts) AS session_end, count(*) AS n_events,
                floor((sum(value)) * 100 + 0.5) / 100.0 AS session_value
         FROM sessed GROUP BY user_id, sess ORDER BY user_id, sess"""))

  val queries: Map[String, Q] = Query.builders(declared)
}
