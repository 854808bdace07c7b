package graft.llm

import graft.functions.Det._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators in their BATCH form. Windowed aggregation and
  * sessionization are the canonical stateful shapes; their streaming twins
  * (graft.streaming.StreamingOps) run the same transformations, pinned to
  * these batch forms by StreamingSpec.
  */
object Events {

  /** Tumbling 1-hour windows per event type: `window()` buckets align to the
    * epoch hour, so the batch result equals a date_trunc('hour') group-by.
    * Decimal sums for order-independent totals.
    */
  def hourlyWindows(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding 1-hour windows advancing every 15 minutes: each event lands in
    * 4 overlapping windows (the streaming `window(ts, "1 hour", "15 min")`
    * shape, computed batch-side).
    */
  def slidingWindows(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("total_value"))
      .orderBy("window_start")

  /** Signup→purchase conversion: users whose first purchase is at or after
    * their first signup. One groupBy with conditional min — no joins.
    */
  def signupPurchaseFunnel(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .filter(col("first_signup").isNotNull)
      .agg(
        count(lit(1)).as("n_signed_up"),
        sum(when(col("first_purchase") >= col("first_signup"), 1).otherwise(0)).as("n_converted"))

  /** Sessionization via Spark's BUILT-IN session_window operator (gap-merged
    * event-time windows — the same 30-min-inactivity semantics as
    * [[sessionize]], and the operator that runs stateful under Structured
    * Streaming). Emits one row per (user, session) keyed by session start.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** As-of join: attribute each purchase to the user's most recent view at
    * or before the purchase time. Spark has no ASOF JOIN operator; the
    * scale-correct formulation is the tagged UNION + last(ignoreNulls)
    * running window — one shuffle by user, no range-join row explosion
    * (a naive inequality join would be O(views × purchases) per user).
    * Views sort before purchases at equal timestamps (kind tiebreak), which
    * matches ASOF's `>=` semantics; among views sharing one (user, ts) the
    * final `vid` sort key makes last() deterministically pick the MAX view
    * event_id (ASOF itself is unspecified on such ties — the oracle pins
    * the same max-event_id rule by pre-deduping views per (user, ts)).
    */
  def asofViewAttribution(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id").as("vid"), lit(null).cast("long").as("pid"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        lit(null).cast("long").as("vid"), col("event_id").as("pid"))
    val w = Window.partitionBy("user_id").orderBy("ts", "kind", "vid")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("view_id", last(col("vid"), ignoreNulls = true).over(w))
      .withColumn("view_ts",
        last(when(col("vid").isNotNull, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("user_id"), col("pid").as("purchase_id"), col("ts").as("purchase_ts"),
        col("view_id"), col("view_ts").cast("string").as("view_ts"))
  }

  /** Multi-step ORDERED funnel (signup → view → purchase): step k counts a
    * user only if their first step-k event follows their first qualifying
    * step-(k-1) event. One shuffle by user; the three per-user minima are
    * window aggregates over the same partitioning (no extra exchanges), and
    * the per-user distinct collapses the frame before the global count — no
    * countDistinct expansion over raw events.
    */
  def multistepFunnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val perUser = events
      .withColumn("t1", min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "view" && col("ts") >= col("t1"),
        col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") >= col("t2"),
        col("ts"))).over(w))
      .select("user_id", "t1", "t2", "t3")
      .distinct()
    perUser.agg(
      sum(col("t1").isNotNull.cast("long")).as("n_signup"),
      sum(col("t2").isNotNull.cast("long")).as("n_then_view"),
      sum(col("t3").isNotNull.cast("long")).as("n_then_purchase"))
  }

  /** JSON event-property extraction + rollup: pull the integer `k` property
    * out of the events' JSON `props` payload and aggregate per
    * (event_type, k-decade). `get_json_object` is a codegen'd native
    * expression — the parse is one narrow pass over the scan, no UDF — and
    * the rollup is a single map-side-combined shuffle on low-cardinality
    * keys, so the shape is scan-bound at any corpus size.
    */
  def propsRollup(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      // k ≥ 0 here, but use floor-division semantics anyway so the bucketing
      // matches the oracle's `//` on any future signed payload
      .groupBy(col("event_type"), floor(col("k") / 10).as("k_decade"))
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
        min("event_id").as("first_event"), dsum(col("value")).as("total_value"))

  /** Retention cohort matrix — the standard product-analytics rollup: each
    * user joins the cohort of their FIRST active day, and the matrix counts
    * distinct users active per (cohort day, day offset) up to
    * `maxOffsetDays`. Two keyed aggregations: the per-user first-day pass
    * (map-side-combined min by user) and the cohort rollup
    * (count-distinct by (cohort_day, offset) — Spark's two-phase distinct
    * expansion, partial per partition). The first-day frame is |users|
    * rows; its join back to the events is an equi-join on user_id that AQE
    * broadcasts when it fits and sort-merges when a 100 TB user base does
    * not. Nothing here is a global window.
    */
  def retentionCohorts(events: DataFrame, maxOffsetDays: Int = 7): DataFrame = {
    val ev = events.select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(firstDay, Seq("user_id"))
      .withColumn("offset_days", datediff(col("day"), col("cohort_day")))
      .filter(col("offset_days") <= maxOffsetDays)
      .groupBy("cohort_day", "offset_days")
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** Rolling distinct active users (DAU→WAU-style): for each observed
    * calendar day, the count of distinct users active in the trailing
    * `windowDays` window. A windowed COUNT(DISTINCT) cannot partial-
    * aggregate (the frames overlap), so the scalable form inverts the
    * window: dedup to (user, day) once, EXPLODE each row into the
    * `windowDays` window-end days it contributes to, dedup again, and
    * count per day — three map-side-combinable aggregations over frames
    * bounded by |users|·|active days|·windowDays, each shuffled on its own
    * key, no window function anywhere. Cost scales linearly in
    * `windowDays`; for windows where the ×W explosion is too big (90-day
    * MAU at 100 TB), the sketch tier (q21's approx aggregates) is the
    * intended swap — per-day HLL sketches merge associatively across any
    * window width.
    */
  def rollingDistinctUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays $windowDays must be positive")
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val observed = ud.select(col("day").as("win_day")).distinct()
    ud.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1))).as("win_day"))
      .join(observed, Seq("win_day"), "left_semi")
      .distinct()
      .groupBy("win_day")
      .agg(count(lit(1)).as("n_active_users"))
  }

  /** Sketch-based rolling distinct actives — the documented swap for
    * [[rollingDistinctUsers]] at window widths where the ×W (user, day)
    * explosion gets expensive (90-day MAU at 100 TB): ONE keyed aggregate
    * builds a per-day HLL sketch of the user set (DataSketches HllSketch
    * via `hll_sketch_agg`), the window inversion then replicates
    * |days|·W SKETCHES (a few KB per row, independent of user count), and
    * `hll_union_agg` merges ≤W sketches per window-end day — the
    * associative-merge property that windowed COUNT(DISTINCT) lacks is
    * exactly what the sketch buys. Estimates are deterministic for a given
    * input (HLL is hash-based, no randomness) but approximate: ~1.6/√2^lgK
    * relative standard error (±0.8% at the default lgK = 14).
    */
  def rollingDistinctUsersSketch(events: DataFrame, windowDays: Int = 7,
                                 lgK: Int = 14): DataFrame =
    rollingFromDaySketches(dailyUserSketches(events, lgK), windowDays)

  /** Per-day HLL sketches of the active-user set — ONE keyed aggregate
    * over the event log; the |days|-row frame every sketch-served rolling
    * metric starts from (and the row layout [[graft.operators.SketchStore]]
    * persists: trailing binary sketch column).
    */
  def dailyUserSketches(events: DataFrame, lgK: Int = 14): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lgK).as("sk"))

  /** The window inversion over a per-day sketch frame: each day's sketch
    * replicates into the ≤W windows it belongs to (a few KB per row,
    * independent of user count) and `hll_union_agg` merges per window-end
    * day — shared by the direct path ([[rollingDistinctUsersSketch]]) and
    * the store-served one ([[rollingDistinctUsersFromStore]]).
    */
  private def rollingFromDaySketches(byDay: DataFrame,
                                     windowDays: Int): DataFrame = {
    require(windowDays > 0, s"windowDays $windowDays must be positive")
    val observed = byDay.select(col("day").as("win_day"))
    byDay
      .select(explode(sequence(col("day"), date_add(col("day"), windowDays - 1)))
        .as("win_day"), col("sk"))
      .join(observed, Seq("win_day"), "left_semi")
      .groupBy("win_day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_active_users"))
  }

  /** Rolling distinct actives SERVED FROM the persisted sketch store —
    * the materialized-view endgame of the sketch path: the event log is
    * sketched once per ingested batch ([[dailyUserSketches]] →
    * `SketchStore.append`), and every query after that reads |days| rows
    * of sketches, never an event. HLL union is register-wise max —
    * associative, commutative, idempotent — so a day split across
    * appended batches serves the IDENTICAL estimate a single-pass sketch
    * would (spec-pinned), and even a double-appended batch cannot inflate
    * an estimate.
    */
  def rollingDistinctUsersFromStore(spark: org.apache.spark.sql.SparkSession,
                                    storePath: String,
                                    windowDays: Int = 7): DataFrame =
    rollingFromDaySketches(
      graft.operators.SketchStore.read(spark, storePath), windowDays)

  /** Daily event-volume anomaly score — the ops-telemetry twin of the
    * warehouse's q19 z-score: per (event_type, day) counts, then each
    * day's deviation from its type's mean in sample-std units (spike and
    * drop detection over the event log). All inputs to the float math are
    * EXACT integers (counts and their squares summed in long), so the
    * mean/std/z chain is correctly-rounded double arithmetic on
    * bit-identical values cross-engine; the final ROUND(4) absorbs
    * formatting. One corpus scan, one map-side-combined shuffle to the
    * tiny |types×days| frame; the per-type stats frame broadcasts back.
    */
  def dailyCountAnomalies(events: DataFrame): DataFrame = {
    val daily = events.select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val stats = daily.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum("n_events").cast("double").as("s1"),
      sum(col("n_events") * col("n_events")).cast("double").as("s2"))
    daily.join(stats, Seq("event_type"))
      .select(col("event_type"), col("day"), col("n_events"),
        round((col("n_events") - col("s1") / col("n")) /
          nullif(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)),
            lit(0.0)), 4).as("z_score"))
  }

  /** Gap-based sessionization (30-min inactivity): lag + running sum of
    * session starts, then one aggregate per session. The window partitions
    * by user — exactly the state Structured Streaming keeps per key in
    * flatMapGroupsWithState; expressed relationally it is two window passes
    * over data already shuffled once by user_id.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = lit(gapMinutes * 60L * 1000000L)
    val us = unix_micros(col("ts"))
    events
      .withColumn("prev_us", lag(us, 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || us - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        dsum(col("value")).as("total_value"))
  }

  /** Per-day top-k event types by volume — the "what dominated each day"
    * leaderboard (dashboard + anomaly-triage shape). Deterministic ties:
    * rank orders by (count DESC, event_type).
    *
    * Scale shape: the ranking window runs over the PRE-AGGREGATED
    * (day, type) frame — ≤ |days|·|types| rows however large the event log —
    * so the raw events see only one map-side-combinable count shuffle; the
    * window never touches event-sized data (the q20 treatment applied to
    * per-group top-k).
    */
  def dailyTopTypes(events: DataFrame, k: Int = 3): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("day").orderBy(col("n_events").desc, col("event_type"))
    daily
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Signup→purchase conversion LATENCY per signup-day cohort — e04's
    * funnel with the time dimension (activation-speed dashboards, cohort
    * A/B readouts): converted users' first_purchase − first_signup gap in
    * integer microseconds, rolled to count / min / max / exact median per
    * cohort day.
    *
    * Scale shape: two map-side-combinable aggregations (user_id, then
    * cohort day) — no window, no join; the e14 determinism treatment (the
    * interpolated median of int64 µs gaps is exact in double, so it is
    * emitted un-divided and un-rounded).
    */
  def conversionLag(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .filter(col("first_signup").isNotNull && col("first_purchase") >= col("first_signup"))
      .select(to_date(col("first_signup")).as("cohort_day"),
        (unix_micros(col("first_purchase")) - unix_micros(col("first_signup"))).as("lag_us"))
      .groupBy("cohort_day")
      .agg(
        count(lit(1)).as("n_converted"),
        min("lag_us").as("min_lag_us"),
        max("lag_us").as("max_lag_us"),
        percentile(col("lag_us"), lit(0.5)).as("median_lag_us"))

  /** Per-user inter-arrival statistics — the activity-cadence profile
    * (engagement scoring, bot detection, churn features): consecutive-event
    * gaps per user, rolled up to count / min / max / exact median gap.
    *
    * Scale shape: ONE shuffle by user_id feeds both the lag window and the
    * rollup (same key — no second exchange); per-user partitions are small
    * by construction, so the window never sees a global sort. The median is
    * Spark's EXACT `percentile` aggregate — partials combine per user like
    * any hash agg. Determinism: gaps are integer microseconds (ties in ts
    * broken by event_id), and the interpolated median of two integers below
    * 2^52 is EXACT in double (x.0 or x.5) whichever algebraic form the
    * engine interpolates with — so the median is emitted in microseconds,
    * un-divided and un-rounded, and hash-compares bit-exactly (a seconds
    * conversion would sit on the 6-dp rounding boundary whenever the
    * median is half-odd).
    */
  def interarrivalStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        min("gap").as("min_gap_us"),
        max("gap").as("max_gap_us"),
        percentile(col("gap"), lit(0.5)).as("median_gap_us"))
  }

  /** First-order event-transition matrix (path analysis / Markov-chain
    * mining — "what do users do NEXT after event X"): per-user
    * time-ordered consecutive event-type pairs, rolled up corpus-wide to
    * (prev_type, next_type) counts plus the row-normalized transition
    * probability. The LAG rides the same user_id-partitioned window as
    * [[interarrivalStats]] (unbounded group cardinality — scale-safe;
    * ties broken by event_id so the sequence is total-ordered); the
    * per-prev_type normalizer is a |types|-sized broadcast join-back, and
    * each probability is ONE double division of exact counts —
    * bit-stable cross-engine.
    */
  /** WINDOWED conversion funnel: of the users whose FIRST `fromType` event
    * lands on cohort day D, how many fire a `toType` event within
    * `windowDays` — the "converted within 7 days" industry metric e04's
    * unbounded ordered funnel can't express (an eventual conversion a
    * year later is not a conversion HERE). Boundary closed on both ends
    * in integer microseconds, so the window edge is exact cross-engine.
    *
    * Scale shape: one map-side-combined first-event aggregate per user,
    * one user_id equi-join carrying the interval predicate (never an
    * inequality-only join), a distinct on converted users, and a
    * |cohort-days|-keyed rollup; conversion rate is one double division
    * of exact longs.
    */
  def windowedConversion(events: DataFrame, fromType: String = "signup",
                         toType: String = "purchase",
                         windowDays: Int = 7): DataFrame = {
    val first = events.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("s_us"))
    val horizon = windowDays * 86400000000L
    val converted = events.filter(col("event_type") === toType)
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .join(first, Seq("user_id"))
      .filter(col("p_us") >= col("s_us") && col("p_us") <= col("s_us") + lit(horizon))
      .select("user_id").distinct()
      .withColumn("converted", lit(1L))
    first
      .withColumn("cohort_day", to_date(timestamp_micros(col("s_us"))))
      .join(converted, Seq("user_id"), "left")
      .groupBy("cohort_day")
      .agg(count(lit(1)).as("n_signups"),
        sum(coalesce(col("converted"), lit(0L))).as("n_converted"),
        round(sum(coalesce(col("converted"), lit(0L))).cast("double")
          / count(lit(1)).cast("double"), 4).as("cvr"))
  }

  /** CUSUM CHANGE-POINT detection on daily volumes per event type: the day
    * where the cumulative deviation from the type's mean daily count peaks
    * — the classic "when did the level shift" detector (Page 1954),
    * complementing e13's pointwise z-scores (a gradual level change never
    * trips a single-day z-score; its CUSUM grows linearly).
    *
    * Exactness by clearing denominators: with D observed days and T total
    * events, S_t = Σ_{i≤t}(c_i − T/D) scaled by D is
    * D·cum_t − t·T — EXACT integers (the x43 treatment; D·cum stays under
    * 2⁶³ for D ≤ 10⁵ days and T ≤ 10¹³). The change point is the max
    * |S_t| (ties → earliest day); `score` normalizes by D·T for a
    * comparable [0,1) magnitude, ONE double division per type.
    *
    * Scale shape: the window (row_number + running sum per type, ordered
    * by day) runs over the PRE-AGGREGATED (type, day) frame — ≤ |days|
    * rows per group however large the event log (the e13/q20 treatment);
    * the argmax is a max(struct), no second window.
    */
  def changePoints(events: DataFrame): DataFrame = {
    val byDay = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val tot = Window.partitionBy("event_type")
    val scored = byDay
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("cum", sum("c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_days", count(lit(1)).over(tot))
      .withColumn("total", sum("c").over(tot))
      .withColumn("s", col("n_days") * col("cum") - col("t") * col("total"))
    scored
      .groupBy("event_type")
      .agg(max("n_days").as("n_days"), max("total").as("n_events"),
        max(struct(abs(col("s")).as("a"),
          (-unix_date(col("day"))).as("nd"), col("s").as("s"))).as("pk"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        date_from_unix_date((-col("pk.nd")).cast("int")).as("cp_day"),
        col("pk.s").as("s_at_peak"),
        round(col("pk.a").cast("double") /
          (col("n_days") * col("n_events")).cast("double"), 6).as("score"))
  }

  /** Exponentially-DECAYED event counts per type (trending score): each
    * event weighs 0.5^(age_days/halfLife) against the corpus's newest day,
    * so a type spiking THIS week outranks one with more but older volume —
    * the standard recency-weighted leaderboard. Day-granularity ages make
    * the weight set small and discrete; each weight is ONE pow of exact
    * integer-derived doubles quantized to DECIMAL(18,12) (the x16
    * treatment: both engines compute pow on identical doubles, then the
    * quantized decimals accumulate EXACTLY — sum order can't move the
    * result). Counts narrow to DECIMAL(12,0) before the product so the
    * (12,0)×(18,12) precision stays under 38 (the x16 scale-drop trap).
    *
    * Scale shape: one map-side-combined (type, day) count collapses the
    * log (≤ |types|·|days| rows out), the reference day is a broadcast
    * 1-row scalar of that same frame, the rollup is |types|-keyed. The
    * event log is read once.
    */
  def trendingDecay(events: DataFrame, halfLifeDays: Int = 7): DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
    val d18 = org.apache.spark.sql.types.DecimalType(18, 12)
    val byDay = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val ref = byDay.agg(max("day").as("ref_day"))
    byDay.crossJoin(broadcast(ref))
      .withColumn("w",
        pow(lit(0.5), datediff(col("ref_day"), col("day")).cast("double")
          / lit(halfLifeDays.toDouble)).cast(d18))
      .groupBy("event_type")
      .agg(sum("c").as("n_events"),
        round(sum(col("c").cast(d12) * col("w")).cast("double"), 4).as("decayed"))
  }

  /** HOUR-OF-DAY SEASONALITY per event type: the 24-bin hour histogram
    * collapsed to (n, χ² against uniform, peak hour, peak share) — the
    * traffic-shape detector behind "is this event type diurnal or flat?".
    * χ² = Σ(obs−n/24)²/(n/24) computed EXACTLY by clearing denominators:
    * (24·Σobs² − n²)/n has an exact-integer numerator (the x43 treatment),
    * accumulated in DECIMAL(38,0) so per-type counts up to ~10¹² never
    * overflow (a long Σobs² dies at n≈6·10⁸) — ONE double division per
    * type at the end, bit-stable cross-engine. Zero-count hours contribute
    * 0 to Σobs², which the cleared form already prices — no densify join.
    * Peak = max(struct(count, −hour)), ties to the smaller hour — a plain
    * partial-merged aggregate, no window.
    *
    * Scale shape: one map-side-combined (type, hour) count (≤ |types|·24
    * rows out of the exchange), then a |types|-keyed rollup. The event log
    * is read once; nothing event-sized shuffles.
    */
  def hourlySeasonality(events: DataFrame): DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val byHour = events
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
    byHour.groupBy("event_type")
      .agg(sum("c").as("n_events"),
        sum(col("c").cast(d19) * col("c").cast(d19)).as("sum_sq"),
        max(struct(col("c"), (-col("hr")).as("nh"))).as("pk"))
      .select(col("event_type"), col("n_events"),
        round((lit(24).cast(d19) * col("sum_sq")
            - col("n_events").cast(d19) * col("n_events").cast(d19)).cast("double")
          / col("n_events").cast("double"), 4).as("chi2"),
        (-col("pk.nh")).cast("long").as("peak_hour"),
        round(col("pk.c").cast("double") / col("n_events").cast("double"), 4)
          .as("peak_share"))
  }

  /** AUDIENCE OVERLAP matrix: |users(A) ∩ users(B)|, the two audience
    * sizes, and the Jaccard for every event-type pair A < B — the
    * co-engagement matrix behind "do purchasers also view?" (and the exact
    * baseline the sketch tier structurally can't give: HLL unions merge,
    * but intersections need inclusion–exclusion with compounding error).
    *
    * Scale shape: ONE distinct (user, type) pass collapses the event log
    * (map-side combined, ≤ |users|·|types| rows out); the pair join is
    * keyed on user_id — each user contributes (their types choose 2)
    * pairs, bounded by |types|², never a cross join; the rollup is
    * ≤ |types|²-keyed. Audience sizes join back as a |types|-row broadcast.
    * Jaccard = one double division of exact longs, bit-stable.
    */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val pairs = ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 4).as("jaccard"))
  }

  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val pairs = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = pairs.groupBy("prev_type")
      .agg(sum(col("n_transitions")).as("n_from"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from").cast("double"))
          .as("p_transition"))
  }

  /** POSITION-BASED (U-shaped) multi-touch attribution — the fractional-
    * credit generalization of [[asofViewAttribution]]'s last-touch rule:
    * for each purchase, every view/click by the same user inside the
    * lookback window earns credit by position — 40% first touch, 40% last,
    * the middle 20% split evenly (one touch takes 100%, two split 50/50).
    * Credits are single double divisions of integer counts, bit-identical
    * cross-engine.
    *
    * Scale shape: one user_id-keyed equi-join pairs purchases with their
    * own user's touches (the interval predicate rides the equi-join — never
    * an inequality-only join), then position/count windows partitioned by
    * purchase_id — the HIGH-cardinality key, each partition bounded by one
    * purchase's touches inside the window, so no funnel at any scale.
    */
  def multiTouchAttribution(events: DataFrame,
                            lookback: String = "48 hours"): DataFrame = {
    val touches = events.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"),
        col("event_id").as("touch_id"), col("event_type"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val j = purchases.join(touches, Seq("user_id"))
      .filter(col("ts") <= col("p_ts") &&
        col("ts") >= col("p_ts") - expr(s"INTERVAL $lookback"))
    val byPurchase = Window.partitionBy("purchase_id")
    val r = j
      .withColumn("position",
        row_number().over(byPurchase.orderBy(col("ts"), col("touch_id"))).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(byPurchase))
    r.select(col("purchase_id"), col("touch_id"), col("event_type"),
      col("position"), col("n_touches"),
      when(col("n_touches") === 1, lit(1.0))
        .when(col("n_touches") === 2, lit(0.5))
        .when(col("position") === 1 || col("position") === col("n_touches"), lit(0.4))
        .otherwise(lit(0.2) / (col("n_touches") - 2).cast("double"))
        .as("credit"))
  }
}
