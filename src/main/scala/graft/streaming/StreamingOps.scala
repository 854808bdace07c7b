package graft.streaming

import java.sql.Timestamp

import graft.functions.Det._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Event row for the typed streaming API (events.parquet schema with ts as
  * a proper timestamp). */
final case class EventRow(
    event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Per-user running aggregate maintained by the stateful operator. */
final case class UserAgg(user_id: Long, n_events: Long, total_value: Double)

/** A closed session emitted by [[StreamingOps.sessionsWithState]]. */
final case class SessionOut(
    user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

/** In-flight session state (epoch millis — timestamps don't encode well in
  * state stores across timezones). */
final case class SessionAcc(start: Long, last: Long, n: Long)

/** Structured-Streaming twins of the batch event operators
  * (graft.llm.Events): the SAME logical transformations run incrementally —
  * `readStream → transform → writeStream` with watermarks bounding state.
  * Every operator here is a transform (frame in, frame out); each has a
  * spec that pins its streamed output to its batch twin's. Nothing here
  * owns a sink: persisting a stream is the caller's `writeStream`, and the
  * batch stores' appends are the write path for anything versioned.
  *
  * Scale notes: windowed aggregation state is (window × event_type) rows,
  * bounded by the watermark horizon; the keyed state in
  * [[runningUserCounts]] is one small case class per user, partitioned by
  * the stream's groupBy key exactly like a shuffle.
  */
object StreamingOps {

  /** Tumbling 1-hour windowed counts/sums with a watermark: late events
    * beyond `watermark` are dropped and their windows finalized (state
    * eviction). Works unchanged on a batch frame (watermark is a no-op).
    */
  def windowedCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming SESSION windows — the streaming twin of the batch
    * `session_window` aggregation (e05): gap-based sessions per user,
    * state bounded by the event-time watermark. In append mode a session
    * emits exactly once, when the watermark passes its close (no event for
    * `gap` after its last one) — so downstream sees each finalized session
    * as an immutable row, the property a session-fact landing zone needs.
    * Works unchanged on a batch frame (watermark is a no-op), and the
    * batch ≡ stream agreement for closed sessions is spec-pinned.
    */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes",
                          watermark: String = "1 hour"): DataFrame =
    graft.llm.Events.sessionWindows(events.withWatermark("ts", watermark), gap)

  /** Streaming exact dedup — the ingest twin of `graft.llm.Dedup.exact`:
    * drop events whose key was already seen, with state bounded by the
    * event-time watermark (`dropDuplicatesWithinWatermark` evicts seen-keys
    * older than the horizon, so state is O(keys per watermark window), not
    * O(all keys ever) — the property that keeps a 100 TB/day ingest
    * deduplicable). Works unchanged on a batch frame.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String] = Seq("event_id"),
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: join the event stream against a static
    * dimension frame — the streaming twin of the fact-build's dimension
    * lookups (P19/P20). The static side re-resolves per micro-batch and
    * broadcasts (dims are small by definition), so the stream never
    * shuffles: each micro-batch is a map-side hash join. Works unchanged
    * on a batch frame.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream join: purchases matched to same-user views at most
    * `horizon` older — the incremental form of the attribution join
    * (graft.llm.Events.asofViewAttribution's windowed cousin). Both sides
    * carry watermarks and the join predicate bounds event-time distance,
    * so each side's buffered state is evicted once the other side's
    * watermark passes the horizon — state stays O(events per horizon), the
    * property that makes a stream-stream join runnable forever.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
                       horizon: String = "1 hour"): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", horizon)
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    v.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"interval $horizon"))
      .select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts")
  }

  /** Stream-stream WATERMARKED interval join at the e26 horizon — the
    * streaming twin of [[graft.llm.Events.windowedConversion]]'s join stage
    * (VERDICT r11 #5): each signup matched to the same user's purchases
    * within `[signup_ts, signup_ts + horizon]` (closed interval — e26's
    * integer-microsecond boundary contract; the default horizon is e26's 7
    * days where [[viewPurchaseJoin]] runs the 1-hour view-attribution
    * shape). The FIRST-signup contract is the caller's: feed first
    * signups, exactly the per-user min e26's aggregate derives — a stream
    * cannot retroactively un-match a non-first signup.
    *
    * Both sides carry `horizon` watermarks and the predicate bounds
    * event-time distance, so buffered state evicts once the other side's
    * watermark passes the window — O(events per horizon), runnable
    * forever. APPEND-mode: a pair is emitted exactly once, when matched;
    * a LATE purchase (arriving after the watermark passed its signup's
    * window) is DROPPED, never retro-matched (spec-pinned — the batch
    * path is the replay for late data, the standard lambda split).
    */
  def conversionPairsStream(signups: DataFrame, purchases: DataFrame,
                            horizon: String = "7 days"): DataFrame = {
    val s = signups
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"))
      .withWatermark("signup_ts", horizon)
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    s.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"interval $horizon"))
      .select("user_id", "signup_id", "signup_ts", "purchase_id", "purchase_ts")
  }

  /** [[conversionPairsStream]]'s LEFT OUTER form — the join surface inner
    * joins cannot express on streams: every signup row is emitted, with
    * its matched purchases when they exist and exactly ONE null-padded
    * row when the watermark PROVES no purchase arrived inside the
    * horizon. That proof is the point: a non-conversion is not knowable
    * until event time has passed the window's end, so outer rows emit
    * late by construction (one horizon behind the watermark) — the
    * streaming shape of e26's `n_signups` denominator, where the inner
    * join only ever yields the `n_converted` numerator. State bounds and
    * late-side drop semantics are identical to the inner form.
    */
  def conversionFunnelStream(signups: DataFrame, purchases: DataFrame,
                             horizon: String = "7 days"): DataFrame = {
    val s = signups
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"))
      .withWatermark("signup_ts", horizon)
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    s.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"interval $horizon"),
      "left_outer")
      .select(col("user_id"), col("signup_id"), col("signup_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** Streaming corpus filter: the STATELESS half of the curation pipeline
    * (quality floor + language filter) applied to a document stream. Both
    * scores come from ONE narrow projection
    * ([[graft.llm.TextAnalysis.scoreDocuments]]) — joining the separately
    * derived quality/lang frames would be a stream-stream join, while the
    * row-local composition runs under Structured Streaming unchanged.
    * (Near-dup removal needs cross-document state and stays a batch/compact
    * step — the standard split in streaming ingest pipelines.)
    */
  def curateStream(documents: DataFrame, minQuality: Double = 0.53,
                   lang: Option[String] = Some("en")): DataFrame =
    graft.llm.TextAnalysis.scoreDocuments(documents)
      .filter(col("quality") >= minQuality)
      .filter(lang.map(l => col("predicted_lang") === l).getOrElse(lit(true)))

  /** Streaming JSONL document ingestion: the file-watch form of
    * [[graft.etl.JsonlExtract.readDocuments]] — `readStream` over a landing
    * directory with the SAME explicit schema (no inference pass) and
    * PERMISSIVE corrupt capture, so the three-way extract contract
    * (`normalizeDocuments` ∪ `corruptLines` ∪ `rejectedLines` — all narrow
    * filter/projections) composes onto the stream unchanged, as does
    * [[curateStream]] downstream. Each new file in `dir` becomes
    * micro-batch input; ingestion state is Spark's file-tracking log, no
    * operator state. (A production multi-sink split runs the three outputs
    * via `foreachBatch` on one pass; per-output queries re-read only the
    * source listing.)
    */
  def jsonlDocumentStream(spark: org.apache.spark.sql.SparkSession,
                          dir: String,
                          maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(graft.etl.JsonlExtract.DocumentSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Custom keyed state: per-user running (count, decimal-safe total) via
    * mapGroupsWithState — the Structured Streaming escape hatch for
    * aggregations the built-in operators can't express. Emits the updated
    * aggregate for every user touched in each micro-batch.
    */
  def runningUserCounts(events: Dataset[EventRow]): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserAgg, UserAgg](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(userId, 0L, 0.0))
          // cents-exact accumulation (values are 2dp): avoids float drift
          // across micro-batches the same way the batch path sums decimals
          val (n, cents) = rows.foldLeft((prev.n_events, math.round(prev.total_value * 100))) {
            case ((c, s), e) => (c + 1, s + math.round(e.value * 100))
          }
          val next = UserAgg(userId, n, cents / 100.0)
          state.update(next)
          next
      }
  }

  /** Gap-based sessionization as CUSTOM KEYED STATE with EVENT-TIME
    * TIMEOUTS via flatMapGroupsWithState — the session-emission semantics
    * the built-in `session_window` aggregate can't give you: a session row
    * is emitted EXACTLY ONCE, exactly when the watermark proves it closed
    * (either a later event opened the next session, or the event-time
    * timeout fired gap-after its last event). [[sessionWindowStream]] is
    * the built-in twin; this is the escape hatch for when the per-session
    * output needs custom shape or side effects.
    *
    * Semantics contract: events are folded in (ts, event_id) order within
    * each micro-batch; a late event that belongs BEFORE the open session's
    * start (possible inside the watermark horizon) starts/extends sessions
    * as if it were current — exactly-ordered replay is the batch path's
    * job (e02), not a streaming guarantee.
    *
    * Scale shape: state is ONE small case class per ACTIVE user (closed
    * sessions leave the store via the timeout), partitioned by user like
    * any keyed shuffle; emission is append-mode, so downstream sinks never
    * see a session twice.
    */
  def sessionsWithState(events: Dataset[EventRow],
                        gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId,
              new Timestamp(s.start), new Timestamp(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[SessionOut]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.last <= gapMs =>
                  Some(SessionAcc(s.start, math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed += SessionOut(userId,
                    new Timestamp(s.start), new Timestamp(s.last), s.n)
                  Some(SessionAcc(t, t, 1))
                case None => Some(SessionAcc(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timeout must sit beyond the current watermark — a
              // session whose last event is already near the horizon
              // closes at the next possible instant instead of erroring
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }
}
