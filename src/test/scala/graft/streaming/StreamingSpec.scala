package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics tests: incremental execution must agree with the
  * batch twin, and keyed state must accumulate across micro-batches.
  */
class StreamingSpec extends SparkSpec {

  private def ev(id: Long, ts: String, user: Long, typ: String, value: Double) =
    EventRow(id, Timestamp.valueOf(ts), user, typ, value)

  private val batch1 = Seq(
    ev(1, "2024-01-01 10:05:00", 1, "view", 1.50),
    ev(2, "2024-01-01 10:45:00", 1, "view", 2.25),
    ev(3, "2024-01-01 11:10:00", 2, "click", 4.00))
  private val batch2 = Seq(
    ev(4, "2024-01-01 11:30:00", 1, "view", 1.00),
    ev(5, "2024-01-01 12:05:00", 2, "click", 3.75))

  test("streaming windowed aggregation equals the batch result on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Update()).start()
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
      val streamed = spark.table("wc")
        .groupBy("window_start", "event_type") // Update mode re-emits; keep latest per key
        .agg(max("n_events").as("n_events"), max("total_value").as("total_value"))
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      val batch = StreamingOps.windowedCounts((batch1 ++ batch2).toDF())
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.runningUserCounts(stream.toDS())
      .writeStream.format("memory").queryName("ruc").outputMode(OutputMode.Update()).start()
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      val after1 = spark.table("ruc").as[UserAgg].collect().map(u => u.user_id -> u).toMap
      assert(after1(1L) == UserAgg(1L, 2L, 3.75))
      assert(after1(2L) == UserAgg(2L, 1L, 4.00))
      stream.addData(batch2)
      q.processAllAvailable()
      // Update mode appends new rows to the memory sink; latest per user wins
      val after2 = spark.table("ruc").as[UserAgg].collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
      assert(after2(1L) == UserAgg(1L, 3L, 4.75))
      assert(after2(2L) == UserAgg(2L, 2L, 7.75))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions: emitted once, closed by gap or event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.sessionsWithState(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("fs").outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 10 min apart (one session), user 2: one event
      stream.addData(Seq(
        ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
        ev(2, "2024-01-01 10:10:00", 1, "view", 1.0),
        ev(3, "2024-01-01 10:05:00", 2, "click", 1.0)))
      q.processAllAvailable()
      assert(spark.table("fs").isEmpty, "nothing closed yet — no session may emit")
      // user 1 again 40 min after their last event: gap exceeded → the
      // first session closes on arrival of the next one
      stream.addData(Seq(ev(4, "2024-01-01 10:50:00", 1, "view", 1.0)))
      q.processAllAvailable()
      val afterGap = spark.table("fs").as[SessionOut].collect().toSet
      assert(afterGap == Set(SessionOut(1L,
        Timestamp.valueOf("2024-01-01 10:00:00"),
        Timestamp.valueOf("2024-01-01 10:10:00"), 2L)))
      // advance the watermark far past everyone: both open sessions close
      // by EVENT-TIME TIMEOUT, not by a successor event
      stream.addData(Seq(ev(5, "2024-01-01 23:00:00", 99, "view", 1.0)))
      q.processAllAvailable()
      stream.addData(Seq(ev(6, "2024-01-01 23:59:00", 99, "view", 1.0)))
      q.processAllAvailable()
      val closed = spark.table("fs").as[SessionOut].collect()
      assert(closed.length == closed.toSet.size, "a session emitted twice")
      val byUser = closed.groupBy(_.user_id)
      assert(byUser(1L).toSet == Set(
        SessionOut(1L, Timestamp.valueOf("2024-01-01 10:00:00"),
          Timestamp.valueOf("2024-01-01 10:10:00"), 2L),
        SessionOut(1L, Timestamp.valueOf("2024-01-01 10:50:00"),
          Timestamp.valueOf("2024-01-01 10:50:00"), 1L)))
      assert(byUser(2L).toSet == Set(
        SessionOut(2L, Timestamp.valueOf("2024-01-01 10:05:00"),
          Timestamp.valueOf("2024-01-01 10:05:00"), 1L)))
    } finally q.stop()
  }

  test("sessionsWithState agrees with the batch session rollup on in-order data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      ev(1, "2024-01-01 08:00:00", 1, "view", 1.0),
      ev(2, "2024-01-01 08:20:00", 1, "view", 1.0),
      ev(3, "2024-01-01 09:30:00", 1, "view", 1.0),
      ev(4, "2024-01-01 08:05:00", 2, "click", 1.0),
      ev(5, "2024-01-01 09:00:00", 2, "click", 1.0),
      ev(6, "2024-01-01 09:10:00", 2, "click", 1.0))
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.sessionsWithState(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("fsb").outputMode(OutputMode.Append()).start()
    try {
      stream.addData(data)
      q.processAllAvailable()
      stream.addData(Seq(ev(7, "2024-01-02 12:00:00", 99, "view", 1.0)))
      q.processAllAvailable()
      stream.addData(Seq(ev(8, "2024-01-02 13:00:00", 99, "view", 1.0)))
      q.processAllAvailable()
      val streamed = spark.table("fsb").as[SessionOut].collect()
        .filter(_.user_id != 99L) // the watermark-pusher's own sessions
        .map(s => (s.user_id, s.session_start.toString, s.session_end.toString, s.n_events))
        .toSet
      // batch twin: 30-min-gap sessionization of the same rows
      val batch = graft.llm.Events.sessionize(data.toDF(), gapMinutes = 30)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3)))
        .toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicate keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.dedupStream(stream.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      // replay event 2 (same id, different payload) plus one fresh event in
      // a LATER micro-batch — the seen-keys state must suppress the replay
      stream.addData(Seq(
        ev(2, "2024-01-01 10:45:00", 1, "view", 999.0),
        ev(6, "2024-01-01 11:20:00", 2, "click", 1.25)))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 6L))
      // the FIRST arrival's payload survived
      val v2 = spark.table("dedup").filter(col("event_id") === 2).select("value")
        .as[Double].collect()
      assert(v2.toSeq == Seq(2.25))
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the static dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.enrichStream(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich").outputMode(OutputMode.Append()).start()
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(Seq(ev(7, "2024-01-01 12:00:00", 3, "view", 1.0))) // user 3 not in dim
      q.processAllAvailable()
      val rows = spark.table("enrich").select("event_id", "tier")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(1L).contains("gold") && rows(3L).contains("basic"))
      assert(rows(7L).isEmpty, "unmatched stream rows survive with null tier (left join)")
    } finally q.stop()
  }

  test("stream-stream view→purchase join equals the batch join, state bounded by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view", 0),
      ev(2, "2024-01-01 10:30:00", 2, "view", 0))
    val purchases = Seq(
      ev(3, "2024-01-01 10:40:00", 1, "purchase", 5.0),  // 40 min after view 1 → joins
      ev(4, "2024-01-01 12:30:00", 2, "purchase", 7.0))  // 2 h after view 2 → outside horizon
    val vStream = MemoryStream[EventRow]
    val pStream = MemoryStream[EventRow]
    val q = StreamingOps.viewPurchaseJoin(vStream.toDF(), pStream.toDF())
      .writeStream.format("memory").queryName("vpjoin").outputMode(OutputMode.Append()).start()
    try {
      vStream.addData(views)
      q.processAllAvailable()
      pStream.addData(purchases)
      q.processAllAvailable()
      val streamed = spark.table("vpjoin").select("view_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == Set((1L, 3L)))
      val batch = StreamingOps.viewPurchaseJoin(views.toDF(), purchases.toDF())
        .select("view_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("conversion pairs (e26 twin): streamed join equals batch; rollup equals windowedConversion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.Tables.microsTs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val firstSignups = events.filter(col("event_type") === "signup")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .select("event_id", "ts", "user_id")
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "ts", "user_id")
    val sRows = firstSignups.as[(Long, Timestamp, Long)].collect().sortBy(_._2.getTime)
    val pRows = purchases.as[(Long, Timestamp, Long)].collect().sortBy(_._2.getTime)
    val sStream = MemoryStream[(Long, Timestamp, Long)]
    val pStream = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingOps.conversionPairsStream(
        sStream.toDF().toDF("event_id", "ts", "user_id"),
        pStream.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.format("memory").queryName("convpairs")
      .outputMode(OutputMode.Append()).start()
    try {
      // time-ordered halves: in-order arrival, so nothing is late — the
      // equality is then exact (late data is spec'd separately below)
      val (sa, sb) = sRows.splitAt(sRows.length / 2)
      val (pa, pb) = pRows.splitAt(pRows.length / 2)
      sStream.addData(sa.toSeq); pStream.addData(pa.toSeq)
      q.processAllAvailable()
      sStream.addData(sb.toSeq); pStream.addData(pb.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("convpairs")
        .select("signup_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = StreamingOps.conversionPairsStream(firstSignups, purchases)
        .select("signup_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, "streamed pair set must equal the batch interval join")
      assert(streamed.nonEmpty)
      // cohort rollup from the streamed pairs ≡ the registered e26 operator
      // over the same event subset (first signups ∪ purchases)
      val converted = spark.table("convpairs").select("user_id").distinct()
        .withColumn("converted", lit(1L))
      val fromPairs = firstSignups
        .select(col("user_id"), to_date(col("ts")).as("cohort_day"))
        .join(converted, Seq("user_id"), "left")
        .groupBy("cohort_day")
        .agg(count(lit(1)).as("n_signups"),
          sum(coalesce(col("converted"), lit(0L))).as("n_converted"),
          round(sum(coalesce(col("converted"), lit(0L))).cast("double")
            / count(lit(1)).cast("double"), 4).as("cvr"))
        .orderBy("cohort_day")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val evSubset = firstSignups.withColumn("event_type", lit("signup"))
        .unionByName(purchases.withColumn("event_type", lit("purchase")))
      val e26 = graft.llm.Events.windowedConversion(evSubset)
        .orderBy("cohort_day")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(fromPairs == e26,
        "cohort rollup over the streamed pair store must equal the e26 operator")
    } finally q.stop()
  }

  test("conversion pairs: a purchase later than the watermark is DROPPED, not retro-matched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sStream = MemoryStream[(Long, Timestamp, Long)]
    val pStream = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingOps.conversionPairsStream(
        sStream.toDF().toDF("event_id", "ts", "user_id"),
        pStream.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.format("memory").queryName("convlate")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // batch 1 advances BOTH watermarks ~5 weeks past signup 10's window
      sStream.addData(Seq(
        (10L, t("2024-01-01 00:00:00"), 1L),
        (11L, t("2024-02-15 00:00:00"), 2L)))
      pStream.addData(Seq((20L, t("2024-02-15 00:00:00"), 99L)))
      q.processAllAvailable()
      // batch 2: purchase 21 is INSIDE signup 10's 7-day window by event
      // time but arrives after the watermark passed it → dropped;
      // purchase 22 is in signup 11's window and on time → emitted
      pStream.addData(Seq(
        (21L, t("2024-01-02 00:00:00"), 1L),
        (22L, t("2024-02-16 00:00:00"), 2L)))
      q.processAllAvailable()
      val pairs = spark.table("convlate").select("signup_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((11L, 22L)),
        s"late purchase must drop (append-mode exactness), got $pairs")
    } finally q.stop()
  }

  test("conversion funnel (left-outer): non-conversion emits exactly once, only when proven") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val sStream = MemoryStream[(Long, Timestamp, Long)]
    val pStream = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingOps.conversionFunnelStream(
        sStream.toDF().toDF("event_id", "ts", "user_id"),
        pStream.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.format("memory").queryName("convfunnel")
      .outputMode(OutputMode.Append()).start()
    try {
      def rows() = spark.table("convfunnel")
        .select("signup_id", "purchase_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      // user 1 converts; user 2 does not
      sStream.addData(Seq((10L, t("2024-01-01 00:00:00"), 1L),
        (11L, t("2024-01-01 00:00:00"), 2L)))
      pStream.addData(Seq((20L, t("2024-01-02 00:00:00"), 1L)))
      q.processAllAvailable()
      // the match emits immediately; the NON-conversion is not knowable
      // yet — no null row may exist before the watermark proves it
      assert(rows() == Set((10L, 20L)),
        s"only the proven match may emit before the watermark, got ${rows()}")
      // advance both watermarks a month past signup 11's window
      sStream.addData(Seq((12L, t("2024-02-10 00:00:00"), 99L)))
      pStream.addData(Seq((21L, t("2024-02-10 00:00:00"), 98L)))
      q.processAllAvailable()
      // signup 11's null row is now proven and emitted exactly once;
      // signup 12's own window is still open, so it stays pending
      assert(rows() == Set((10L, 20L), (11L, -1L)),
        s"exactly one proven null row, got ${rows()}")
      // batch parity on the closed subset: the static left join agrees
      val batch = StreamingOps.conversionFunnelStream(
          Seq((10L, t("2024-01-01 00:00:00"), 1L), (11L, t("2024-01-01 00:00:00"), 2L))
            .toDF("event_id", "ts", "user_id"),
          Seq((20L, t("2024-01-02 00:00:00"), 1L)).toDF("event_id", "ts", "user_id"))
        .select("signup_id", "purchase_id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(batch == Set((10L, 20L), (11L, -1L)))
    } finally q.stop()
  }

  test("stateless curation stages run unchanged on a document stream (batch ≡ stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.curateStream(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate").outputMode(OutputMode.Append()).start()
    try {
      val (firstHalf, secondHalf) = docs.splitAt(50)
      stream.addData(firstHalf)
      q.processAllAvailable()
      stream.addData(secondHalf)
      q.processAllAvailable()
      val streamed = spark.table("curate").select("doc_id", "quality", "predicted_lang")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      val batch = StreamingOps.curateStream(docs.toSeq.toDF("doc_id", "text"))
        .select("doc_id", "quality", "predicted_lang")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("gopher rule battery runs unchanged on a document stream (batch ≡ stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(80)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val q = graft.llm.TextAnalysis.gopherRules(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = docs.splitAt(40)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.table("gopher_stream")
        .select("doc_id", "n_words", "keep_doc")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
      val batch = graft.llm.TextAnalysis.gopherRules(docs.toSeq.toDF("doc_id", "text"))
        .select("doc_id", "n_words", "keep_doc")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming session windows: closed sessions equal the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sessions = Seq(
      // user 1: two sessions (65-min gap between event 2 and 3 > 30-min gap)
      ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      ev(2, "2024-01-01 10:20:00", 1, "view", 2.0),
      ev(3, "2024-01-01 11:25:00", 1, "view", 4.0),
      // user 2: one session
      ev(4, "2024-01-01 10:10:00", 2, "click", 8.0))
    // far-future event: advances the watermark past every real session
    val flush = ev(99, "2024-01-02 12:00:00", 999, "view", 0.0)
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.sessionWindowStream(stream.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = sessions.splitAt(2)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      stream.addData(Seq(flush)); q.processAllAvailable()
      // one more empty-ish pass so the watermark from the flush batch
      // finalizes the pending sessions
      stream.addData(Seq(flush.copy(event_id = 100))); q.processAllAvailable()
      val streamed = spark.table("sessions")
        .filter(col("user_id") =!= 999)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = graft.llm.Events.sessionWindows(sessions.toDF())
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch,
        s"closed streaming sessions must equal batch:\n$streamed\nvs\n$batch")
      assert(streamed.size == 3, "expected two user-1 sessions + one user-2 session")
    } finally q.stop()
  }

  test("fitted DSIR + BM25 models score a document stream (batch ≡ stream)") {
    // fit once on the static corpus, serve the narrow stage on a stream —
    // both serves are stateless narrow maps, so no watermark or state
    // store is involved and the stream agrees with the batch exactly
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dsirLut = graft.llm.TextAnalysis.dsirModelLut(
      corpus, corpus.filter(col("lang") === "en"), buckets = 256)
    val bm25 = graft.llm.TextAnalysis.bm25Fit(corpus, Seq("spark", "join"))
    val docs = corpus.select("doc_id", "text").limit(80)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val streamDf = stream.toDF().toDF("doc_id", "text")
    val q1 = graft.llm.TextAnalysis.dsirScoreNarrow(streamDf, dsirLut)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode(OutputMode.Append()).start()
    val q2 = graft.llm.TextAnalysis.bm25ScoreNarrow(streamDf, bm25)
      .writeStream.format("memory").queryName("bm25_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = docs.splitAt(40)
      stream.addData(a); q1.processAllAvailable(); q2.processAllAvailable()
      stream.addData(b); q1.processAllAvailable(); q2.processAllAvailable()
      val batchDf = docs.toSeq.toDF("doc_id", "text")
      val dsirStreamed = spark.table("dsir_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val dsirBatch = graft.llm.TextAnalysis.dsirScoreNarrow(batchDf, dsirLut)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(dsirStreamed == dsirBatch && dsirStreamed.nonEmpty)
      val bm25Streamed = spark.table("bm25_stream")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val bm25Batch = graft.llm.TextAnalysis.bm25ScoreNarrow(batchDf, bm25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(bm25Streamed == bm25Batch && bm25Streamed.nonEmpty)
    } finally { q1.stop(); q2.stop() }
  }

  test("chunking runs unchanged on a document stream (batch ≡ stream, row-local op)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(60)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val q = graft.llm.TextAnalysis.chunkDocuments(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = docs.splitAt(30)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      val streamed = spark.table("chunks")
        .select("doc_id", "chunk_id", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = graft.llm.TextAnalysis.chunkDocuments(docs.toSeq.toDF("doc_id", "text"))
        .select("doc_id", "chunk_id", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch)
      assert(streamed.size > docs.length, "long docs produced multiple chunks")
    } finally q.stop()
  }

  test("late events beyond the watermark are dropped from finalized windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.windowedCounts(stream.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("late").outputMode(OutputMode.Append()).start()
    try {
      stream.addData(batch1) // max ts 11:10 → watermark 10:10 after this batch
      q.processAllAvailable()
      stream.addData(Seq(ev(9, "2024-01-01 14:00:00", 3, "view", 1.0))) // advances watermark to 13:00
      q.processAllAvailable()
      stream.addData(Seq(ev(10, "2024-01-01 10:20:00", 1, "view", 99.0))) // late, window [10,11) finalized
      q.processAllAvailable()
      stream.addData(Seq(ev(11, "2024-01-01 16:00:00", 3, "view", 1.0))) // push watermark past everything
      q.processAllAvailable()
      val w10 = spark.table("late")
        .filter(col("window_start") === Timestamp.valueOf("2024-01-01 10:00:00"))
        .collect()
      assert(w10.length == 1)
      assert(w10(0).getAs[Long]("n_events") == 2) // late event 10 NOT counted
    } finally q.stop()
  }

  test("streaming JSONL ingestion: file-watched micro-batches equal the batch extract") {
    import graft.etl.JsonlExtract
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-stream").toString
    def writeFile(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    // first landing file: two good docs, one malformed line
    writeFile("a.jsonl",
      """{"doc_id": 1, "text": "alpha beta gamma", "lang": "en", "source": "t"}""",
      """{"doc_id": 2, "text": "truncated mid""",
      """{"doc_id": 3, "text": "delta epsilon zeta", "source": "t"}""")
    val stream = StreamingOps.jsonlDocumentStream(spark, dir)
    val q = JsonlExtract.normalizeDocuments(stream)
      .writeStream.format("memory").queryName("jl").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // a second file lands → a new micro-batch picks it up incrementally
      writeFile("b.jsonl",
        """{"doc_id": 4, "text": "eta theta iota", "lang": "fr", "source": "t"}""")
      q.processAllAvailable()
      val streamed = spark.table("jl")
        .select("doc_id", "lang", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val batch = JsonlExtract.normalizeDocuments(JsonlExtract.readDocuments(spark, dir))
        .select("doc_id", "lang", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(streamed == batch)
      assert(streamed.map(_._1) == Set(1L, 3L, 4L)) // corrupt line 2 excluded
      assert(streamed.exists { case (id, lang, _) => id == 3L && lang == "und" })
    } finally q.stop()
  }

  test("session windows merge across micro-batches and finalize past the watermark (e05 streaming twin)") {
    // substantiates the Events.sessionWindows claim that the SAME operator
    // runs stateful under Structured Streaming: a later micro-batch must
    // EXTEND a user's open session (gap-merge state), and sessions emit in
    // Append mode only once the watermark passes session end + gap.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val sessionEvents = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view", 1.00),
      ev(2, "2024-01-01 10:10:00", 1, "view", 2.00),
      ev(3, "2024-01-01 10:05:00", 2, "click", 4.00))
    val extension = ev(4, "2024-01-01 10:20:00", 1, "view", 0.50)
    val q = graft.llm.Events.sessionWindows(stream.toDF().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()
    try {
      stream.addData(sessionEvents)
      q.processAllAvailable()
      stream.addData(Seq(extension)) // within user 1's 30-min gap → same session
      q.processAllAvailable()
      // sentinel advances event time past every open session + gap + watermark
      stream.addData(Seq(ev(5, "2024-01-01 14:00:00", 99, "view", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("sess")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3))).toSet
      val batchTwin = graft.llm.Events.sessionWindows((sessionEvents :+ extension).toDF())
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batchTwin)
      // user 1's session merged across the two micro-batches: 3 events 10:00–10:20
      assert(streamed.contains((1L, "2024-01-01 10:00:00.0", 3L, 3.50)))
    } finally q.stop()
  }

  test("streaming JSONL quarantine: corrupt lines surface through the stream too") {
    import graft.etl.JsonlExtract
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-quar").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.jsonl"),
      ("""{"doc_id": 1, "text": "fine", "lang": "en", "source": "t"}""" + "\n" +
        """{"doc_id": 2, "broken""" + "\n").getBytes("UTF-8"))
    val q = JsonlExtract.corruptLines(StreamingOps.jsonlDocumentStream(spark, dir))
      .writeStream.format("memory").queryName("jlq").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val quarantined = spark.table("jlq").collect()
      assert(quarantined.length == 1)
      assert(quarantined(0).getAs[String]("_corrupt_record").contains("broken"))
    } finally q.stop()
  }
}
