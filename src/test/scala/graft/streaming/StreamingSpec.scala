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

  test("conversion-pair ingest: both crash windows leave the store exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val s1 = Seq((10L, t("2024-01-01 10:00:00"), 1L), (11L, t("2024-01-01 11:00:00"), 2L))
    val p1 = Seq((20L, t("2024-01-02 10:00:00"), 1L), (21L, t("2024-01-03 11:00:00"), 2L))
    val s2 = Seq((12L, t("2024-01-04 09:00:00"), 3L))
    val p2 = Seq((22L, t("2024-01-05 09:00:00"), 3L))
    def pairsIn(path: String): Set[(Long, Long)] =
      spark.read.parquet(path).select("signup_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((10L, 20L), (11L, 21L), (12L, 22L))

    // ---- crash window A: mark committed, Spark's commit log lost → the
    // replayed delivery is SKIPPED outright
    val rootA = java.nio.file.Files.createTempDirectory("graft-conv-a").toString
    val sA = MemoryStream[(Long, Timestamp, Long)]
    val pA = MemoryStream[(Long, Timestamp, Long)]
    def runA(): Unit = {
      val q = StreamingOps.ingestConversionPairsStream(
        sA.toDF().toDF("event_id", "ts", "user_id"),
        pA.toDF().toDF("event_id", "ts", "user_id"),
        s"$rootA/store", s"$rootA/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    sA.addData(s1); pA.addData(p1); runA()
    sA.addData(s2); pA.addData(p2); runA()
    assert(pairsIn(s"$rootA/store") == expected)
    // day-partitioned on disk (the event-log layout): per-day pruning and
    // compactPartitioned both hang off this
    val dayDirs = new java.io.File(s"$rootA/store").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("conv_day=")).sorted
    assert(dayDirs.toSeq == Seq("conv_day=2024-01-02", "conv_day=2024-01-03", "conv_day=2024-01-05"))
    val oneDay = spark.read.parquet(s"$rootA/store")
      .filter(col("conv_day") === lit(java.sql.Date.valueOf("2024-01-02")))
    assert(oneDay.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("PartitionFilters") && l.contains("conv_day")),
      "a one-day read must prune at listing time")
    assert(oneDay.count() == 1)
    val commits = new java.io.File(s"$rootA/ckpt/commits").listFiles()
      .map(_.getName).filterNot(_.startsWith("."))
    val last = commits.map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$rootA/ckpt/commits/$f"))
    }
    runA()
    assert(pairsIn(s"$rootA/store") == expected,
      "a mark-skipped replay must not re-append")

    // ---- crash window B: the append LANDED but the process died before
    // the mark write (simulated: store pre-populated, no mark, fresh
    // lineage) → the first delivery runs Recover and the pair-key
    // anti-join appends nothing already stored
    val rootB = java.nio.file.Files.createTempDirectory("graft-conv-b").toString
    val batch1Pairs = StreamingOps.conversionPairsStream(
        s1.toDF("event_id", "ts", "user_id"), p1.toDF("event_id", "ts", "user_id"))
      .withColumn("pair_key", concat_ws(":", col("signup_id"), col("purchase_id")))
      .withColumn("conv_day", to_date(col("purchase_ts")))
    batch1Pairs.write.partitionBy("conv_day").parquet(s"$rootB/store")
    val sB = MemoryStream[(Long, Timestamp, Long)]
    val pB = MemoryStream[(Long, Timestamp, Long)]
    def runB(): Unit = {
      val q = StreamingOps.ingestConversionPairsStream(
        sB.toDF().toDF("event_id", "ts", "user_id"),
        pB.toDF().toDF("event_id", "ts", "user_id"),
        s"$rootB/store", s"$rootB/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    sB.addData(s1); pB.addData(p1); runB() // replayed delivery → Recover, anti-joined
    assert(pairsIn(s"$rootB/store") == Set((10L, 20L), (11L, 21L)),
      "a tag-detected replay must not duplicate pairs")
    sB.addData(s2); pB.addData(p2); runB() // steady state appends
    assert(pairsIn(s"$rootB/store") == expected)
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

  test("continuous deduped ingest: streamed micro-batches equal sequential batch ingestion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def part(r: Long) = docs.filter(col("doc_id") % 3 === r)
    val initial = part(0)
    val b1 = part(1).as[(Long, String)].collect().toSeq
    val b2 = part(2).as[(Long, String)].collect().toSeq

    val root = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    // streamed path: index seeded with the initial corpus, two micro-batches
    graft.llm.Dedup.writeCorpusIndex(initial, s"$root/idx_s")
    // compactEvery = 1: every batch folds the index's version dirs — the
    // equality below simultaneously proves compaction changes no answers
    // (the batch twin never compacts)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.ingestDedupedStream(
      stream.toDF().toDF("doc_id", "text"),
      s"$root/idx_s", s"$root/corpus_s", s"$root/ckpt", compactEvery = 1)
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val pointer = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/idx_s", "CURRENT")).trim
    assert(!pointer.contains("\n"),
      s"compactEvery=1 must leave a single folded version, got: $pointer")

    // batch twin: same batches through the batch ops sequentially
    graft.llm.Dedup.writeCorpusIndex(initial, s"$root/idx_b")
    Seq(b1, b2).foreach { b =>
      val survivors = graft.llm.Dedup
        .dedupAgainstIndex(b.toDF("doc_id", "text"), s"$root/idx_b")
        .localCheckpoint(true)
      if (survivors.count() > 0) {
        survivors.write.mode("append").parquet(s"$root/corpus_b")
        graft.llm.Dedup.appendToCorpusIndex(survivors, s"$root/idx_b")
      }
    }

    def corpus(p: String) = spark.read.parquet(p).as[(Long, String)].collect().toSet
    val streamed = corpus(s"$root/corpus_s")
    val batch = corpus(s"$root/corpus_b")
    assert(streamed.nonEmpty && streamed.size < (b1.size + b2.size),
      "ingest must admit survivors AND drop near-dups of the indexed corpus")
    assert(streamed == batch, s"stream/batch ingest diverged: " +
      s"only-stream=${(streamed -- batch).map(_._1)}, only-batch=${(batch -- streamed).map(_._1)}")
    // the index extended identically too: batch 2's dups of batch-1
    // SURVIVORS are dropped (cross-batch state lives in the store)
    def indexedIds(p: String) = graft.llm.Dedup.indexShingles(spark, p)
      .select("doc_id").as[Long].collect().toSet
    assert(indexedIds(s"$root/idx_s") == indexedIds(s"$root/idx_b"))
  }

  test("streaming SCD2: stream equals batch-sequential truth; replay versions nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.warehouse.{ParquetWarehouse, ScdDim}
    val root = java.nio.file.Files.createTempDirectory("graft-scd-stream").toString
    val b1 = Seq((1L, "a", "2026-01-01"), (2L, "b", "2026-01-01"))
    val b2 = Seq((1L, "a2", "2026-02-01"), (2L, "b", "2026-02-01")) // 2 is a no-op

    def dimRows() = ParquetWarehouse.readTable(spark, root, "dim")
      .orderBy("bk", "effective_from")
      .select(col("bk"), col("seg"), col("effective_from").cast("string"),
        col("effective_to").cast("string"), col("is_current"))
      .as[(Long, String, String, Option[String], Boolean)].collect().toSeq

    val stream = MemoryStream[(Long, String, String)]
    val q = StreamingOps.ingestScdDimStream(
      stream.toDF().toDF("bk", "seg", "eff"),
      root, s"$root/ckpt", Seq("bk"), Seq("seg"), "eff")
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()

    val expected = Seq(
      (1L, "a", "2026-01-01", Some("2026-02-01"), false),
      (1L, "a2", "2026-02-01", None, true),
      (2L, "b", "2026-01-01", None, true))
    assert(dimRows() === expected)

    // batch-sequential twin from the same deliveries
    val dim0 = ScdDim.applyBatch(
      ScdDim.initial(Seq.empty[(Long, String)].toDF("bk", "seg"), lit("2026-01-01")),
      b1.map(r => (r._1, r._2)).toDF("bk", "seg"), Seq("bk"), Seq("seg"), lit("2026-01-01"))
    val dimB = ScdDim.applyBatch(dim0,
      b2.map(r => (r._1, r._2)).toDF("bk", "seg"), Seq("bk"), Seq("seg"), lit("2026-02-01"))
    assert(dimB.count() === 3)

    // crash replay: the same b2 re-delivered through a FRESH checkpoint
    // (reprocessing) — SCD2's no-op rule must version NOTHING
    val replay = MemoryStream[(Long, String, String)]
    val q2 = StreamingOps.ingestScdDimStream(
      replay.toDF().toDF("bk", "seg", "eff"),
      root, s"$root/ckpt2", Seq("bk"), Seq("seg"), "eff")
    try { replay.addData(b2); q2.processAllAvailable() } finally q2.stop()
    assert(dimRows() === expected, "replayed batch must not create versions")
  }

  test("deduped ingest replay window: a batch re-delivered after a crash duplicates nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val initial = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1).as[(Long, String)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-replay").toString
    graft.llm.Dedup.writeCorpusIndex(initial, s"$root/idx")
    // simulate the crash window: first delivery appended to the corpus but
    // died BEFORE the index append
    val survivors = graft.llm.Dedup
      .dedupAgainstIndex(b1.toDF("doc_id", "text"), s"$root/idx")
      .localCheckpoint(true)
    val nSurvivors = survivors.count()
    assert(nSurvivors > 0)
    survivors.write.mode("append").parquet(s"$root/corpus")
    // the replayed delivery arrives through the stream
    val stream = MemoryStream[(Long, String)]
    val q = StreamingOps.ingestDedupedStream(
      stream.toDF().toDF("doc_id", "text"), s"$root/idx", s"$root/corpus", s"$root/ckpt")
    try { stream.addData(b1); q.processAllAvailable() } finally q.stop()

    val corpus = spark.read.parquet(s"$root/corpus")
    assert(corpus.count() == nSurvivors, "replay must not duplicate corpus rows")
    assert(corpus.select("doc_id").distinct().count() == nSurvivors)
    // and the index caught up on the replay
    val indexed = graft.llm.Dedup.indexShingles(spark, s"$root/idx")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.select("doc_id").as[Long].collect().forall(indexed.contains),
      "replay must complete the interrupted index append")
  }

  test("vector ingest replay: a crash-replayed micro-batch does not duplicate index contents") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val half2rows = embs.filter(col("vec_id") % 2 =!= 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-vec-replay").toString
    graft.llm.Similarity.writeIvfIndex(embs.filter(col("vec_id") % 2 === 0), s"$root/idx")
    val stream = MemoryStream[(Long, Array[Float])]
    def run(): Unit = {
      val q = StreamingOps.ingestVectorsStream(
        stream.toDF().toDF("vec_id", "embedding"), s"$root/idx", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def uncommitBatch0(): Unit = Seq("0", ".0.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f"))
    }
    stream.addData(half2rows)
    run()
    // crash window A: appends + high-water mark committed, but the process
    // died before Spark recorded the batch — erase the checkpoint commit so
    // the restart re-delivers batchId 0; the guard skips it outright.
    uncommitBatch0()
    run()
    // crash window B: appends landed but the process died BEFORE the mark
    // write — erase commit AND mark; the restart's first delivery takes the
    // defensive anti-join path and lands nothing twice.
    uncommitBatch0()
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/idx/_streaming_hwm"))
    run()
    val vectors = spark.read.parquet(s"$root/idx/vectors")
    assert(vectors.count() == embs.count(), "replayed vectors must not land twice")
    assert(vectors.select("vec_id").distinct().count() == embs.count())
  }

  test("daily-sketch ingest: streamed store equals batch build; replays cannot inflate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.Tables.microsTs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
      .select("user_id", "ts")
    val rows = events.as[(Long, java.sql.Timestamp)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-sk-stream").toString
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    def run(): Unit = {
      val q = StreamingOps.ingestDailySketchStream(
        stream.toDF().toDF("user_id", "ts"), s"$root/store", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def uncommit(id: Long): Unit = Seq(s"$id", s".$id.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f"))
    }
    def served(): Seq[(String, Long)] =
      graft.llm.Events.rollingDistinctUsersFromStore(spark, s"$root/store")
        .orderBy("win_day")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    val (a, b) = rows.splitAt(rows.length / 2)
    stream.addData(a); run()
    stream.addData(b); run()
    val expected = graft.llm.Events.rollingDistinctUsersSketch(events)
      .orderBy("win_day")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(served() == expected,
      "two streamed appends must serve the single-pass estimates exactly")
    // crash window A: mark committed, Spark commit log lost — guard skips
    uncommit(1)
    run()
    assert(served() == expected)
    // crash window B: append landed, process died before the mark — the TAG
    // detects it; and even a hypothetical double-append could not inflate
    // (union is register-wise max), which the direct double-append proves:
    uncommit(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/store/_streaming_hwm"))
    run()
    assert(served() == expected)
    graft.operators.SketchStore.append(
      graft.llm.Events.dailyUserSketches(b.toDF("user_id", "ts")), s"$root/store")
    assert(served() == expected, "idempotent union: forced double-append changes nothing")
  }

  test("DSIR count ingest: streamed appends equal batch counts; replays never double-count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-dsir-stream").toString
    val stream = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = StreamingOps.ingestDsirCountsStream(
        stream.toDF().toDF("doc_id", "text"), s"$root/store", s"$root/ckpt",
        buckets = 256)
      try q.processAllAvailable() finally q.stop()
    }
    def uncommit(id: Long): Unit = Seq(s"$id", s".$id.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f"))
    }
    def view(): Map[Long, Long] =
      graft.operators.CountStore.read(spark, s"$root/store")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (a, b) = rows.splitAt(rows.length / 2)
    stream.addData(a); run()
    stream.addData(b); run()
    val expected = graft.llm.TextAnalysis.dsirBucketCounts(docs, 256)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(view() == expected, "two streamed appends must equal the batch histogram")
    // crash window A: the mark committed but Spark's commit log was lost —
    // the restart re-delivers the last batch; the guard skips it outright
    uncommit(1)
    run()
    assert(view() == expected, "a mark-skipped replay must not re-append")
    // crash window B: the append landed but the process died BEFORE the
    // mark write — the restart's first delivery finds the batch TAG
    // already committed in the store and appends nothing (additive state
    // cannot be repaired downstream, so this is the critical window)
    uncommit(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/store/_streaming_hwm"))
    run()
    assert(view() == expected, "a tag-detected replay must not double-count")
  }

  test("quantile-histogram ingest: streamed percentiles equal the batch serve; replays never shift them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_type", "value")
    val rows = events.as[(String, Double)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-q-stream").toString
    val stream = MemoryStream[(String, Double)]
    def run(): Unit = {
      val q = StreamingOps.ingestQuantilesStream(
        stream.toDF().toDF("event_type", "value"), s"$root/store", s"$root/ckpt",
        keyCol = "event_type", valueCol = "value")
      try q.processAllAvailable() finally q.stop()
    }
    def uncommit(id: Long): Unit = Seq(s"$id", s".$id.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f"))
    }
    def served(): Seq[(String, Int, Long, Double)] =
      graft.operators.QuantileStore.serve(spark, s"$root/store", Seq(25, 50, 75, 90))
        .orderBy("event_type", "pct")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val (a, b) = rows.splitAt(rows.length / 2)
    stream.addData(a); run()
    stream.addData(b); run()
    val full = java.nio.file.Files.createTempDirectory("graft-q-full").toString
    graft.operators.QuantileStore.write(events, "event_type", "value", full)
    val expected = graft.operators.QuantileStore.serve(spark, full, Seq(25, 50, 75, 90))
      .orderBy("event_type", "pct")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(served() == expected,
      "two streamed appends must serve the one-shot percentiles exactly")
    // crash window A: mark committed, Spark commit log lost — guard skips
    uncommit(1)
    run()
    assert(served() == expected, "a mark-skipped replay must not re-append")
    // crash window B: append landed, process died before the mark — the
    // TAG detects it (a double-appended histogram shifts every rank)
    uncommit(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/store/_streaming_hwm"))
    run()
    assert(served() == expected, "a tag-detected replay must not double-count")
  }

  test("manifested-table ingest: streamed appends serve point probes; replays never double rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.warehouse.ParquetWarehouse
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val rows = orders.as[(Long, Double)].collect().toSeq.sortBy(_._1)
    val root = java.nio.file.Files.createTempDirectory("graft-manifest-stream").toString
    val store = s"$root/store"
    // the streaming maintainer appends; the table must pre-exist (v1)
    val (seed, rest) = rows.splitAt(rows.length / 3)
    ParquetWarehouse.writeManifested(
      seed.toDF("o_orderkey", "o_totalprice"), store, "o_orderkey", files = 2)
    val stream = MemoryStream[(Long, Double)]
    def run(): Unit = {
      val q = StreamingOps.ingestManifestedStream(
        stream.toDF().toDF("o_orderkey", "o_totalprice"), store, "o_orderkey",
        s"$root/ckpt", files = 2)
      try q.processAllAvailable() finally q.stop()
    }
    def uncommit(id: Long): Unit = Seq(s"$id", s".$id.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f"))
    }
    // bounded probe (five keys spanning seed + both batches) plus the
    // manifest's exact row accounting — a doubled or dropped batch moves
    // the n_rows total even where the probe keys miss it
    val probeKeys = Seq(rows.head._1, rows(rows.length / 4)._1,
      rows(rows.length / 2)._1, rows(3 * rows.length / 4)._1, rows.last._1).distinct
    val probeExpect = rows.filter(r => probeKeys.contains(r._1))
    def served(): (Seq[(Long, Double)], Long) = (
      ParquetWarehouse.manifestProbe(spark, store, "o_orderkey", probeKeys)
        .as[(Long, Double)].collect().toSeq.sortBy(_._1),
      ParquetWarehouse.currentManifest(spark, store)
        .agg(sum("n_rows")).head().getLong(0))
    val want = (probeExpect, rows.length.toLong)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    stream.addData(b1); run()
    stream.addData(b2); run()
    assert(served() == want, "seed + two streamed batches serve every row exactly once")
    // crash window A: the mark committed but Spark's commit log was lost —
    // the restart re-delivers the last batch; the guard skips it outright
    uncommit(1)
    run()
    assert(served() == want, "a mark-skipped replay must not re-append")
    // crash window B: the POINTER swap landed (data committed) but the
    // process died before the mark write — the replay finds its own tag ON
    // the pointer and only re-commits the mark; a blind re-append would
    // double every row of the batch
    uncommit(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/_streaming_hwm"))
    assert(ParquetWarehouse.manifestCommitTag(store).contains("batch-1"))
    run()
    assert(served() == want, "a tag-detected replay must not double rows")
    // crash window C (the manifested-specific one): data files landed but
    // the POINTER never swapped — the files are orphans; the replay
    // re-appends fresh files and commits them, rows exactly once
    uncommit(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/_streaming_hwm"))
    // roll the pointer back to the pre-batch-1 manifest (v2 = batch 0's
    // commit), stranding batch 1's files exactly as a pre-swap crash would
    graft.warehouse.AtomicPointer.write(s"$store/_MANIFEST_CURRENT", "v2 batch-0")
    run()
    assert(served() == want,
      "a pre-swap crash replay must re-land the batch exactly once (orphans invisible)")
    // the stranded orphans are reclaimable and reclaim changes nothing served
    val (orphans, _) = ParquetWarehouse.vacuumManifested(spark, store)
    assert(orphans >= 2, s"the stranded attempt's files must reclaim, got $orphans")
    assert(served() == want)
  }

  test("steady-state vector ingest plans no scan over the stored vectors table") {
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-vec-steady").toString
    graft.llm.Similarity.writeIvfIndex(embs, s"$root/idx")
    val batch = embs.select("vec_id", "embedding")
    // steady state: the appended rows are a pure function of the batch
    val fresh = StreamingOps.ingestVectorRows(batch, s"$root/idx", recover = false)
    assert(!fileScanPaths(fresh).exists(_.contains("/idx/vectors")),
      "steady-state micro-batch must not scan the store's key column")
    // the full append frame reads only the (≤cells-row) centroids table
    val appended = graft.llm.Similarity.ivfIndexRows(
      fresh, spark.read.parquet(s"$root/idx/centroids"))
    assert(!fileScanPaths(appended).exists(_.contains("/idx/vectors")))
    // the crash-recovery delivery is the ONLY one that pays the key scan
    val recover = StreamingOps.ingestVectorRows(batch, s"$root/idx", recover = true)
    assert(fileScanPaths(recover).exists(_.contains("/idx/vectors")))
  }

  test("steady-state deduped ingest executes no scan over the corpus store") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val initial = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1).as[(Long, String)].collect().toSeq
    val b2 = docs.filter(col("doc_id") % 3 === 2).as[(Long, String)].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-steady").toString
    graft.llm.Dedup.writeCorpusIndex(initial, s"$root/idx")
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        fileScanPaths(qe.analyzed).foreach(p => scanned.add(p))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val stream = MemoryStream[(Long, String)]
      val q = StreamingOps.ingestDedupedStream(
        stream.toDF().toDF("doc_id", "text"), s"$root/idx", s"$root/corpus", s"$root/ckpt")
      try {
        stream.addData(b1); q.processAllAvailable() // batch 0: Recover posture
        scanned.clear()
        stream.addData(b2); q.processAllAvailable() // batch 1: steady state
      } finally q.stop()
      // listener events post asynchronously — wait for batch 1's evidence
      // (the semantic dedup's index scan) before asserting an absence
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def sawIndexScan = scanned.asScala.exists(p => p.contains("/idx/") && p.contains("buckets"))
      while (!sawIndexScan && System.nanoTime() < deadline) Thread.sleep(50)
      assert(sawIndexScan, "expected the index bucket scan to be captured")
      assert(!scanned.asScala.exists(_.contains(s"$root/corpus")),
        "steady-state micro-batch must not scan the corpus store's key column")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ReplayGuard: skip at-or-below the mark, anti-join only on the first delivery after restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-guard").toString
    def checkpoint(id: String): String = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-guard-ckpt-$id")
      java.nio.file.Files.writeString(ckpt.resolve("metadata"), s"""{"id":"$id"}""")
      ckpt.toString
    }
    val ckptA = checkpoint("query-a")
    val g1 = new StreamingOps.ReplayGuard(dir, ckptA)
    assert(g1.posture(0L) == StreamingOps.Recover, "first-ever delivery is defensively idempotent")
    g1.commit(0L)
    assert(g1.posture(1L) == StreamingOps.Fresh, "later in-run deliveries are guaranteed unseen")
    g1.commit(1L)
    // restart after a crash between the mark write and the checkpoint
    // commit: batch 1 replays and is skipped; batch 2 is then fresh
    val g2 = new StreamingOps.ReplayGuard(dir, ckptA)
    assert(g2.posture(1L) == StreamingOps.Skip)
    assert(g2.posture(2L) == StreamingOps.Fresh)
    g2.commit(2L)
    // restart after a crash before the mark write: batch 3 recovers
    val g3 = new StreamingOps.ReplayGuard(dir, ckptA)
    assert(g3.posture(3L) == StreamingOps.Recover)
    // a NEW checkpoint lineage renumbers batches from 0: the old mark must
    // NOT suppress them (an unscoped mark would silently drop every batch
    // up to the old high-water — data loss)
    val g4 = new StreamingOps.ReplayGuard(dir, checkpoint("query-b"))
    assert(g4.posture(0L) == StreamingOps.Recover,
      "a mark from another checkpoint lineage must never Skip")
    assert(g4.posture(1L) == StreamingOps.Fresh)
  }

  test("vector ingest after a checkpoint reset lands new data instead of skipping it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val part1 = embs.filter(col("vec_id") % 4 === 1)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val part2 = embs.filter(col("vec_id") % 4 === 2)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-vec-reset").toString
    graft.llm.Similarity.writeIvfIndex(embs.filter(col("vec_id") % 4 === 0), s"$root/idx")
    def ingest(rows: Seq[(Long, Array[Float])]): Unit = {
      val stream = MemoryStream[(Long, Array[Float])]
      stream.addData(rows)
      val q = StreamingOps.ingestVectorsStream(
        stream.toDF().toDF("vec_id", "embedding"), s"$root/idx", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    ingest(part1)
    // operational reset: the checkpoint is lost; a NEW stream (same path)
    // renumbers micro-batches from 0 — the high-water mark left by the old
    // lineage must not suppress the new batch 0
    def rmdir(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
    rmdir(s"$root/ckpt")
    ingest(part2)
    val stored = spark.read.parquet(s"$root/idx/vectors")
      .select("vec_id").as[Long].collect().toSet
    assert(part2.map(_._1).forall(stored.contains),
      "post-reset batches must land (stale mark would silently drop them)")
    assert(stored.size == embs.filter(col("vec_id") % 4 =!= 3).count(),
      "no duplicates either — the reset lineage recovers idempotently")
  }

  test("continuous vector ingest: streamed index contents equal the batch-built index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2rows = embs.filter(col("vec_id") % 2 =!= 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq

    val root = java.nio.file.Files.createTempDirectory("graft-vec-ingest").toString
    graft.llm.Similarity.writeIvfIndex(half1, s"$root/idx_s")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.ingestVectorsStream(
      stream.toDF().toDF("vec_id", "embedding"), s"$root/idx_s", s"$root/ckpt")
    try {
      stream.addData(half2rows.take(half2rows.size / 2)); q.processAllAvailable()
      stream.addData(half2rows.drop(half2rows.size / 2)); q.processAllAvailable()
    } finally q.stop()

    // batch twin with the same initial centroids (same corpus + seed)
    graft.llm.Similarity.writeIvfIndex(half1, s"$root/idx_b")
    graft.llm.Similarity.appendToIvfIndex(
      half2rows.toDF("vec_id", "embedding"), s"$root/idx_b")

    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("long"), col("scale"), col("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2).toString,
        r.getSeq[Int](3).mkString(","))).toSet
    val streamed = rows(s"$root/idx_s/vectors")
    assert(streamed.size == embs.count(), "every vector lands in the streamed index exactly once")
    assert(streamed == rows(s"$root/idx_b/vectors"),
      "streamed index contents must equal the batch-built index")
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

  test("streamed event-log landing: day-partitioned store equals the batch write, dups dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      ev(2, "2024-01-02 11:00:00", 2, "click", 2.0),
      ev(2, "2024-01-02 11:00:00", 2, "click", 99.0)) // within-batch dup key
    val b2 = Seq(
      ev(3, "2024-01-02 12:00:00", 1, "view", 3.0),
      ev(4, "2024-01-03 09:00:00", 3, "purchase", 4.0))
    val root = java.nio.file.Files.createTempDirectory("graft-evingest").toString
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.ingestEventsStream(
      stream.toDF(), s"$root/store", s"$root/ckpt")
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(s"$root/store")
    assert(stored.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // day-partitioned on disk: one directory per event date
    val dirs = new java.io.File(s"$root/store").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_date=")).sorted
    assert(dirs.toSeq == Seq("event_date=2024-01-01", "event_date=2024-01-02", "event_date=2024-01-03"))
    // a one-day read prunes at listing time
    val oneDay = stored.filter(col("event_date") === lit(java.sql.Date.valueOf("2024-01-02")))
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("event_date")))
    assert(oneDay.count() == 2)
    // first arrival's payload survived the within-batch dedup
    assert(stored.filter(col("event_id") === 2).select("value").as[Double].collect().toSeq == Seq(2.0))
  }

  test("event-log ingest replay: a crash-replayed micro-batch does not duplicate the store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      ev(2, "2024-01-02 11:00:00", 2, "click", 2.0))
    val root = java.nio.file.Files.createTempDirectory("graft-evreplay").toString
    // crash window: the first delivery's append landed but the high-water
    // mark never committed
    b1.toDF().withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").parquet(s"$root/store")
    val stream = MemoryStream[EventRow]
    val q = StreamingOps.ingestEventsStream(stream.toDF(), s"$root/store", s"$root/ckpt")
    try {
      stream.addData(b1); q.processAllAvailable() // replayed delivery → Recover, pruned to b1's days
      stream.addData(Seq(ev(3, "2024-01-02 12:00:00", 1, "view", 3.0)))
      q.processAllAvailable() // steady state appends
    } finally q.stop()
    val stored = spark.read.parquet(s"$root/store")
    assert(stored.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L),
      "replay must not duplicate, steady state must append")
  }

  test("MIPS vector ingest: streamed index equals batch twin; anchor violation fails the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    // the streamed half scales down 0.9×, so every appended norm sits
    // inside the anchor M² the build half froze
    val half2rows = embs.filter(col("vec_id") % 2 =!= 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, e) => (id, e.map(x => x * 0.9f)) }

    val root = java.nio.file.Files.createTempDirectory("graft-mips-ingest").toString
    graft.llm.Similarity.writeMipsIndex(half1, s"$root/idx_s")
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.ingestMipsVectorsStream(
      stream.toDF().toDF("vec_id", "embedding"), s"$root/idx_s", s"$root/ckpt")
    try {
      stream.addData(half2rows.take(half2rows.size / 2)); q.processAllAvailable()
      stream.addData(half2rows.drop(half2rows.size / 2)); q.processAllAvailable()
    } finally q.stop()

    graft.llm.Similarity.writeMipsIndex(half1, s"$root/idx_b")
    graft.llm.Similarity.appendToMipsIndex(
      half2rows.toDF("vec_id", "embedding"), s"$root/idx_b")

    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("long"), col("scale"), col("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2).toString,
        r.getSeq[Int](3).mkString(","))).toSet
    val streamed = rows(s"$root/idx_s/vectors")
    assert(streamed.size == embs.count(), "every vector lands exactly once")
    assert(streamed == rows(s"$root/idx_b/vectors"),
      "streamed MIPS index contents must equal the batch-built index")

    // a batch with a vector LONGER than the frozen anchor must fail the
    // query loudly — silent mis-geometry is the failure mode the sidecar
    // contract exists to prevent (own index + checkpoint: the writer
    // lease correctly refuses a second checkpoint on idx_s)
    graft.llm.Similarity.writeMipsIndex(half1, s"$root/idx_v")
    val bad = MemoryStream[(Long, Array[Float])]
    val q2 = StreamingOps.ingestMipsVectorsStream(
      bad.toDF().toDF("vec_id", "embedding"), s"$root/idx_v", s"$root/ckpt2")
    try {
      bad.addData(half2rows.take(1).map { case (id, e) =>
        (id + 900000000L, e.map(x => x * 10f)) })
      val err = intercept[Exception] { q2.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(err).exists(m => m != null && m.contains("exceeds the index anchor")),
        s"expected the anchor violation to surface, got: ${chain(err)}")
    } finally q2.stop()
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

  test("ranked postings ingest: streamed BM25 store equals one-shot; replays never inflate stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect().toSeq
    val terms = Seq("spark", "join", "window")
    val root = java.nio.file.Files.createTempDirectory("graft-ranked-stream").toString
    val stream = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = StreamingOps.ingestRankedPostingsStream(
        stream.toDF().toDF("doc_id", "text"), s"$root/idx", s"$root/ckpt",
        buckets = 32)
      try q.processAllAvailable() finally q.stop()
    }
    def uncommit(id: Long): Unit = Seq(s"$id", s".$id.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f"))
    }
    def served(): Seq[(Long, Double)] =
      graft.llm.Search.searchRankedIndexed(spark, s"$root/idx", terms, k = 20, buckets = 32)
        .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    val (a, b) = rows.splitAt(rows.length / 2)
    stream.addData(a); run()
    stream.addData(b); run()
    val oneShot = java.nio.file.Files.createTempDirectory("graft-ranked-1shot").toString
    graft.llm.Search.writeRankedIndex(docs, oneShot, buckets = 32)
    val expected = graft.llm.Search.searchRanked(spark, oneShot, terms, k = 20, buckets = 32)
      .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    assert(expected.nonEmpty)
    assert(served() == expected, "two streamed appends must equal the one-shot ranked index")
    // crash window A: mark committed, Spark commit log lost — guard skips
    uncommit(1)
    run()
    assert(served() == expected, "a mark-skipped replay must not re-append")
    // crash window B: append landed, process died before the mark — a
    // double-append would inflate tf AND the stats sidecar (idf/avgdl
    // would silently shift for every query); the committed TAG detects it
    uncommit(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/idx/_streaming_hwm"))
    run()
    assert(served() == expected, "a tag-detected replay must not inflate the ranked store")
  }

  test("postings ingest: streamed index equals one-shot build; replays never double tf") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect().toSeq
    val terms = Seq("spark", "window", "merge")
    val root = java.nio.file.Files.createTempDirectory("graft-postings-stream").toString
    val stream = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = StreamingOps.ingestPostingsStream(
        stream.toDF().toDF("doc_id", "text"), s"$root/idx", s"$root/ckpt",
        buckets = 32)
      try q.processAllAvailable() finally q.stop()
    }
    def uncommit(id: Long): Unit = Seq(s"$id", s".$id.crc").foreach { f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/ckpt/commits/$f"))
    }
    def served(): Seq[(Long, Long)] =
      graft.llm.Search.searchAllIndexed(spark, s"$root/idx", terms, buckets = 32)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val (a, b) = rows.splitAt(rows.length / 2)
    stream.addData(a); run()
    stream.addData(b); run()
    val expected = graft.llm.Search.searchAllDirect(docs, terms)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(expected.nonEmpty, "fixture corpus must contain conjunctive matches")
    assert(served() == expected, "two streamed appends must equal the one-shot index")
    // crash window A: mark committed, Spark commit log lost — guard skips
    uncommit(1)
    run()
    assert(served() == expected, "a mark-skipped replay must not re-append")
    // crash window B: append landed, process died before the mark — the
    // committed batch TAG detects it (additive tf cannot be repaired
    // downstream, so this is the critical window)
    uncommit(1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/idx/_streaming_hwm"))
    run()
    assert(served() == expected, "a tag-detected replay must not double tf")
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

  test("every guarded maintainer refuses a sink another live checkpoint holds, before any query starts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-lock-matrix").toString
    def in() = MemoryStream[EventRow].toDF()
    def m(name: String)(start: (String, String) => Any) = name -> start
    val maintainers = Seq(
      m("conversion-pairs")((s, c) =>
        StreamingOps.ingestConversionPairsStream(in(), in(), s, c)),
      m("deduped")((s, c) => StreamingOps.ingestDedupedStream(in(), s, s"$s-corpus", c)),
      m("dsir-counts")((s, c) => StreamingOps.ingestDsirCountsStream(in(), s, c)),
      m("quantiles")((s, c) =>
        StreamingOps.ingestQuantilesStream(in(), s, c, "user_id", "value")),
      m("postings")((s, c) => StreamingOps.ingestPostingsStream(in(), s, c)),
      m("manifested")((s, c) => StreamingOps.ingestManifestedStream(in(), s, "event_id", c)),
      m("ranked-postings")((s, c) => StreamingOps.ingestRankedPostingsStream(in(), s, c)),
      m("daily-sketch")((s, c) => StreamingOps.ingestDailySketchStream(in(), s, c)),
      m("vectors")((s, c) => StreamingOps.ingestVectorsStream(in(), s, c)),
      m("mips-vectors")((s, c) => StreamingOps.ingestMipsVectorsStream(in(), s, c)),
      m("events")((s, c) => StreamingOps.ingestEventsStream(in(), s, c)))
    val active = spark.streams.active.length
    maintainers.foreach { case (name, start) =>
      val sink = s"$root/$name/sink"
      new StreamingOps.ReplayGuard(sink, s"$root/$name/ckpt-holder").acquireLock()
      val ckpt = s"$root/$name/ckpt"
      val e = intercept[IllegalStateException](start(sink, ckpt))
      assert(e.getMessage.contains("locked by checkpoint"), name)
      assert(spark.streams.active.length === active, s"$name started a query")
      assert(!new java.io.File(ckpt).exists, s"$name wrote its checkpoint")
    }
  }
}
