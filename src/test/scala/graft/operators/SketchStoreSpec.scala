package graft.operators

import graft.SparkSpec
import graft.llm.Events
import graft.store.StoreLayout
import org.apache.spark.sql.functions._

/** The sketch materialized view (e19's gate): split-build ≡ single-build
  * estimates (HLL union is register-wise max), append-extends, a repeated
  * append that inflates nothing, compact/vacuum, accuracy vs the exact
  * rolling count, and the no-event-rescan serve plan.
  */
class SketchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-sketchstore").toString

  private lazy val events = {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    graft.Tables.microsTs(df, "ts")
  }

  test("split-day appends serve estimates identical to a single-pass build") {
    val p1 = tmp()
    SketchStore.write(Events.dailyUserSketches(events), p1)
    val single = Events.rollingDistinctUsersFromStore(spark, p1)
      .orderBy("win_day").collect().map(r => (r.getDate(0), r.getLong(1))).toSeq

    val p2 = tmp()
    SketchStore.write(
      Events.dailyUserSketches(events.filter(col("user_id") % 2 === 0)), p2)
    SketchStore.append(
      Events.dailyUserSketches(events.filter(col("user_id") % 2 =!= 0)), p2)
    val split = Events.rollingDistinctUsersFromStore(spark, p2)
      .orderBy("win_day").collect().map(r => (r.getDate(0), r.getLong(1))).toSeq

    assert(split == single,
      "register-wise max union must equal the one-pass sketch exactly")
  }

  test("store-served estimates equal the direct sketch path and track exact counts") {
    val p = tmp()
    SketchStore.write(Events.dailyUserSketches(events), p)
    val served = Events.rollingDistinctUsersFromStore(spark, p)
      .orderBy("win_day").collect().map(r => (r.getDate(0).toString, r.getLong(1)))
    val direct = Events.rollingDistinctUsersSketch(events)
      .orderBy("win_day").collect().map(r => (r.getDate(0).toString, r.getLong(1)))
    assert(served.toSeq == direct.toSeq)
    val exact = Events.rollingDistinctUsers(events)
      .orderBy("win_day").collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    served.foreach { case (day, est) =>
      val ex = exact(day).toDouble
      assert(math.abs(est.toDouble - ex) <= math.max(1.0, 0.01 * ex),
        s"$day: estimate $est vs exact $ex drifts past 1%")
    }
  }

  test("append extends coverage: new days appear after append") {
    val p = tmp()
    val days = events.select(to_date(col("ts")).as("d")).distinct()
      .orderBy("d").as[java.sql.Date].collect()
    val cut = days(days.length / 2)
    SketchStore.write(
      Events.dailyUserSketches(events.filter(to_date(col("ts")) < lit(cut))), p)
    val before = SketchStore.read(spark, p).count()
    SketchStore.append(
      Events.dailyUserSketches(events.filter(to_date(col("ts")) >= lit(cut))), p)
    val after = SketchStore.read(spark, p).count()
    assert(before < after && after == days.length.toLong)
  }

  test("a batch appended twice serves the estimates of one append") {
    val p = tmp()
    val half = events.filter(col("user_id") % 2 =!= 0)
    SketchStore.write(Events.dailyUserSketches(events.filter(col("user_id") % 2 === 0)), p)
    SketchStore.append(Events.dailyUserSketches(half), p)
    def served() = Events.rollingDistinctUsersFromStore(spark, p)
      .orderBy("win_day").collect().map(r => (r.getDate(0), r.getLong(1))).toSeq
    val once = served()
    SketchStore.append(Events.dailyUserSketches(half), p)
    assert(served() == once, "union is idempotent: a repeated append inflates nothing")
  }

  test("compact folds versions; vacuum removes the old dirs; answers unchanged") {
    val p = tmp()
    SketchStore.write(
      Events.dailyUserSketches(events.filter(col("user_id") % 2 === 0)), p)
    SketchStore.append(
      Events.dailyUserSketches(events.filter(col("user_id") % 2 =!= 0)), p)
    val before = Events.rollingDistinctUsersFromStore(spark, p)
      .orderBy("win_day").collect().map(_.getLong(1)).toSeq
    SketchStore.compact(spark, p)
    val removed = SketchStore.vacuum(p)
    assert(removed >= 2, s"expected the two pre-compaction versions gone, removed $removed")
    val after = Events.rollingDistinctUsersFromStore(spark, p)
      .orderBy("win_day").collect().map(_.getLong(1)).toSeq
    assert(after == before)
  }

  test("compact of a single-version store is a no-op: nothing rewritten, no Spark job") {
    val p = tmp()
    SketchStore.write(Events.dailyUserSketches(events), p)
    val before = StoreLayout(p)
    assert(before.versions == Set("v1"))
    val jobs = jobsStartedBy(SketchStore.compact(spark, p))
    assert(StoreLayout(p) == before, "a one-version store must not be rewritten")
    assert(jobs == 0, s"a one-version compact ran $jobs Spark job(s)")
  }

  test("serving reads the store only — the event log is never rescanned") {
    val p = tmp()
    SketchStore.write(Events.dailyUserSketches(events), p)
    val plan = Events.rollingDistinctUsersFromStore(spark, p)
      .queryExecution.optimizedPlan
    val scans = fileScanPaths(plan)
    assert(scans.nonEmpty && scans.forall(_.contains(p)),
      s"expected only store scans under $p, got $scans")
  }

  test("schema contract: trailing column must be a binary sketch") {
    val bad = Seq((1, 2L)).toDF("k", "not_a_sketch")
    intercept[IllegalArgumentException] {
      SketchStore.write(bad, tmp())
    }
  }
}
