package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned QUANTILE-HISTOGRAM store — exact interpolated percentiles
  * served from a mergeable value histogram, the quantile member of the
  * persisted-statistics family ([[CountStore]] counts, [[SketchStore]]
  * distincts; reference analogue: the amount-stats query family,
  * `/root/reference/sql/queries.sql:59-65`, incrementalized).
  *
  * The histogram is a [[CountStore]] keyed on (key, quantized value):
  * values fold to a FIXED DECIMAL SCALE (cents: `floor(value·100)`), so a
  * version is |keys|·|buckets| rows regardless of event volume, the merge
  * is plain ADDITION (append never reads existing state, incremental ≡
  * from-scratch exactly), and the serve is a metadata-scale rollup — at
  * 100 TB the event log is scanned once per ingested batch and never
  * again, where a direct `percentile` query rescans everything. The
  * quantization scale is the accuracy knob: percentiles are EXACT for the
  * quantized values (the oracle applies the identical quantization), and
  * within half a bucket of the raw-value percentiles.
  *
  * Percentile arithmetic is the engine's exact-replay discipline: ranks
  * are INTEGER arithmetic on the cumulative counts — for percentile q of
  * n values the 0-indexed interpolation position is p = q·(n−1)/100,
  * split as `rlo = (q·(n−1)) div 100` and `frac = ((q·(n−1)) mod 100)/100`
  * — and doubles appear only in the final `lo + frac·(hi−lo)` render, the
  * same expression tree on both engines. No built-in percentile on either
  * side, so there is nothing implementation-defined to drift.
  */
object QuantileStore {

  /** Per-batch histogram: values quantized to cents (`floor(value·100)` —
    * IEEE double multiply + floor, bit-identical cross-engine), counted
    * per (key, bucket). One map-side-combined groupBy; the shuffle moves
    * bucket partials, never events.
    */
  def histogram(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol), floor(col(valueCol) * 100).cast("long").as("vcents"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** Bootstrap the store with one batch's histogram. */
  def write(df: DataFrame, keyCol: String, valueCol: String, path: String): Unit =
    CountStore.write(histogram(df, keyCol, valueCol), path)

  /** Append a batch — nothing existing read or rewritten; the additive
    * merge defers to serve time.
    */
  def append(df: DataFrame, keyCol: String, valueCol: String, path: String): Unit =
    CountStore.append(histogram(df, keyCol, valueCol), path)

  /** Interpolated percentiles per key from the merged store view: reads
    * |keys|·|buckets| histogram rows, never an event.
    */
  def serve(spark: SparkSession, path: String, pcts: Seq[Int]): DataFrame = {
    val hist = CountStore.read(spark, path)
    val key = hist.columns.head
    quantilesOf(hist.withColumnRenamed(hist.columns(1), "vcents")
      .withColumnRenamed(hist.columns(2), "cnt"), key, pcts)
  }

  /** Exact interpolated percentiles from a (key, vcents, cnt) histogram.
    * Cumulative counts ride the grouped two-phase prefix sum (no window
    * exchange); rank selection is a conditional MIN over the histogram —
    * the value at 0-indexed rank r is the smallest bucket whose cumulative
    * count reaches r+1.
    */
  def quantilesOf(hist: DataFrame, keyCol: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      s"percentiles must lie in [0,100], got $pcts")
    val spark = hist.sparkSession
    import spark.implicits._
    val cum = PrefixSum.withGroupedRunningSum(
      hist, Seq(keyCol), Seq("vcents"), "cnt", "cum")
    val totals = hist.groupBy(col(keyCol)).agg(sum("cnt").as("n"))
    val ranks = totals.crossJoin(broadcast(pcts.toDF("pct")))
      .withColumn("rlo", expr("(pct * (n - 1)) div 100"))
      .withColumn("rhi", least(col("rlo") + 1, col("n") - 1))
      .withColumn("frac", expr("CAST((pct * (n - 1)) % 100 AS DOUBLE) / 100.0"))
    ranks.join(cum, Seq(keyCol))
      .groupBy(col(keyCol), col("pct"))
      .agg(max("n").as("n"), max("frac").as("frac"),
        min(when(col("cum") >= col("rlo") + 1, col("vcents"))).as("lo"),
        min(when(col("cum") >= col("rhi") + 1, col("vcents"))).as("hi"))
      .select(col(keyCol), col("pct"), col("n"),
        ((col("lo").cast("double") +
          col("frac") * (col("hi") - col("lo")).cast("double")) / 100.0)
          .as("quantile"))
  }

  /** SQL twin of the serve arithmetic over a `histcum` CTE carrying
    * (key, vcents, cnt, cum) — shared so every def's oracle replays the
    * IDENTICAL rank/interpolation formulas.
    */
  def quantileOracleTail(keyCol: String, pcts: Seq[Int]): String =
    s"""totals AS (SELECT $keyCol, SUM(cnt) AS n FROM histcum GROUP BY 1),
       qs AS (SELECT unnest([${pcts.mkString(", ")}]) AS pct),
       ranks AS (
         SELECT $keyCol, pct, n,
                (pct * (n - 1)) // 100 AS rlo,
                LEAST((pct * (n - 1)) // 100 + 1, n - 1) AS rhi,
                CAST((pct * (n - 1)) % 100 AS DOUBLE) / 100.0 AS frac
         FROM totals CROSS JOIN qs),
       v AS (
         SELECT r.$keyCol, r.pct, r.n, r.frac,
                MIN(CASE WHEN c.cum >= r.rlo + 1 THEN c.vcents END) AS lo,
                MIN(CASE WHEN c.cum >= r.rhi + 1 THEN c.vcents END) AS hi
         FROM ranks r JOIN histcum c ON r.$keyCol = c.$keyCol
         GROUP BY 1, 2, 3, 4)
       SELECT $keyCol, pct, CAST(n AS BIGINT) AS n,
              (CAST(lo AS DOUBLE) + frac * CAST(hi - lo AS DOUBLE)) / 100.0 AS quantile
       FROM v"""
}
