package graft

import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** Per-round benchmark main (driver contract — prints ONE JSON line on stdout).
  *
  * PROTOCOL (r15): the registry outgrew the driver's wall budget — r14's
  * official run was killed at timeout (BENCH_r14.json rc=124) because the
  * r13/r14 protocol executed every def 4× (one unmeasured warm-up pass plus
  * 3 measured reps): 237 defs × 4 ≈ 23 min of pure query time before compile,
  * JVM start, and per-rep workspace purges, on a contended box. The r15
  * protocol bounds measured time explicitly:
  *
  *   1. SMOKE-SF WARM-UP (unmeasured, ~2 min): every def runs once against
  *      `SPARK_GRAFT_WARMUP_DIR` (default the sf0.001 smoke data). The
  *      plans differ from the measured pass mostly in file paths, so most
  *      GENERATED code is identical, and Spark's codegen cache (an LRU
  *      whose cap GraftSession sizes to hold every class the warm-up
  *      compiles) serves it to pass 1; `codegen_compiles` in the artifact
  *      counts what each def still compiles inside its measured reps, and
  *      `codegen_compiles_warmup` what the warm-up compiled (3312 distinct
  *      classes at sf0.001; pass 1 at sf0.01 then compiled 127 more, in 31
  *      defs). At Spark's default cap of 100 classes the warm-up's classes
  *      were evicted long before pass 1 reached their defs, so pass 1 ran
  *      mostly cold. Measured r15: cold per-def planning+codegen is ~0.5–1.5 s
  *      × 238 defs ≈ half of a cold pass-1, and WHICH defs escaped it (via
  *      the rerun queue) was luck, swinging the total-of-medians 381↔662 s
  *      between otherwise-identical runs. Warming at the smoke SF buys the
  *      old full-warm-up statistics at ~1/4 the cost; sf0.1 DATA stays
  *      cold, which is the part a benchmark should measure. A handful of
  *      generic throwaway plans additionally warm the shared machinery
  *      (parquet footers, shuffle, noop commit). Skipped automatically if
  *      the warmup dir is missing or equals the measured dir.
  *   2. PASS 1: every def measured exactly ONCE, in declared registration
  *      order, with cache-clear + temp-workspace purge before each so no
  *      def inherits another's state.
  *   3. RERUN PHASE under a measured-time budget (`SPARK_GRAFT_BENCH_BUDGET`,
  *      seconds, default 1200 since r16 including pass 1): defs that deserve better
  *      statistics get up to 2 extra reps — REGRESSION SUSPECTS (pass-1
  *      time > 1.5× the previous committed artifact's median, cheapest
  *      first, so a def whose first rep hit residual cold cost
  *      self-corrects instead of false-alarming `n_delta_over_2x`)
  *      INTERLEAVED round-robin with the HEAVY TAIL (pass-1 time ≥ 1 s,
  *      costliest first — the defs where one rep is least trustworthy and
  *      whose values dominate the judged totals), so neither queue can
  *      starve the other when pass 1 eats most of the budget. The phase
  *      stops when the budget is spent; pass 1 always completes
  *      regardless, so the artifact is always whole. `budget_hit` + `n_rep1`
  *      record how far the rerun phase got.
  *
  *   - a def's reported `queries` value is the MEDIAN of its 1–3 reps (for
  *     3 reps that discards the cold first rep); `queries_min` the min;
  *     `spread` max−min (0 for single-rep defs);
  *   - execution is a noop-format write, which runs the FULL physical plan —
  *     `.count()` would let Catalyst eliminate top-level sorts and prune every
  *     column, leaving ORDER BY and projection cost unmeasured;
  *   - a def that throws is reported in a "failed" list and EXCLUDED from
  *     the per-query map and the total, so a crashed run can't masquerade as
  *     a fast one (ADVICE r2);
  *   - `delta_vs_prev` carries each def's final-median ratio vs the previous
  *     committed artifact (SPARK_GRAFT_BENCH_PREV, default the bench-out path
  *     before this run overwrites it); defs whose previous median is under
  *     0.05 s are skipped (ADVICE r14 #4: 2-decimal serialization quantized
  *     sub-0.1 s ratios into false 3× alarms — medians are now serialized at
  *     3 decimals AND floored out of the delta set);
  *   - the metric JSON is the only stdout line (Spark logs go to stderr).
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_REPS (max reps,
  * default 3; 1 disables the rerun phase), SPARK_GRAFT_BENCH_BUDGET
  * (measured-seconds budget, default 1200), SPARK_GRAFT_ONLY (comma-separated
  * def filter for local iteration).
  *
  * r16 protocol amendments (OPTIMIZATION_r16.md §bench):
  *   - per-def ISOLATION now also unpersists RDD-level blocks
  *     (localCheckpoint blocks from Materialize.cut) — catalog clearCache
  *     never released them, so they accumulated across 476 executions and
  *     poisoned the r15 official run's heavy tail (VERDICT r15 #1);
  *   - the rerun phase can no longer be starved to zero by its own pass 1:
  *     it always gets a bounded overdraft, min(120 s, 20% of budget)
  *     (VERDICT r15 #2a);
  *   - the artifact records per-def wall-clock start offsets (`t_off`) and
  *     two mid-run calibration spins (`calib_mid`: [offset, calib_sec]
  *     pairs at 1/3 and 2/3 of pass 1), so a box-contention window is
  *     identifiable from the artifact alone (VERDICT r15 #2b).
  *
  * r17 protocol amendments (OPTIMIZATION_r17.md §bench):
  *   - NOISY-DEF ADJUDICATION (VERDICT r16 #8): after the rerun queue, any
  *     multi-rep def whose spread still exceeds its median (and median
  *     ≥ 0.5 s) gets up to 2 more reps within the budget, worst
  *     spread/median first — a median-of-5 outvotes a twice-landed
  *     contention outlier that a median-of-3 cannot (r16: g12 [2.8,7.6,1.6]).
  *   - the session now runs with `spark.cleaner.periodicGC.interval=2min`
  *     (GraftSession, VERDICT r16 #1): dead broadcast/shuffle blocks are
  *     reclaimed ~every 2 min instead of accumulating across the whole
  *     registry — the mechanism behind mid-registry defs measuring 4–6×
  *     their isolated cost on rep 1 in full runs.
  *
  * READING AN ARTIFACT FROM A CONTENDED BOX (the driver shares its machine;
  * VERDICT r12 #8's playbook, so box noise never has to be re-litigated):
  *   1. Divide totals by `calib_sec` before comparing across artifacts —
  *      it is a pure single-thread JVM spin, so uniform box-speed drift
  *      scales it exactly as it scales every query (r12: driver and
  *      builder artifacts agreed within 1.3% after division, with raw
  *      totals 16% apart).
  *   2. A def whose `spread` EXCEEDS its median is contention, not plan:
  *      its raw rep times are in `noisy_reps` — the bimodal shape (two
  *      fast reps + one outlier) is scheduler/GC interference; a real plan
  *      regression moves every rep together.
  *   3. Known-sensitive def classes, in noise order: stateful/session ops
  *      (e05), many-small-job iterative graph loops (g01–g12), and any
  *      single-rep def with a non-zero `codegen_compiles`: its one
  *      measurement includes those compiles (typically +50–200 ms;
  *      material only under ~0.5 s, and such defs re-rep via the suspects
  *      queue when it makes them look regressed).
  *   4. Cross-box comparisons are only valid on calib-normalized numbers
  *      of the SAME def set (`n_queries` guards the denominator).
  */
object Bench {

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Janino compilations so far in this JVM (Spark's codegen metric source;
    * a codegen-cache hit does not count). */
  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Single-thread deterministic spin score (VERDICT r11 #7): ~0.2 s of
    * pure JVM arithmetic (the PolyHash fold — JIT-warmed, no allocation,
    * no Spark), reported as `calib_sec` in the artifact. Uniform box-speed
    * drift (r10 1.2×, r11 1.17×) scales this number the same way it scales
    * every query, so a reader separates box drift from real regressions by
    * dividing — no cross-artifact archaeology.
    */
  private def calibrate(): Double = {
    val s = org.apache.spark.unsafe.types.UTF8String
      .fromString("graft-box-calibration-probe-0123456789abcdef")
    def pass(): Long = {
      var i = 0; var acc = 0L
      while (i < 3000000) {
        acc ^= graft.functions.PolyHashFns.polyHash(s, 9007199254740881L) + i
        i += 1
      }
      acc
    }
    pass() // JIT warm-up, unmeasured
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); pass(); (System.nanoTime() - t0) / 1e9
    })
  }

  /** The previous artifact's per-def medians, for `delta_vs_prev` (VERDICT
    * r13 #1): cross-round regressions must be visible IN the artifact, not
    * reconstructed by diffing rounds by hand. Parsed with a two-line
    * extractor (our own format, flat map); a parse failure degrades to an
    * empty map — LOGGED to stderr (ADVICE r14 #4: a silent empty map drops
    * the regression signal without notice), never a crashed bench.
    */
  private def prevMedians(path: String): Map[String, Double] = try {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val i = txt.indexOf("\"queries\":{")
    if (i < 0) {
      System.err.println(s"[bench] prev artifact $path has no queries map — deltas disabled")
      Map.empty
    } else "\"([^\"]+)\":([0-9.eE+\\-]+)".r
      .findAllMatchIn(txt.substring(i + 11, txt.indexOf('}', i)))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  } catch {
    case NonFatal(e) =>
      System.err.println(s"[bench] prev artifact $path unreadable (${e.getMessage}) — deltas disabled")
      Map.empty
  }

  /** Throwaway plans that warm the machinery every def shares — parquet
    * footer/reader paths, whole-stage codegen infra, shuffle exchange, the
    * noop commit protocol, broadcast build — in seconds instead of the old
    * full unmeasured registry pass (~6 min at r14 size, the single biggest
    * line in the wall-budget overrun).
    */
  private def genericWarmup(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    try {
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      val region = spark.read.parquet(s"$sfDir/region.parquet")
      exec(nation.groupBy(col("n_regionkey")).agg(count(lit(1)).as("c")).orderBy(col("n_regionkey")))
      exec(nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name")))
      exec(nation.select(col("n_nationkey"),
        sum(col("n_nationkey")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))).as("rt")))
    } catch { case NonFatal(e) => System.err.println(s"[bench warmup] ${e.getMessage}") }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Default raised 900 → 1200 in r16 (VERDICT r15 #6, arithmetic in
    // SURVEY §8): at 238 defs a clean pass 1 alone is ~310–420 s measured
    // (×1.3–1.5 on the driver's contended box ≈ 500–600 s), so a 900 s
    // budget left the rerun phase a sliver and the r15 official run
    // starved it entirely. 1200 s measured ≈ 26 min wall here / ~35 min on
    // a 1.4×-slower box — still well under r13's accepted 44:45 — and on
    // this box it completes with budget_hit=false and every ≥1 s def
    // re-repped (n_rep1 ≈ 124, all sub-second defs).
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1200").toDouble
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_last.json")
    // read BEFORE this run overwrites it: the driver benches once per round
    // from the committed tree, so the default prev IS the last committed
    // artifact; local iteration can pin SPARK_GRAFT_BENCH_PREV at a tag.
    val prev = prevMedians(sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", benchOut))
    val spark = GraftSession.getOrCreate()

    val defs = SparkEntry.defs.filter(d => only.forall(_.contains(d.name)))
    genericWarmup(spark, sfDir)
    // smoke-SF warm-up: mostly identical generated code, tiny data — hot
    // codegen cache for pass 1 without spending measured budget on
    // compilation
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val warmCompiles0 = compileCount
    if (warmDir != sfDir && new java.io.File(warmDir).isDirectory)
      defs.foreach { d =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        TempDirs.purgeAll()
        try exec(d.run(spark, warmDir))
        catch { case NonFatal(e) =>
          System.err.println(s"[bench warmup] ${d.name}: ${e.getMessage}")
        }
      }
    val warmCompiles = compileCount - warmCompiles0

    // one measured rep: cold data, purged workspaces (VERDICT r13 #9 — a
    // store-building def's rep N+1 must never inherit rep N's on-disk state).
    // ALSO release RDD-level persisted blocks (VERDICT r15 #1): catalog
    // clearCache does NOT unpersist localCheckpoint blocks from
    // Materialize.cut, so every lineage-cutting def (the x text family,
    // every g-family round, store builds) would otherwise pin
    // MEMORY_AND_DISK blocks in the single JVM for the rest of the run —
    // 476 def executions of accumulated storage pressure competing with
    // shuffle memory exactly in the heavy tail (the r15 official artifact's
    // poisoned x22/x24/x21 window).
    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      TempDirs.purgeAll()
      // NOT here: System.gc() (r16, measured and rejected). The idea was to
      // nudge the ContextCleaner so dead broadcast/shuffle blocks from
      // earlier defs get reclaimed (full-run pass-1 reps of mid-registry
      // defs ran up to 4× their isolated cost — d15 6.1 s vs 1.5 s clean —
      // which smells like accumulated state). A forced full GC per def made
      // the run 31% SLOWER overall (306 → 409 s, uniform ~+0.25 s/def,
      // worst on the smallest defs). That cost is NOT codegen eviction:
      // Spark's codegen cache is a size-bounded LRU holding strong
      // references, so a GC evicts nothing from it (only its entry cap
      // does, which GraftSession sizes). What the forced GC did cost has
      // not been re-measured.
    }
    // Janino compiles per def over its measured reps (additions-only
    // `codegen_compiles`): a def that keeps compiling after the warm-up is
    // paying codegen inside its measured time
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def measure(d: QueryDef): Option[Double] = {
      isolate()
      val c0 = compileCount
      val t0 = System.nanoTime()
      try { exec(d.run(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] ${d.name}: ${e.getMessage}")
          None
      } finally compiles(d.name) = compiles.getOrElse(d.name, 0L) + compileCount - c0
    }

    // PASS 1: every def once. Wall-clock start offsets (seconds since the
    // measured phase began) and two mid-run calibration spins are recorded
    // in the artifact (VERDICT r15 #2b): a box-contention window is then
    // visible IN the data — the affected defs' offsets cluster and the
    // nearest calib spin inflates — instead of needing forensic decile
    // reconstruction against another run.
    var spent = 0.0
    val times = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    val offsets = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val crashed = scala.collection.mutable.ArrayBuffer.empty[String]
    val byName = defs.map(d => d.name -> d).toMap
    val wall0 = System.nanoTime()
    def wallOff: Double = (System.nanoTime() - wall0) / 1e9
    val calibMid = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val midAt = Set(defs.size / 3, 2 * defs.size / 3)
    defs.zipWithIndex.foreach { case (d, i) =>
      if (midAt(i)) calibMid += ((wallOff, calibrate()))
      offsets(d.name) = wallOff
      measure(d) match {
        case Some(t) => times(d.name) = List(t); spent += t
        case None    => crashed += d.name
      }
    }

    // RERUN PHASE: regression suspects (cheapest first — residual cold
    // cost self-correcting) round-robin with the heavy tail (costliest
    // first) — interleaved so neither queue starves the other when pass 1
    // consumed most of the budget (measured r15: a suspects-first queue
    // left every heavy def single-rep in one run, a heavy-first queue
    // left every suspect uncorrected in another).
    var budgetHit = false
    // noisy defs the adjudication pass could not afford (additions-only
    // `adjudication_skipped` in the artifact)
    val adjudicationSkipped = scala.collection.mutable.ArrayBuffer.empty[String]
    if (maxReps > 1) {
      val t1 = times.toMap.view.mapValues(_.head).toMap
      val suspects = t1.collect {
        case (k, t) if prev.get(k).exists(p => p >= 0.05 && t / p > 1.5) => k
      }.toSeq.sortBy(t1)
      val heavy = t1.collect { case (k, t) if t >= 1.0 => k }.toSeq.sortBy(k => -t1(k))
      val queue = suspects.map(Some(_)).zipAll(heavy.map(Some(_)), None, None)
        .flatMap { case (a, b) => Seq(a, b).flatten }.distinct
      // GUARANTEED corrective reps (VERDICT r15 #2a): when pass 1 alone
      // overruns the budget (the r15 official run: 1414 s of 900), the old
      // gate starved the rerun phase to zero and every number in the
      // artifact was a single contention-exposed rep — the protocol's
      // self-correction mechanism never executed. The rerun phase now
      // always gets at least a bounded overdraft (min(120 s, 20% of
      // budget)) of its own: a poisoned cheap def costs seconds to clear,
      // and the interleaved queue starts with the cheapest suspects.
      val rerunCap = math.max(budgetSec, spent + math.min(120.0, 0.2 * budgetSec))
      queue.foreach { name =>
        val est = t1(name) * (maxReps - 1)
        if (spent + est <= rerunCap) {
          (2 to maxReps).foreach { _ =>
            measure(byName(name)).foreach { t => times(name) = times(name) :+ t; spent += t }
          }
        } else budgetHit = true
      }
      // NOISY-DEF ADJUDICATION (r17, VERDICT r16 #8): a multi-rep def whose
      // spread still EXCEEDS its median after the rerun phase (r16: g12 reps
      // [2.8, 7.6, 1.6]) carries one contention-poisoned rep that a
      // median-of-3 cannot outvote when the poison lands twice. Within the
      // remaining budget, give such defs up to 2 more reps (median-of-5
      // adjudicates), worst spread/median ratio first. Only defs with a
      // median ≥ 0.5 s qualify — sub-second spread is scheduler noise the
      // protocol deliberately doesn't chase.
      val noisyQueue = times.toSeq.collect {
        case (k, ts) if ts.size > 1 && {
          val m = median(ts); m >= 0.5 && (ts.max - ts.min) > m
        } => k -> ((times(k).max - times(k).min) / median(times(k)))
      }.sortBy(-_._2).map(_._1)
      noisyQueue.foreach { name =>
        val est = median(times(name)) * 2
        if (spent + est <= rerunCap) {
          (1 to 2).foreach { _ =>
            measure(byName(name)).foreach { t => times(name) = times(name) :+ t; spent += t }
          }
        } else {
          budgetHit = true
          adjudicationSkipped += name
        }
      }
    }
    if (spent > budgetSec) budgetHit = true

    val results: Seq[(String, Option[(Double, Double, Seq[Double])])] =
      defs.map { d =>
        d.name -> times.get(d.name).map(ts => (median(ts), ts.max - ts.min, ts))
      }
    // Raw rep times for any multi-rep def whose spread exceeds its median
    // (VERDICT r12 #2): a bimodal def is self-explaining in the artifact
    // instead of needing a builder-box re-run to adjudicate. First in the
    // line = first truncated by the driver's stdout tail; the full line
    // always lands in bench_last.json.
    val noisy = results.collect {
      case (k, Some((m, s, ts))) if ts.size > 1 && s > m =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val spreads = results.collect { case (k, Some((_, s, _))) => "\"" + k + "\":" + f"$s%.3f" }
      .mkString("{", ",", "}")
    val mins = results.collect { case (k, Some((_, _, ts))) => "\"" + k + "\":" + f"${ts.min}%.3f" }
      .mkString("{", ",", "}")
    // pass-1 (first) rep per def (r17, additions-only): the full-run
    // first-rep inflation VERDICT r16 #1 tracks is only adjudicable if
    // rep 1 is visible in the artifact — median/min/spread cannot
    // reconstruct it for 3+ rep defs.
    val rep1s = results.collect { case (k, Some((_, _, ts))) => "\"" + k + "\":" + f"${ts.head}%.3f" }
      .mkString("{", ",", "}")
    val qs = results.collect { case (k, Some((v, _, _))) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = crashed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val adjSkipped = adjudicationSkipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val compileMap = results.collect { case (k, Some(_)) => "\"" + k + "\":" + compiles(k) }
      .mkString("{", ",", "}")
    val compilesTotal = compiles.values.sum
    val total = results.flatMap(_._2.map(_._1)).sum
    // cross-round regression signal (VERDICT r13 #1): per-def median ratio
    // vs the previous committed artifact (floored at prev ≥ 0.05 s — ADVICE
    // r14 #4), the summary ratio-median (box drift moves it uniformly; a
    // plan regression moves one def), and the count of defs over 2×.
    val deltas = results.collect {
      case (k, Some((m, _, _))) if prev.get(k).exists(_ >= 0.05) => k -> (m / prev(k))
    }
    val deltaMap = deltas.map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val deltaMedian = if (deltas.isEmpty) 0.0 else median(deltas.map(_._2))
    val deltaOver2x = deltas.count(_._2 > 2.0)
    val nRep1 = results.count(_._2.exists(_._3.size == 1))
    // Key order matters operationally: the driver archives only the LAST 2 kB
    // of stdout, and with 200+ queries the line exceeds that — so the headline
    // metric/value/unit go LAST to survive the tail truncation (every
    // BENCH_r{1..4}.json lost them at the front of the line); per-def spreads
    // are the most expendable and go first (the full line always lands in
    // bench_last.json regardless).
    val nQueries = results.count(_._2.isDefined)
    val calib = calibrate() // after the measured runs: a fully warmed JVM
    val offMap = offsets.map { case (k, o) => "\"" + k + "\":" + f"$o%.1f" }
      .mkString("{", ",", "}")
    val calibMids = calibMid.map { case (o, c) => f"[$o%.1f,$c%.3f]" }
      .mkString("[", ",", "]")
    val line =
      f"""{"t_off":$offMap,"queries_rep1":$rep1s,"noisy_reps":$noisy,"delta_vs_prev":$deltaMap,"spread":$spreads,"queries_min":$mins,"queries":$qs,"failed":$failed,"sf":"$sfDir","n_queries":$nQueries,"n_rep1":$nRep1,"budget_sec":$budgetSec%.0f,"budget_hit":$budgetHit,"adjudication_skipped":$adjSkipped,"codegen_compiles":$compileMap,"codegen_compiles_total":$compilesTotal,"codegen_compiles_warmup":$warmCompiles,"measured_sec":$spent%.1f,"calib_mid":$calibMids,"delta_median_vs_prev":$deltaMedian%.2f,"n_delta_over_2x":$deltaOver2x,"calib_sec":$calib%.3f,"metric":"total","value":$total%.2f,"unit":"sec"}"""
    println(line)
    // Full, untruncated copy for the repo (the stdout tail is lossy). The
    // path is anchored (env-overridable), not CWD-relative — a run launched
    // outside the repo root must not strand the archived copy elsewhere.
    try {
      val w = new java.io.PrintWriter(benchOut)
      try w.println(line) finally w.close()
    } catch { case NonFatal(e) => System.err.println(s"[bench] $benchOut: ${e.getMessage}") }
    spark.stop()
  }
}
