package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** Measured JVM of one benchmark run (launched by `perfbench/run.py`):
  *
  *   perfbench.Main --workload <name> --data <inputs> --work <dir> --out <json>
  *     --warmup-ops N --trace 0|1 [--sql-file <queries.sql>]
  *
  * The op sequence is the data dir's plan.txt. Set-up (session, workload
  * state, warm-up ops) runs first, then the measured phase runs the rest of
  * the sequence back to back, then untimed
  * observations for the output checks. Everything lands in one JSON file.
  */
object Main {

  final case class OpRec(i: Int, kind: String, primary: Boolean, startMs: Double,
                         durS: Double, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a.getOrElse("trace", "0") == "1"
    val data = a("data")
    val work = a("work")
    Probes.watchGc()

    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = new Tracer(spark, trace)
    val sessionMs = t.nowMs

    val warm = a("warmup-ops").toInt
    val wl: Workload = a("workload") match {
      case "etl_batches" => new EtlBatches(spark, t, data, work, warm, a("sql-file"))
      case "corpus_ingest" => new CorpusIngest(spark, t, data, work, warm)
      case other => sys.error(s"unknown workload $other")
    }

    def runOp(i: Int): OpRec = {
      val kind = wl.plan(i)
      val t0 = t.nowMs
      val err =
        try { t.op(i, kind)(wl.run(i)); None }
        catch { case NonFatal(e) => e.printStackTrace(); Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val rec = OpRec(i, kind, wl.primary(kind), t0, (t.nowMs - t0) / 1000.0, err)
      println(f"[perfbench] op $i%d $kind%s ${rec.durS}%.3f s")
      rec
    }

    wl.setup()
    val stateMs = t.nowMs
    val warmRecs = (0 until wl.warmupOps).map(runOp)

    // ------------------------------------------------------ measured phase
    t.reset()
    Probes.resetPeak()
    val countersStart = wl.counters()
    val (gc0, gcMs0, jit0, psi0, st0) =
      (Probes.gcCount, Probes.gcMs, Probes.jitMs, Probes.cpuPressureUs, Probes.cpuSteal)
    val phaseStart = t.nowMs
    val recs = (wl.warmupOps until wl.plan.size).map(runOp)
    val phaseEnd = t.nowMs
    val (gc1, gcMs1, jit1, psi1, st1) =
      (Probes.gcCount, Probes.gcMs, Probes.jitMs, Probes.cpuPressureUs, Probes.cpuSteal)
    val peakHeap = Probes.peakLiveHeapMb
    t.drain()
    val traced = if (trace) traceJson(t) else Map.empty[String, Any]
    val counters = wl.counters()
    val store = wl.storeRoots.map(Probes.treeStats)

    // ------------------------------------------------------ untimed tail
    val observe =
      try wl.observe()
      catch { case NonFatal(e) => e.printStackTrace(); Map("error" -> e.toString) }
    val liveHeap = Probes.liveHeapMb()
    val calib = Probes.calibS()
    val wallMs = phaseEnd - phaseStart

    val result = Map(
      "workload" -> a("workload"), "trace" -> trace,
      "session_ready_ms" -> sessionMs, "state_ready_ms" -> stateMs,
      "phase_start_ms" -> phaseStart, "phase_end_ms" -> phaseEnd,
      "warmup" -> warmRecs.map(opJson), "ops" -> recs.map(opJson),
      "live_heap_mb" -> liveHeap,
      "store_bytes" -> store.map(_._2).sum, "store_files" -> store.map(_._1).sum,
      "counters" -> counters, "counters_start" -> countersStart,
      "jvm" -> Map("gc_pause_s" -> (gcMs1 - gcMs0) / 1e3, "gc_count" -> (gc1 - gc0),
        "jit_compile_s" -> (jit1 - jit0) / 1e3, "peak_live_heap_mb" -> peakHeap,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "input_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-X")).toSeq),
      "host" -> Map(
        "cpu_pressure_pct" -> (for (p0 <- psi0; p1 <- psi1) yield 100.0 * (p1 - p0) / 1000.0 / wallMs),
        "steal_pct" -> (for ((s0, n0) <- st0; (s1, n1) <- st1 if n1 > n0)
          yield 100.0 * (s1 - s0) / (n1 - n0)),
        "calib_s" -> calib, "cpus" -> GraftSession.defaultParallelism),
      "observe" -> observe) ++ traced

    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def opJson(r: OpRec): Map[String, Any] = Map(
    "i" -> r.i, "kind" -> r.kind, "primary" -> r.primary, "start_ms" -> r.startMs,
    "dur_s" -> r.durS, "error" -> r.error)

  /** Per-layer busy time, Spark totals (whole phase and per layer call),
    * planning time and driver-only time, plus the raw spans. */
  private def traceJson(t: Tracer): Map[String, Any] = {
    val calls = t.spans.filter(_.layer != "op")
    val busy = calls.groupBy(s => s"${s.layer}.${s.name}").map { case (k, ss) => k -> ss.map(_.durS).sum }
    val total = new SparkAcc
    val byLayer = scala.collection.mutable.Map.empty[String, SparkAcc]
    t.byGroup.asScala.foreach { case (g, acc) =>
      val layer = g.split("/", 2) match { case Array(_, l) => l; case _ => g }
      Seq(total, byLayer.getOrElseUpdate(layer, new SparkAcc)).foreach { x =>
        x.jobs += acc.jobs; x.stages += acc.stages; x.tasks += acc.tasks
        x.failedTasks += acc.failedTasks; x.runMs += acc.runMs; x.cpuNs += acc.cpuNs
        x.schedWaitMs += acc.schedWaitMs; x.shuffleW += acc.shuffleW; x.shuffleR += acc.shuffleR
        x.spill += acc.spill; x.inBytes += acc.inBytes; x.outBytes += acc.outBytes
      }
    }
    val jobs = t.jobs.asScala.toSeq
    // op wall minus the union of the job intervals inside it
    val driverOnly = t.spans.filter(_.layer == "op").map { op =>
      val iv = jobs.map { case (_, s, e) => (math.max(s.toDouble, op.startMs), math.min(e.toDouble, op.endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      val covered = iv.foldLeft((0.0, Double.MinValue)) { case ((sum, end), (s, e)) =>
        if (e <= end) (sum, end) else (sum + e - math.max(s, end), e)
      }._1
      (op.endMs - op.startMs - covered) / 1000.0
    }.sum
    Map(
      "busy_s" -> busy,
      "spark" -> total.toMap,
      "spark_by_layer" -> byLayer.map { case (k, v) => k -> v.toMap }.toMap,
      "plan_s" -> t.plans.asScala.map(_._2).sum / 1000.0,
      "driver_only_s" -> driverOnly,
      "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "op" -> s.op, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
  }
}
