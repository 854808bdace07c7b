package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `op` is the measured op index, `parent` the id of the
  * enclosing span (-1 for an op span). Times are epoch milliseconds.
  */
final case class Span(id: Int, name: String, layer: String, op: Int, parent: Int,
                      startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Spark-side totals of one job group (one layer call) or of the whole phase. */
final class SparkAcc {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, schedWaitMs, shuffleW, shuffleR, spill, inBytes, outBytes = 0L
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "sched_wait_s" -> schedWaitMs / 1e3, "shuffle_write_mb" -> shuffleW / Mb,
    "shuffle_read_mb" -> shuffleR / Mb, "spill_mb" -> spill / Mb,
    "input_mb" -> inBytes / Mb, "output_mb" -> outBytes / Mb)
  private def Mb = 1024.0 * 1024.0
}

/** Benchmark-side tracing. With `enabled` false every `call` is a plain
  * invocation and no listener is registered; with it true, each call into
  * the engine is a span tagged with a Spark job group (`<op>/<layer>.<name>`),
  * a [[SparkListener]] folds jobs, stages and tasks per group, and a
  * [[QueryExecutionListener]] records planning-phase time. Spans stay in
  * memory until the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var curOp = -1
  private var curParent = -1

  /** Time one op; when tracing, it is also the parent span of its calls. */
  def op[T](id: Int, name: String)(body: => T): T = {
    curOp = id
    val sid = spans.size
    val t0 = nowMs
    if (enabled) { spans += Span(sid, name, "op", id, -1, t0, t0); curParent = sid }
    try body
    finally if (enabled) { spans(sid) = spans(sid).copy(endMs = nowMs); curParent = -1 }
  }

  /** One call into an engine layer. */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val sid = spans.size
      val t0 = nowMs
      spans += Span(sid, name, layer, curOp, curParent, t0, t0)
      sc.setJobGroup(s"$curOp/$layer.$name", name, interruptOnCancel = false)
      try body
      finally {
        sc.clearJobGroup()
        spans(sid) = spans(sid).copy(endMs = nowMs)
      }
    }

  // ------------------------------------------------------------ listeners

  val byGroup = new ConcurrentHashMap[String, SparkAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  /** (group, startMs, endMs) of every finished job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  /** (startMs, planning ms) of every finished query execution. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()

  private def acc(g: String): SparkAcc = byGroup.computeIfAbsent(g, _ => new SparkAcc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("untagged")
      acc(g).synchronized(acc(g).jobs += 1)
      e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
      jobStart.put(e.jobId, (g, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => jobs.add((g, t0, e.time)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      stageSubmitMs.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      val a = acc(stageGroup.getOrDefault(id, "untagged"))
      a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageGroup.getOrDefault(e.stageId, "untagged"))
      val m = e.taskMetrics
      val info = e.taskInfo
      a.synchronized {
        a.tasks += 1
        if (info.failed || info.killed) a.failedTasks += 1
        a.schedWaitMs += math.max(0L, info.launchTime - stageSubmitMs.getOrDefault(e.stageId, info.launchTime))
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleW += m.shuffleWriteMetrics.bytesWritten
          a.shuffleR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add((ph.map(_.startTimeMs).min.toDouble, ph.map(_.durationMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Forget everything recorded so far (warm-up); called at phase start. */
  def reset(): Unit = if (enabled) {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    spans.clear(); byGroup.clear(); jobs.clear(); plans.clear()
  }

  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Drain(spark.sparkContext)
}

/** JVM and host probes for the steadiness diagnostics. */
object Probes {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcCount: Long = gcBeans.map(_.getCollectionCount.max(0L)).sum
  def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  @volatile private var peakAfterGc = 0L
  def resetPeak(): Unit = peakAfterGc = 0L
  def peakLiveHeapMb: Double = peakAfterGc / 1048576.0

  /** Track heap use after every collection (the live-set estimate). */
  def watchGc(): Unit = gcBeans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if !pool.contains("Metaspace") && !pool.contains("Code") &&
              !pool.contains("Compressed") => u.getUsed
          }.sum
          if (used > peakAfterGc) peakAfterGc = used
        }
      }, null, null)
    case _ => ()
  }

  /** Heap in use after full collections: the live set at the end of a run. */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees the cached blocks of unreachable RDDs only
    // after a collection has found them: collect, let it run, collect again.
    System.gc(); Thread.sleep(1000); System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `some total` of /proc/pressure/cpu in microseconds, if the host has it. */
  def cpuPressureUs: Option[Long] =
    try {
      Files.readAllLines(Paths.get("/proc/pressure/cpu")).asScala
        .find(_.startsWith("some")).flatMap(_.split(" ").find(_.startsWith("total=")))
        .map(_.stripPrefix("total=").toLong)
    } catch { case _: Exception => None }

  /** (steal, total) jiffies over all CPUs from /proc/stat, if the host has
    * it; steal is time the hypervisor ran something else on this machine's
    * virtual CPUs. */
  def cpuSteal: Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
      Some((f(7), f.take(8).sum))
    } catch { case _: Exception => None }

  /** Single-thread integer spin, median of three ~0.1 s passes. */
  def calibS(): Double = {
    def pass(): Long = {
      var i = 0; var acc = 0x9E3779B97F4A7C15L
      while (i < 60000000) { acc ^= acc << 13; acc ^= acc >>> 7; acc ^= acc << 17; acc += i; i += 1 }
      acc
    }
    var sink = pass()
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); sink ^= pass(); (System.nanoTime() - t0) / 1e9
    }.sorted
    if (sink == 42L) println("")
    ts(1)
  }

  /** Parquet data files, and bytes of all files, under `root`. */
  def treeStats(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        s.iterator.asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) {
          case ((n, b), f) =>
            (if (f.getFileName.toString.endsWith(".parquet")) n + 1 else n, b + Files.size(f))
        }
      } finally s.close()
    }
  }
}
