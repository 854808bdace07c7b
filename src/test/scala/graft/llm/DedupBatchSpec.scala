package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** The batch dedups' evaluation shape: the input batch is evaluated once
  * however often the result is consumed, and the persisted index's scans
  * feed their joins without being shuffled.
  */
class DedupBatchSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  /** `frame` with a counter that fires once per row each time it is
    * evaluated.
    */
  private def counted(frame: DataFrame): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("input-rows")
    val tick = udf { (id: Long) => acc.add(1L); id }.asNondeterministic()
    (frame.withColumn("doc_id", tick(col("doc_id"))), acc)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("dedupAgainstIndex and dedupAgainstCorpus evaluate their input once") {
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    val n = batch.count()
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-once").toString
    Dedup.writeCorpusIndex(corpus, idx)
    val forms = Seq[(String, DataFrame => DataFrame)](
      "dedupAgainstIndex" -> (Dedup.dedupAgainstIndex(_, idx, threshold = 0.5)),
      "dedupAgainstCorpus" -> (Dedup.dedupAgainstCorpus(_, corpus, threshold = 0.5)))
    val expected = ids(batch) -- Dedup.crossNearDupPairs(batch, corpus, threshold = 0.5)
      .select("new_id").collect().map(_.getLong(0)).toSet
    assert(expected.size < n, "the fixture must plant some near-duplicates")
    for ((name, dedup) <- forms) {
      val (input, acc) = counted(batch)
      val out = dedup(input)
      assert(ids(out) == expected, name)
      out.count()
      assert(acc.value == n, s"$name evaluated its input ${acc.value.toDouble / n} times")
    }
  }

  /** Every node of an executed plan, through adaptive stages, reused
    * exchanges and the plans of cached relations.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => p.children.flatMap(nodes)
  })

  /** The file scans below `p` reached without crossing a join. */
  private def narrowScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case _: BaseJoinExec => Seq.empty
    case a: AdaptiveSparkPlanExec => narrowScans(a.executedPlan)
    case s: QueryStageExec => narrowScans(s.plan)
    case r: ReusedExchangeExec => narrowScans(r.child)
    case _ => p.children.flatMap(narrowScans)
  }

  /** The executed plans of every query `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val sentinel = "executed_plans_sentinel"
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(col("id").as(sentinel)).collect()
      def done = seen.toArray.exists(_.asInstanceOf[SparkPlan].output.exists(_.name == sentinel))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!done && System.nanoTime() < deadline) Thread.sleep(10)
      assert(done, "listener never saw the sentinel query")
      seen.toArray.toSeq.map(_.asInstanceOf[SparkPlan])
    } finally spark.listenerManager.unregister(listener)
  }

  test("dedupAgainstIndex: no shuffle sits between the index scans and their joins") {
    // a batch smaller than the indexed corpus, as in an incremental ingest
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-plan").toString
    Dedup.writeCorpusIndex(docs.filter(col("doc_id") % 4 =!= 0), idx)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val plans = executedPlans(Dedup.dedupAgainstIndex(batch, idx, threshold = 0.5).count(): Unit)
    val indexScans = plans.flatMap(nodes).collect { case s: FileSourceScanExec
      if s.relation.location.rootPaths.exists(_.toString.contains(idx)) => s }
    assert(indexScans.map(_.relation.location.rootPaths.head.getName).toSet ==
      Set("buckets", "shingles"), "both index tables must be scanned")
    val shuffled = plans.flatMap(nodes).collect { case e: ShuffleExchangeLike => e }
      .flatMap(e => narrowScans(e.child))
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(idx)))
    assert(shuffled.isEmpty, "an index scan is shuffled:\n" + shuffled.mkString("\n"))
  }
}
