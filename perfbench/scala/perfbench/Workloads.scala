package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.SqlFileQueries
import graft.etl.{CsvExtract, TxnPipeline}
import graft.llm.{Curation, Dedup, Sampling, Search}
import graft.operators.Materialize
import graft.warehouse.ParquetWarehouse

/** One closed-loop, single-client workload: ops run back to back, each
  * only after the previous one returned. Ops 0 until `warmupOps` are
  * set-up; the measured phase runs the rest.
  */
trait Workload {
  /** Builds the stores and views the ops need (part of set-up). */
  def setup(): Unit
  /** Op kinds in run order, warm-up ops first. */
  def plan: IndexedSeq[String]
  def warmupOps: Int
  /** Primary ops are the ones `op_p50_s` is the median of. */
  def primary(kind: String): Boolean
  def run(i: Int): Unit
  /** Untimed observations the output checks compare with expectations. */
  def observe(): Map[String, Any]
  /** Per-layer counters read at the end of the measured phase. */
  def counters(): Map[String, Any]
  /** Directories whose bytes count as the persisted store. */
  def storeRoots: Seq[String]
}

object Workload {
  /** The op kinds the generator wrote for this run, warm-up ops first. */
  def readPlan(data: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(s"$data/plan.txt")).asScala.map(_.trim).filter(_.nonEmpty).toIndexedSeq

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def versionDirs(root: String): Int =
    if (!Files.isDirectory(Paths.get(root))) 0
    else {
      val s = Files.list(Paths.get(root))
      try s.iterator.asScala.count(p => Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+"))
      finally s.close()
    }
}

// ------------------------------------------------------------ etl_batches

/** Dirty CSV batches loaded into one growing parquet warehouse, with the
  * reference SQL library read back between loads: every load extracts a
  * batch, builds its star, appends the fact idempotently and publishes the
  * star as a snapshot; every other op runs one library query over the
  * published star through `ParquetWarehouse.readTable`; every 8th op is
  * snapshot maintenance (delete, compact, vacuum).
  */
final class EtlBatches(spark: SparkSession, t: Tracer, data: String, work: String,
                       val warmupOps: Int, sqlFile: String) extends Workload {
  private val factPath = s"$work/warehouse/fact_transactions"
  private val starRoot = s"$work/warehouse/star"
  private val starTables = Seq("dim_category", "dim_merchant", "dim_payment_method",
    "dim_user", "dim_date", "fact_transactions")
  private val library = SqlFileQueries.parseFile(sqlFile)

  val plan: IndexedSeq[String] = Workload.readPlan(data)
  private val batchOf = plan.scanLeft(0)((b, k) => if (k == "load_batch") b + 1 else b)
  private val sqlOf = plan.scanLeft(0)((q, k) => if (k == "sql") q + 1 else q)
  def primary(kind: String): Boolean = kind == "load_batch"

  var validRows, newRows = 0L
  /** Columns and rows of the library queries run on the current snapshot
    * version; the output check compares the final version's with DuckDB. */
  private val onSnapshot = scala.collection.mutable.Map.empty[Int, (Array[String], Array[Row])]

  def setup(): Unit = ()

  def run(i: Int): Unit = plan(i) match {
    case "load_batch" =>
      val raw = t.call("etl", "extract")(
        CsvExtract.extract(spark, f"$data/batch_${batchOf(i)}%03d.csv"))
      val star = t.call("etl", "build_star") {
        val s = TxnPipeline.buildStar(raw)
        validRows += s("valid").count()
        s
      }
      newRows += t.call("warehouse", "append")(
        ParquetWarehouse.appendIdempotent(star("fact_transactions"), factPath, "transaction_id"))
      t.call("warehouse", "publish")(ParquetWarehouse.publishSnapshot(starRoot, star - "valid"))
      star("valid").unpersist()
      onSnapshot.clear()
    case "maintenance" =>
      t.call("warehouse", "delete") {
        val keys = spark.read.option("header", "true").csv(f"$data/delete_$i%03d.csv")
        ParquetWarehouse.deleteFromSnapshot(starRoot, "fact_transactions", keys, "transaction_id")
      }
      t.call("warehouse", "compact")(
        ParquetWarehouse.compactSnapshotDeletes(spark, starRoot, "fact_transactions"))
      t.call("warehouse", "vacuum")(ParquetWarehouse.vacuumSnapshots(starRoot))
      onSnapshot.clear()
    case _ =>
      val j = sqlOf(i) % library.size
      onSnapshot(j) = query(j)
  }

  /** One library query over the published star, read through readTable. */
  private def query(j: Int): (Array[String], Array[Row]) = {
    SqlFileQueries.registerStar(t.call("warehouse", "read")(
      starTables.map(n => n -> ParquetWarehouse.readTable(spark, starRoot, n)).toMap))
    t.call("queries", "sql_file") {
      val df = spark.sql(library(j).sql)
      (df.columns, df.collect())
    }
  }

  def observe(): Map[String, Any] = {
    val f = spark.read.parquet(factPath).agg(
      count(lit(1)), countDistinct(col("transaction_id")),
      sum(round(col("amount") * 100).cast("long"))).head()
    val pf = ParquetWarehouse.preFlight(spark, starRoot, starTables)
    // the measured queries' results on the final snapshot, for the DuckDB oracle
    val results = onSnapshot.map { case (j, (columns, rows)) =>
      s"sql$j" -> Map("sql" -> library(j).sql, "columns" -> columns.toSeq,
        "rows" -> rows.map(_.toSeq.map {
          case v @ (null | _: String | _: Number | _: Boolean) => v
          case v => v.toString // dates and timestamps as text, as DuckDB's are compared
        }).toSeq)
    }.toMap
    Map("fact_rows" -> f.getLong(0), "fact_ids" -> f.getLong(1), "fact_cents" -> f.getLong(2),
      "preflight_ok" -> pf.ok, "preflight_problems" -> pf.problems,
      "star" -> pf.rowCounts, "version_dirs" -> Workload.versionDirs(starRoot),
      "current_version" -> ParquetWarehouse.currentVersion(starRoot),
      "star_root" -> starRoot, "sql" -> results)
  }

  def counters(): Map[String, Any] = Map(
    "warehouse.files" -> Probes.treeStats(s"$work/warehouse")._1,
    "warehouse.versions" -> Workload.versionDirs(starRoot),
    "etl.valid_rows" -> validRows, "etl.new_rows" -> newRows)

  def storeRoots: Seq[String] = Seq(s"$work/warehouse")
}

// ---------------------------------------------------------- corpus_ingest

/** Document batches ingested into a near-dup index and a ranked (BM25)
  * search index: decontaminate, dedup against the index, curate and split,
  * then append; searches are interleaved and every 4th op is index
  * maintenance. Untraced, the stages chain lazily as the engine composes
  * them and only the curated frame both appends read is materialized.
  * Traced, each stage's output is materialized and counted, so its cost
  * lands in its own call and the per-stage survivor counts are known.
  */
final class CorpusIngest(spark: SparkSession, t: Tracer, data: String, work: String,
                         val warmupOps: Int) extends Workload {
  private val idx = s"$work/corpus_index"
  private val ranked = s"$work/ranked_index"
  private val queries: Map[Int, Seq[String]] =
    Files.readAllLines(Paths.get(s"$data/queries.tsv")).asScala.map { l =>
      val p = l.split("\t"); p(0).toInt -> p(1).split(" ").toSeq
    }.toMap

  val plan: IndexedSeq[String] = Workload.readPlan(data)
  private val batchOf = plan.scanLeft(0)((b, k) => if (k == "ingest_batch") b + 1 else b)
  def primary(kind: String): Boolean = kind == "ingest_batch"

  /** Per-stage document counts, gathered by traced runs only. */
  private val stageDocs = scala.collection.mutable.LinkedHashMap(
    "llm.docs_in" -> 0L, "llm.after_decontaminate" -> 0L, "llm.after_dedup" -> 0L,
    "llm.kept" -> 0L)
  private lazy val benchmark = spark.read.parquet(s"$data/benchmark.parquet")

  def setup(): Unit = {
    val seed = spark.read.parquet(s"$data/seed_corpus.parquet")
    Dedup.writeCorpusIndex(seed, idx)
    Search.initRankedIndex(seed, ranked)
  }

  /** A stage's output: materialized and counted when tracing (or always,
    * with `cut`), else the lazy frame. */
  private def stage(counter: String, cut: Boolean = false)(df: DataFrame): DataFrame =
    if (!t.enabled && !cut) df
    else {
      val c = Materialize.cut(df)
      if (t.enabled) stageDocs(counter) += c.count()
      c
    }

  def run(i: Int): Unit = plan(i) match {
    case "ingest_batch" =>
      val batch = spark.read.parquet(f"$data/batch_${batchOf(i)}%03d.parquet")
      if (t.enabled) stageDocs("llm.docs_in") += batch.count()
      val clean = t.call("llm", "decontaminate")(
        stage("llm.after_decontaminate")(Dedup.decontaminate(batch, benchmark)))
      val fresh = t.call("llm", "dedup_index")(
        stage("llm.after_dedup")(Dedup.dedupAgainstIndex(clean, idx)))
      val curated = t.call("llm", "curate")(
        stage("llm.kept", cut = true)(Sampling.trainValTestSplit(Curation.curate(fresh), "doc_id")))
      t.call("llm", "index_append") {
        Dedup.appendToCorpusIndex(curated.select("doc_id", "text"), idx)
        Search.appendToRankedIndex(
          curated.filter(col("split") === "train").select("doc_id", "text"), ranked)
      }
    case "search" =>
      lastSearch = Some(queries(i) -> t.call("llm", "search")(search(queries(i))))
    case _ =>
      t.call("llm", "index_compact") {
        Dedup.compactCorpusIndex(spark, idx)
        Dedup.vacuumCorpusIndex(idx)
      }
  }

  /** Terms and results of the latest search, rerun by the output check. */
  private var lastSearch: Option[(Seq[String], Seq[Long])] = None

  private def search(terms: Seq[String]): Seq[Long] =
    Search.searchRankedIndexed(spark, ranked, terms, 10).collect().map(_.getLong(0)).toSeq

  def observe(): Map[String, Any] = {
    val ids = Dedup.indexShingles(spark, idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val (terms, first) = lastSearch.getOrElse(queries.minBy(_._1)._2 -> Seq.empty[Long])
    val again = search(terms)
    Map("indexed_docs" -> ids.length, "indexed_digest" -> Workload.sha256(ids.mkString(",")),
      "search_stable" -> (lastSearch.isEmpty || first == again), "search_ids" -> again.sorted)
  }

  private def pointerLines(root: String): Int =
    graft.warehouse.AtomicPointer.read(s"$root/CURRENT")
      .map(_.split("\n").count(_.trim.nonEmpty)).getOrElse(0)

  def counters(): Map[String, Any] = Map(
    "llm.index.files" -> (Probes.treeStats(idx)._1 + Probes.treeStats(ranked)._1),
    "llm.index.versions" -> (pointerLines(idx) + pointerLines(ranked))) ++
    (if (t.enabled) stageDocs else Map.empty)

  def storeRoots: Seq[String] = Seq(idx, ranked)
}
