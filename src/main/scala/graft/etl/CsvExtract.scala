package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extract-phase errors mirroring the reference's exception hierarchy
  * (/root/reference/src/extract.py, src/etl_pipeline.py:36-58). */
final class ExtractError(msg: String) extends RuntimeException(msg)

/** P1-P4 — CSV extraction (reference /root/reference/src/extract.py).
  *
  * Source contract: 7 required columns, extra columns tolerated
  * (src/config.py:45-53; tests/test_extract.py:100-108). The CSV is read
  * header-first with NO schema inference — every column lands as a string and
  * typing happens in the transform stage's coerce-with-null step, exactly
  * like the reference's read-then-coerce split. PERMISSIVE is Spark's
  * default: malformed lines yield nulls, not errors.
  */
object CsvExtract {

  val RequiredColumns: Seq[String] = Seq(
    "transaction_id", "date", "category", "amount",
    "merchant", "payment_method", "user_id")

  /** P2 — file metadata probe (src/extract.py:23-61). Driver-side, not a
    * Spark op: at 100 TB this is a manifest/metastore lookup, never a scan.
    */
  final case class FileMeta(path: String, exists: Boolean, sizeBytes: Long, modifiedMs: Long)

  def fileMeta(path: String): FileMeta = {
    val p = Paths.get(path)
    if (Files.exists(p))
      FileMeta(path, exists = true, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    else FileMeta(path, exists = false, 0L, 0L)
  }

  /** P1 — CSV scan. `seq` captures file order (monotonically_increasing_id is
    * ordered within and across a single file's offset-ordered partitions),
    * which downstream keep-first dedup needs.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
      .withColumn("seq", monotonically_increasing_id())

  /** RFC-4180 CSV scan: quoted fields may contain the delimiter, doubled
    * quotes (`""` escaping — Spark's default escape is backslash, so it
    * must be pinned to `"`), and EMBEDDED NEWLINES (`multiLine`). The
    * 100 TB tradeoff `multiLine` buys this correctness with: a file whose
    * records can span lines cannot be split at arbitrary byte offsets, so
    * each FILE becomes one input partition — fine for many medium files,
    * wrong for one giant file. Bulk pipelines prefer newline-free escaped
    * formats exactly to keep scans splittable; this reader is the
    * correctness path for third-party RFC-4180 drops.
    */
  def readRobust(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("multiLine", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)

  /** P1 over a DIRECTORY BATCH: read several CSV files as ONE frame with a
    * composite file-order `seq` = struct(file, off). A single multi-file
    * `spark.read.csv(paths: _*)` packs small files into shared partitions in
    * SIZE order, so `monotonically_increasing_id` alone cannot encode
    * "first in file order" across files — each file is read separately and
    * tagged with the caller's file index, which keeps keep-first dedup
    * deterministic across the batch. Struct `seq` sorts field-wise
    * (file, then within-file offset), so every downstream consumer that
    * orders by `seq` gets batch order unchanged. File order is the CALLER's
    * contract (the reference processes batches in invocation order) — pass
    * paths sorted if lexicographic order is intended. Schemas may differ in
    * extra columns (tolerated, null-filled on the other files).
    */
  def readBatch(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "readBatch needs at least one path")
    paths.zipWithIndex.map { case (p, i) =>
      read(spark, p).withColumn("seq",
        struct(lit(i).as("file"), col("seq").as("off")))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** P3 — structure validation report (src/extract.py:64-104). */
  final case class StructureReport(
      rowCount: Long, missingColumns: Seq[String], extraColumns: Seq[String], allNullRows: Long)

  def validateStructure(df: DataFrame): StructureReport = {
    val cols = df.columns.filterNot(_ == "seq").toSeq
    val missing = RequiredColumns.filterNot(cols.contains)
    val present = RequiredColumns.filter(cols.contains)
    val counts =
      if (present.isEmpty) (df.count(), 0L)
      else {
        val r = df.agg(
          count(lit(1)).as("n"),
          sum(present.map(c => col(c).isNull).reduce(_ && _).cast("long")).as("allnull"))
          .collect()(0)
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    StructureReport(counts._1, missing, cols.diff(RequiredColumns), counts._2)
  }

  /** P4 — per-column null profile (src/extract.py:190-199): one aggregate
    * pass, no per-column jobs.
    */
  def nullProfile(df: DataFrame): DataFrame = {
    val cols = df.columns.filterNot(_ == "seq").toSeq
    df.agg(
        count(lit(1)).as("__n"),
        cols.map(c => sum(col(c).isNull.cast("long")).as(c)): _*)
      .unpivot(Array(col("__n")), cols.map(col).toArray, "column_name", "null_count")
      .select(
        col("column_name"),
        col("null_count"),
        round(lit(100.0) * col("null_count") / col("__n"), 2).as("null_pct"))
  }

  /** Full extract with fail-fast validation ordering (structure before data,
    * src/extract.py:178-186): missing file / missing columns / empty file
    * abort. The column check needs only the header schema and the empty
    * check one limit-1 read, so no full-file aggregate runs here; the full
    * [[validateStructure]] report (row and all-null counts) is for callers
    * that print it.
    */
  def extract(spark: SparkSession, path: String): DataFrame = {
    if (!fileMeta(path).exists) throw new ExtractError(s"source file not found: $path")
    val df = read(spark, path)
    val missing = RequiredColumns.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new ExtractError(s"missing required columns: ${missing.mkString(", ")}")
    if (df.isEmpty) throw new ExtractError(s"source file has no data rows: $path")
    df
  }
}
