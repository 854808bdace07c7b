package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.store.VersionedStore

/** Versioned ADDITIVE count store — persisted keyed counts whose merge
  * operation is SUM, so appends are associative and an incremental build
  * equals a from-scratch one exactly (long arithmetic; spec-pinned by the
  * x27 def's unchanged x25 oracle). The statistics backbone for models
  * that are themselves counts: DSIR bucket histograms, unigram/bigram LM
  * frequencies, per-source token budgets.
  *
  * Durability is the [[graft.store.VersionedStore]] protocol: each batch
  * commits as one version under an atomic pointer swap; a crash
  * mid-append leaves the prior pointer live and the replayed append
  * clobbers the orphan.
  *
  * Layout convention: every column but the LAST is a key; the last column
  * is the long count. [[read]] returns the summed view across committed
  * versions — at 100 TB each version is key-cardinality-sized (bucket
  * histograms: ≤ |buckets| rows), so the sum is a metadata-scale rollup,
  * and [[compact]] folds the version list back to one when it grows.
  */
object CountStore {

  private def requireCountSchema(counts: DataFrame): Unit = {
    require(counts.columns.length >= 2,
      "CountStore needs at least one key column plus the trailing count column")
    require(counts.schema.fields.last.dataType == LongType,
      s"CountStore's last column must be the long count, got " +
        counts.schema.fields.last.dataType.catalogString)
  }

  private def commit(counts: DataFrame, path: String, replace: Boolean): Unit = {
    requireCountSchema(counts)
    VersionedStore.commit(path, replace)(s => counts.write.parquet(s"$s/counts"))
  }

  /** Publish `counts` as the store's sole version (bootstrap / rebuild). */
  def write(counts: DataFrame, path: String): Unit =
    commit(counts, path, replace = true)

  /** Append a batch's counts as a new version — NOTHING existing is read
    * or rewritten; the merge is deferred to [[read]]'s sum. Appending the
    * same batch twice counts it twice: additive state has no read-side
    * dedup, so each batch must be appended once.
    */
  def append(counts: DataFrame, path: String): Unit =
    commit(counts, path, replace = false)

  /** The summed view across all committed versions. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val u = VersionedStore.read(spark, path, "counts")
    val cnt = u.columns.last
    u.groupBy(u.columns.dropRight(1).map(col): _*).agg(sum(col(cnt)).as(cnt))
  }

  /** Fold the committed versions into one summed version (bounds
    * [[read]]'s scan width); old version dirs stay until [[vacuum]]. A
    * store with one version is left as it is.
    */
  def compact(spark: SparkSession, path: String): Unit =
    VersionedStore.compact(path)(s => read(spark, path).write.parquet(s"$s/counts")): Unit

  /** Delete version dirs the pointer no longer references (the
    * [[graft.store.VersionedStore.vacuum]] guards); returns the number of
    * directories removed.
    */
  def vacuum(path: String): Int = VersionedStore.vacuum(path)
}
