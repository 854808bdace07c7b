package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.store.VersionedStore

/** Versioned MERGEABLE-SKETCH store — the sketch MATERIALIZED VIEW: keyed
  * HLL sketches persisted once, so distinct-count queries (rolling active
  * users, cardinality dashboards) serve from |keys| rows without ever
  * rescanning the event log. The sketch twin of [[CountStore]] (same
  * durability protocol, [[graft.store.VersionedStore]]): appends stage a new
  * version without reading existing state, and the merge — register-wise
  * max under `hll_union_agg`, associative, commutative, and IDEMPOTENT —
  * is deferred to [[read]]. Idempotence is the property counts don't
  * have: re-appending a sketch of the same rows cannot inflate an
  * estimate (spec-pinned).
  *
  * Layout convention: every column but the LAST is a key; the last column
  * is the binary HLL sketch (`hll_sketch_agg` output). At 100 TB each
  * version is key-cardinality-sized (daily user sketches: |days| rows of
  * ≤ 2^lgK bytes), so [[read]]'s union is a metadata-scale rollup.
  */
object SketchStore {

  private def requireSketchSchema(sketches: DataFrame): Unit = {
    require(sketches.columns.length >= 2,
      "SketchStore needs at least one key column plus the trailing sketch column")
    require(sketches.schema.fields.last.dataType == BinaryType,
      s"SketchStore's last column must be the binary HLL sketch, got " +
        sketches.schema.fields.last.dataType.catalogString)
  }

  /** Publish `sketches` as the store's sole version (bootstrap/rebuild). */
  def write(sketches: DataFrame, path: String): Unit = {
    requireSketchSchema(sketches)
    VersionedStore.commit(path, replace = true)(s => sketches.write.parquet(s"$s/sketches"))
  }

  /** Append a batch's sketches as a new version — nothing existing is read
    * or rewritten.
    */
  def append(sketches: DataFrame, path: String): Unit = {
    requireSketchSchema(sketches)
    VersionedStore.commit(path, replace = false)(s => sketches.write.parquet(s"$s/sketches"))
  }

  /** The union-merged view across all committed versions: one row per key,
    * sketches merged register-wise (identical to having sketched all the
    * underlying items in one pass).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val u = VersionedStore.read(spark, path, "sketches")
    val sk = u.columns.last
    u.groupBy(u.columns.dropRight(1).map(col): _*)
      .agg(hll_union_agg(col(sk)).as(sk))
  }

  /** Fold the committed versions into one merged version (bounds
    * [[read]]'s scan width); a store with one version is left as it is.
    */
  def compact(spark: SparkSession, path: String): Unit =
    VersionedStore.compact(path)(s => read(spark, path).write.parquet(s"$s/sketches")): Unit

  /** Delete unreferenced version dirs (the [[VersionedStore.vacuum]] guards). */
  def vacuum(path: String): Int = VersionedStore.vacuum(path)
}
