package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan 2005) — the frequency member
  * of the engine's mergeable-sketch family (HLL = distinct counts, Bloom =
  * membership, MinHash = similarity, Misra-Gries = exact heavy hitters):
  * approximate per-key counts in depth·width cells regardless of key
  * cardinality, with ONE-SIDED error (never an undercount; overcount
  * ≤ e·N/width with probability 1 − e^−depth).
  *
  * Representation: a (j, bucket, cnt) DataFrame — d·w rows max. Row j's
  * hash is `xxhash64(j, key) mod width` (Spark's codegen'd 64-bit hash;
  * distinct j values give the d independent-enough hash functions).
  *
  * Scale shape: the build explodes each row ×depth but map-side combine
  * collapses to the d·w cell grid BEFORE the exchange — the shuffle is
  * sketch-sized, not corpus-sized, whatever the key cardinality (the
  * reason to prefer CMS over an exact groupBy count at 100 TB of
  * unbounded keys). Merging is cell-wise ADDITION — associative and
  * commutative, so sketches of partitions/days combine to exactly the
  * whole-corpus sketch (NOT idempotent: a replayed append inflates, so a
  * persisted CMS store must append each batch once, unlike the HLL
  * store's register-max).
  */
object CountMin {

  /** The sketch CARRIES its geometry: two constant (depth, width) columns
    * ride on every cell row (d·w rows max — bytes, not data), so serving
    * can never hash keys with a geometry other than the one the sketch
    * was built with (ADVICE r11: parameter-passed geometry silently
    * mis-hashed on mismatch, breaking the never-undercount guarantee —
    * the same silent failure the Search index's _BUCKETS sidecar exists
    * to prevent).
    */
  def build(df: DataFrame, keyCol: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1)
    df.select(col(keyCol).as("k"),
      explode(array((0 until depth).map(lit): _*)).as("j"))
      .withColumn("bucket", pmod(xxhash64(col("j"), col("k")), lit(width.toLong)))
      .groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("depth", lit(depth)).withColumn("width", lit(width.toLong))
  }

  /** Cell-wise sum of two sketches. Exactly the sketch of the
    * concatenated inputs — PROVIDED the geometries agree; a mismatched
    * merge yields mixed (depth, width) rows that [[estimate]] rejects.
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("j", "bucket", "depth", "width")
      .agg(sum("cnt").as("cnt"))
      .select("j", "bucket", "cnt", "depth", "width")

  /** Point estimates for `keys` (distinct): (k, est) with
    * est = min over rows j of the key's cell. Never below the true count.
    * Geometry comes FROM the sketch (one broadcast 1-row aggregate), with
    * an assert_true that fails the query on mixed geometry instead of
    * returning meaningless estimates; an empty sketch estimates 0 for
    * every key (the sketch of an empty corpus).
    */
  def estimate(sketch: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    val uniform = coalesce(
      col("dmin") === col("dmax") && col("wmin") === col("wmax"), lit(true))
    val geo = sketch
      .agg(min("depth").as("dmin"), max("depth").as("dmax"),
        min("width").as("wmin"), max("width").as("wmax"))
      .select(
        // assert_true returns null on pass — folded into `depth` via
        // coalesce so column pruning cannot drop the check
        coalesce(assert_true(uniform, lit(
          "CountMin.estimate: sketch carries mixed (depth,width) — " +
            "sketches of different geometries were merged")).cast("int"),
          coalesce(col("dmax"), lit(1))).as("depth"),
        coalesce(col("wmax"), lit(1L)).as("width"))
    keys.select(col(keyCol).as("k")).distinct()
      .crossJoin(broadcast(geo))
      .select(col("k"), col("width"),
        explode(sequence(lit(0), col("depth") - 1)).as("j"))
      .withColumn("bucket", pmod(xxhash64(col("j"), col("k")), col("width")))
      .join(sketch.select("j", "bucket", "cnt"), Seq("j", "bucket"), "left")
      .groupBy("k").agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
