package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavior tests for the round-5 operators: cross-corpus incremental
  * dedup, sequence packing, quantile quality filtering, and int8 embedding
  * quantization. (Cross-engine exactness is covered by the d08/x14/x15/s04
  * DuckDB oracles; these pin semantics on inputs where the expected values
  * are computable by eye, plus the operator-vs-window equivalence and
  * cache-hygiene contracts.)
  */
class Round5OpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  // ---------------------------------------------------------- cross dedup

  test("crossNearDupPairs: planted near-dup across sides is found; within-side dups are not pairs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "one two three four five six seven eight nine ten")) // corpus-internal dup
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
      (11L, "totally unrelated words about completely different things here now"))
      .toDF("doc_id", "text")
    val (pairs, release) = Dedup.crossNearDupPairsWithCleanup(fresh, corpus, threshold = 0.5)
    val got = pairs.select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    release()
    // 8 shared of 9 vs 9 shingles → j = 8/10 = 0.8 ≥ 0.5; the corpus-internal
    // 2≡3 pair must NOT appear (cross detection only), and 11 matches nothing
    assert(got == Set((10L, 1L)), s"got $got")
  }

  test("dedupAgainstCorpus: drops matched new docs, keeps the rest, never touches the corpus frame") {
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val fresh = docs.filter($"doc_id" % 3 === 0)
    val matched = Dedup.crossNearDupPairs(fresh, corpus, threshold = 0.8)
      .select("new_id").distinct().as[Long].collect().toSet
    val survivors = Dedup.dedupAgainstCorpus(fresh, corpus, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val freshIds = fresh.select("doc_id").as[Long].collect().toSet
    assert(survivors == freshIds -- matched)
  }

  test("cross dedup releases its caches (release handle + dedupAgainstCorpus)") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val before = persisted
    val (pairs, release) = Dedup.crossNearDupPairsWithCleanup(
      docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 =!= 0))
    pairs.count()
    release()
    assert((persisted -- before).isEmpty, "crossNearDupPairsWithCleanup leaked persisted RDDs")
    Dedup.dedupAgainstCorpus(
      docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 =!= 0)).count()
    // the eager form may keep exactly ONE block alive: the checkpointed
    // input batch backing the returned frame (reclaimed by the
    // ContextCleaner once the frame is unreferenced — the same contract as
    // the eager ANN conveniences lshTopK/ivfTopK); the pipeline's internal
    // shingle/candidate caches must all be gone
    assert((persisted -- before).size <= 1, "dedupAgainstCorpus leaked pipeline caches")
  }

  // ------------------------------------------------------------- packing

  test("packGreedy: equals the single-window formulation and is partition-independent") {
    val b = 512L
    val expected = {
      val scored = docs.select(
        col("doc_id"),
        Sampling.hashBucket(col("doc_id"), "pack").as("bucket"),
        size(TextFns.tokens(col("text"))).as("n_tokens"))
        .withColumn("sort_key",
          concat(col("bucket"), lit("-"), lpad(col("doc_id").cast("string"), 20, "0")))
      val w = Window.orderBy("sort_key").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.withColumn("prefix", sum("n_tokens").over(w) - col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"prefix div ${b}L").as("bin_id"), (col("prefix") % b).as("bin_offset"))
    }
    val got = Packing.packGreedy(docs, b)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "packGreedy must equal the window formulation")
    val repart = Packing.packGreedy(docs.repartition(7), b)
    assert(repart.except(got).isEmpty && got.except(repart).isEmpty,
      "packing must not depend on input partitioning")
  }

  test("packGreedy invariants: offsets in [0,B), bins contiguous, stream length conserved") {
    val b = 512L
    val rows = Packing.packGreedy(docs, b)
      .select("n_tokens", "bin_id", "bin_offset")
      .as[(Int, Long, Long)].collect()
    assert(rows.forall { case (_, _, off) => off >= 0 && off < b })
    val total = rows.map(_._1.toLong).sum
    val maxEnd = rows.map { case (n, bin, off) => bin * b + off + n }.max
    assert(maxEnd == total, "last document must end exactly at the stream's total token count")
    val bins = rows.map(_._2).toSet
    assert(bins == (0L until (total + b - 1) / b).toSet
      || bins == (0L to total / b).toSet, "bin ids must be contiguous from 0")
    assert(Packing.packBins(docs, b).agg(sum("tokens_started")).as[Long].head() == total)
  }

  test("packGreedy rejects a non-positive bin size") {
    intercept[IllegalArgumentException](Packing.packGreedy(docs, 0L))
  }

  test("packGreedy: ids wider than 12 digits keep unique, layout-stable sort keys (ADVICE r5)") {
    // lpad TRUNCATES oversized input: at the old width 12, these 13-digit
    // ids — identical except in their leading digits — collapsed to ONE key,
    // violating PrefixSum's duplicate-free contract; width 20 holds any
    // unsigned 64-bit id
    val wide = Seq(
      (1000000000001L, "one two three four five"),
      (2000000000001L, "six seven eight nine ten"),
      (9223372036854775807L, "max long id doc text here")) // Long.MaxValue: 19 digits
      .toDF("doc_id", "text")
    val packed = Packing.packGreedy(wide, 8L)
      .select("doc_id", "bin_id", "bin_offset")
      .as[(Long, Long, Long)].collect().toSet
    assert(packed.size == 3)
    val repart = Packing.packGreedy(wide.repartition(3), 8L)
      .select("doc_id", "bin_id", "bin_offset")
      .as[(Long, Long, Long)].collect().toSet
    assert(repart == packed, "wide-id packing must be partition-independent")
  }

  // ---------------------------------------------------- quantile filtering

  test("quantileQualityFilter: keeps exactly the at-or-above-threshold docs per language") {
    val scored = TextAnalysis.scoreDocuments(docs).select("doc_id", "predicted_lang", "quality")
    val kept = Curation.quantileQualityFilter(docs, quantile = 0.25)
    // every language keeps ≥ 75% (ties at the threshold keep MORE, never fewer)
    val frac = scored.groupBy("predicted_lang").agg(count(lit(1)).as("n"))
      .join(kept.groupBy("predicted_lang").agg(count(lit(1)).as("k")), Seq("predicted_lang"))
      .select(($"k".cast("double") / $"n".cast("double")).as("f"))
      .as[Double].collect()
    assert(frac.nonEmpty && frac.forall(f => f >= 0.75 && f <= 1.0), frac.mkString(","))
    // complement check: every dropped doc sits strictly below its lang threshold
    val thresholds = kept.select("predicted_lang", "q_threshold").distinct()
    val dropped = scored.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(thresholds, Seq("predicted_lang"))
      .filter($"quality" >= $"q_threshold")
    assert(dropped.isEmpty, "a dropped doc was at/above its language's threshold")
  }

  test("quantileQualityFilter: quantile 0 keeps everything; out-of-range throws") {
    assert(Curation.quantileQualityFilter(docs, 0.0).count() == docs.count())
    intercept[IllegalArgumentException](Curation.quantileQualityFilter(docs, 1.5))
  }

  // --------------------------------------------------------- quantization

  test("quantizeInt8: hand-computed values (round-half-up via floor) and zero-vector nulls") {
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df).orderBy("vec_id", "idx")
      .select("q").collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    // scale = 127; -63.5 + 0.5 floors to -63 (half-up), 31.75 + 0.5 floors to 32
    assert(q.take(3).flatten.toSeq == Seq(127, -63, 32))
    assert(q.drop(3).forall(_.isEmpty), "zero vector must quantize to nulls, not NaN casts")
  }

  test("quantizeInt8: |q| ≤ 127 and dequantization error ≤ half a step, corpus-wide") {
    val bad = Similarity.quantizeInt8Packed(embs)
      .select(col("vec_id"), col("scale"), posexplode(col("q")).as(Seq("idx", "qi")))
      .join(embs.select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x"))),
        Seq("vec_id", "idx"))
      .filter(abs($"qi") > 127 ||
        abs($"x".cast("double") - $"qi".cast("double") / $"scale") > lit(0.5) / $"scale" + lit(1e-12))
    assert(bad.isEmpty, "quantized value out of range or reconstruction error beyond half a step")
  }

  test("quantizeInt8 exploded and packed forms agree") {
    val exploded = Similarity.quantizeInt8(embs)
    val fromPacked = Similarity.quantizeInt8Packed(embs)
      .select(col("vec_id"), posexplode(col("q")).as(Seq("idx", "q")))
    assert(exploded.except(fromPacked).isEmpty && fromPacked.except(exploded).isEmpty)
  }
}
