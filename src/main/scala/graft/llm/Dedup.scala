package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.VersionedStore

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Three tiers, in increasing fuzziness:
  *   - exact:   hash-groupBy on normalized text — one shuffle of (hash, id)
  *   - minhash: banded MinHash LSH → bucket join → exact-Jaccard verify —
  *              the scale path for near-dup detection (never all-pairs)
  *   - simhash: 64-bit fingerprints whose Hamming distance approximates
  *              cosine similarity of the token sets
  *
  * All distributed: per-doc signature computation is a narrow map; candidate
  * generation shuffles only (band, hash, id) tuples; verification touches
  * only candidate documents (semi-join restriction).
  */
object Dedup {

  /** Exact dedup: group by MD5 of normalized text; representative = lowest
    * doc_id, copies counted. At 100 TB this shuffles one 32-char hash + id
    * per document, never the text.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(TextFns.normalized(col("text")).cast("binary")).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
      .select("rep_id", "fingerprint", "n_copies")

  /** Per-document boilerplate fraction — the line/paragraph-level dedup signal
    * (CCNet / RefinedWeb style) at shingle granularity: a shingle appearing
    * in ≥ `minDocs` documents is corpus boilerplate (headers, footers,
    * licence blurbs, navigation chrome), and a document's boilerplate RATIO
    * is the per-doc quality signal curation filters on.
    *
    * Scale shape: shingles explode sparse (distinct per doc via ONE
    * codegen'd WordShingles pass over ONE corpus scan), the per-shingle
    * doc frequency is a count-over-window on the shingle-partitioned
    * shuffle — NOT a groupBy + self-join, which planned a second scan and a
    * second shingle explosion of the whole corpus (no exchange reuse: the
    * two subtrees differ) — and the per-doc re-aggregation rides the doc_id
    * key. Two exchanges of (shingle, id) pairs total, never text, never
    * all-pairs. The ratio is one integer division, bit-identical
    * cross-engine.
    */
  def boilerplateProfile(documents: DataFrame, minDocs: Int = 3): DataFrame = {
    val sh = documents.select(col("doc_id"),
      explode(TextFns.shingles(col("text"))).as("shingle"))
    sh.withColumn("n_docs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        col("n_boiler").cast("double") / col("n_shingles").cast("double"))
  }

  // MinHash parameters: k = bands * rows hashes; a pair with Jaccard j
  // collides in ≥1 band with prob 1-(1-j^rows)^bands — at j=0.9 the miss
  // probability is ~4e-8, at j=0.5 the false-candidate rate per pair is ~1%.
  val MinhashBands = 16
  val MinhashRows = 4

  /** Per-document MinHash signature via the fused native
    * [[graft.functions.MinhashSig]] expression: each shingle STRING is
    * hashed once, the k seeded permutations derive by re-hashing that long
    * with each seed, and all k minima stream in ONE codegen'd pass — the
    * composable transform/array_min formulation walks interpreted HOFs k+1
    * times per document (CodegenFallback) and was the dominant near-dup
    * cost. Same hash family, bit-identical signatures
    * (MinhashSigSpec asserts parity).
    */
  def minhashSignature(documents: DataFrame, shingleN: Int = 3): DataFrame =
    signatureFromShingles(
      documents.select(col("doc_id"), TextFns.shingles(col("text"), shingleN).as("sh")))

  /** Signature stage over a pre-computed (doc_id, sh) frame. */
  def signatureFromShingles(shingled: DataFrame): DataFrame =
    shingled
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        graft.functions.MinhashFns.minhashSig(col("sh"), MinhashBands * MinhashRows).as("sig"))

  /** (doc_id, band, band_hash) bucket rows for a signature frame — each
    * document lands in [[MinhashBands]] buckets keyed by the hash of its
    * band slice. Narrow map; shared by the same-corpus pair expansion and
    * the cross-corpus bucket join.
    */
  def bandBuckets(sigs: DataFrame): DataFrame = {
    val bands = (0 until MinhashBands).map { b =>
      val slice = (0 until MinhashRows).map(r => element_at(col("sig"), b * MinhashRows + r + 1))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("band_hash"))
    }
    sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** Banded LSH candidate pairs: explode each signature into (band,
    * band_hash) buckets, ONE shuffle groups ids per bucket, and pairs are
    * expanded inside each bucket (a self-join would evaluate the whole
    * signature pipeline twice — measured 2× cost). Bucket sizes stay small
    * because only near-identical band slices collide; degenerate skew (one
    * giant bucket) would show up here and is the place to salt or cap.
    */
  def candidatePairs(sigs: DataFrame): DataFrame = {
    bandBuckets(sigs).groupBy("band", "band_hash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Near-dup pairs: LSH candidates verified by EXACT shingle Jaccard ≥
    * threshold. Verification joins shingle sets only for documents that
    * appear in some candidate pair (semi-join restriction), so the big text
    * arrays never shuffle for non-candidates.
    */
  def nearDupPairs(documents: DataFrame, threshold: Double = 0.8, shingleN: Int = 3): DataFrame =
    nearDupPairsWithCleanup(documents, threshold, shingleN)._1

  /** MinHash-ESTIMATED near-dup pairs — the at-scale verify path when even
    * the candidate-restricted exact-Jaccard join is too expensive (exact
    * verify re-shuffles shingle SETS for every candidate; this re-joins
    * only the 64-long signatures already computed for banding): est_j =
    * matching-component fraction of the two signatures, an unbiased
    * estimator of Jaccard with std-err √(j(1−j)/k) ≈ 0.04 at k=64, j=0.9.
    * Identical documents estimate exactly 1.0 (identical signatures).
    * Candidate generation is the same banded-LSH expansion as
    * [[nearDupPairs]] — recall at the threshold is the banding curve's,
    * and the measured estimate error is spec-pinned (DedupSpec); the gold
    * exact path stays [[nearDupPairs]]/[[jaccardPairsExact]].
    */
  def estimatedNearDupPairs(documents: DataFrame, threshold: Double = 0.8,
                            shingleN: Int = 3): DataFrame =
    estimatedNearDupPairsWithCleanup(documents, threshold, shingleN)._1

  /** [[estimatedNearDupPairs]] plus the release handle for the persisted
    * signature frame (the house cleanup-handle shape — the signatures feed
    * candidate generation AND both pair-side joins, so they persist for
    * the computation and release after the caller materializes).
    */
  def estimatedNearDupPairsWithCleanup(documents: DataFrame, threshold: Double = 0.8,
                                       shingleN: Int = 3): (DataFrame, () => Unit) = {
    val k = MinhashBands * MinhashRows
    val sigs = minhashSignature(documents, shingleN)
      .select(col("doc_id"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = candidatePairs(sigs)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
          .as("est_j"))
      .filter(col("est_j") >= threshold)
    (pairs, () => { sigs.unpersist(); () })
  }

  /** [[nearDupPairs]] plus a cleanup handle that unpersists the pipeline's
    * internal cut-points (shingle + candidate frames) — callers that
    * MATERIALIZE the pair set (e.g. the clustering loop) invoke it so the
    * upstream caches don't stay live for the whole downstream computation.
    */
  def nearDupPairsWithCleanup(documents: DataFrame, threshold: Double = 0.8,
                              shingleN: Int = 3): (DataFrame, () => Unit) = {
    // the shingle frame feeds both the signature pipeline and the verify
    // join — persist it so tokenize+shingle runs once
    val shOnly = documents
      .select(col("doc_id"), TextFns.shingles(col("text"), shingleN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (result, releaseCands) = nearDupPairsFromShingles(shOnly, threshold)
    (result, () => { releaseCands(); shOnly.unpersist(); () })
  }

  /** Pair detection over a pre-computed (doc_id, sh) shingle frame — the
    * entry point for pipelines that already paid the shingling pass
    * (e.g. the p02 composition shares ONE shingle frame between
    * decontamination and clustering). `shOnly` should be persisted by the
    * caller; the cleanup handle releases only this stage's internal
    * candidate cache.
    */
  def nearDupPairsFromShingles(shOnly: DataFrame,
                               threshold: Double = 0.8): (DataFrame, () => Unit) = {
    val sigs = signatureFromShingles(shOnly)
    // the candidate frame fans out to THREE consumers (both sides of the id
    // union + the verify join) — persist it so the signature+bucket
    // pipeline runs once; candidates are tiny (near-identical band slices)
    val cands = candidatePairs(sigs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val shForCands = shOnly.join(candIds, Seq("doc_id"), "left_semi").select("doc_id", "sh")
    val result = cands
      .join(shForCands.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shForCands.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), TextFns.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (result, () => { cands.unpersist(); () })
  }

  /** ALL pairs with exact shingle Jaccard ≥ `threshold`, by sparse
    * inverted-index equi-join — the recall-1.0 gold path (the computation
    * the d02 oracle runs in DuckDB, expressed as a Spark plan). Use it when
    * missing a pair is unacceptable (licence dedup, eval-set hygiene) or to
    * audit the LSH tier's measured recall on a sample; the LSH path
    * ([[nearDupPairs]]) is the probabilistic fast twin of this operator.
    *
    * Scale shape: shingles explode sparse (ONE codegen'd WordShingles pass
    * per side; the two self-join sides are identical subtrees, so the
    * shingle-hash exchange is planned once and reused), the inverted-index
    * join emits a row per shared shingle, and the pair intersection count
    * is one map-side-combined aggregate on (doc_a, doc_b). Cost is
    * Σ per-shingle posting-list² — sparse by construction for natural text
    * (d10's boilerplate profile is the diagnostic for corpora where hot
    * shingles would break that assumption; at 100 TB, AQE's skew-join
    * handles residual hot keys). Set sizes ride a |docs|-row frame that AQE
    * broadcasts. The Jaccard is ONE double division of integer counts —
    * bit-identical cross-engine.
    */
  def exactJaccardPairs(documents: DataFrame, threshold: Double = 0.8,
                        shingleN: Int = 3): DataFrame = {
    val (inter, counts) = shingleIntersections(documents, shingleN, sym = true)
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared sparse-intersection core of the exact pair measures: distinct
    * shingles exploded, pairwise intersection sizes from the shared-
    * shingle equi-join (never all-pairs). `sym` restricts to a < b
    * (symmetric measures — Jaccard); directional measures (containment)
    * take both orders.
    */
  private def shingleIntersections(documents: DataFrame, shingleN: Int,
                                   sym: Boolean): (DataFrame, DataFrame) = {
    val sh = documents.select(col("doc_id"),
      explode(TextFns.shingles(col("text"), shingleN)).as("shingle"))
    // per-doc shingle-set size WITHOUT a third explode pipeline (r17, guide
    // §2.3/§2.4): [[TextFns.shingles]] returns the DISTINCT set, so
    // |S(doc)| is size(array) — one narrow projection per doc row, no
    // Generate, no count exchange. Docs with < n words (size 0) never
    // appear in `inter` (no shingle to share), so the inner joins below see
    // identical rows to the old explode+groupBy form.
    val counts = documents.select(col("doc_id"),
      size(TextFns.shingles(col("text"), shingleN)).cast("long").as("n"))
    val cond =
      if (sym) col("a.doc_id") < col("b.doc_id")
      else col("a.doc_id") =!= col("b.doc_id")
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && cond)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    (inter, counts)
  }

  /** Asymmetric CONTAINMENT pairs — excerpt/quotation detection, the
    * one-sided Jaccard: (inner, outer) with |S(inner) ∩ S(outer)| /
    * |S(inner)| ≥ threshold. A short document quoted inside a long one
    * scores 1.0 here while symmetric Jaccard buries it near
    * |inner|/|outer| — the near-dup tier structurally cannot see it, and
    * dedup recipes (Dolma, RefinedWeb) treat contained docs as a separate
    * removal class. Same sparse inverted-index shape as
    * [[exactJaccardPairs]] (shared-shingle equi-join, never all-pairs;
    * hot-shingle candidates are the d10 diagnostic + AQE skew backstop);
    * both directions emit naturally since containment is directional.
    */
  def containmentPairs(documents: DataFrame, threshold: Double = 0.8,
                       shingleN: Int = 3): DataFrame = {
    val sh = documents.select(col("doc_id"),
      explode(TextFns.shingles(col("text"), shingleN)).as("shingle"))
    // |S(inner)| as size(distinct-shingle array) — see shingleIntersections
    // (r17): replaces the third scan+shingle+Generate+count pipeline with
    // one narrow per-doc projection.
    val counts = documents.select(col("doc_id"),
      size(TextFns.shingles(col("text"), shingleN)).cast("long").as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("inner_id"), col("b.doc_id").as("outer_id"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(counts.select(col("doc_id").as("inner_id"), col("n").as("n_inner")),
        Seq("inner_id"))
      .select(col("inner_id"), col("outer_id"),
        (col("i").cast("double") / col("n_inner").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Cross-corpus near-dup detection — the INCREMENTAL-INGEST dedup: find
    * documents in a NEW batch that are near-duplicates (shingle Jaccard ≥
    * `threshold`) of some document already in an EXISTING corpus, so each
    * crawl/batch can be cleaned against everything ingested before it
    * without re-deduplicating the corpus itself. Exact duplicates are the
    * j = 1.0 special case, so one pass covers both tiers.
    *
    * Scale shape: signatures are narrow maps on both sides; the only wide
    * operation is the equi-join of the two (band, band_hash) bucket frames
    * (the corpus side can be a PRECOMPUTED, stored bucket table — at 100 TB
    * you index the corpus once and join each incoming batch against it);
    * verification joins shingle arrays only for candidate ids (semi-join
    * restriction), and with a batch that is orders of magnitude smaller
    * than the corpus, AQE broadcasts the batch's bucket side. Returns
    * verified (new_id, corpus_id, jaccard) matches + a cache-release
    * handle.
    */
  def crossNearDupPairsWithCleanup(newDocs: DataFrame, corpus: DataFrame,
                                   threshold: Double = 0.8,
                                   shingleN: Int = 3): (DataFrame, () => Unit) = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def shingled(docs: DataFrame) = docs
      .select(col("doc_id"), TextFns.shingles(col("text"), shingleN).as("sh"))
      .persist(mad)
    val shNew = shingled(newDocs)
    val shCorpus = shingled(corpus)
    val (result, releaseCore) = crossPairsCore(
      shNew, bandBuckets(signatureFromShingles(shCorpus)), shCorpus, threshold)
    (result, () => { releaseCore(); shNew.unpersist(); shCorpus.unpersist(); () })
  }

  /** The shared cross-dedup tail: candidates from the bucket equi-join,
    * verification restricted to candidate ids. `shNew` is the new batch's
    * (doc_id, sh) frame (persisted by the caller); the corpus arrives as its
    * two index projections — computed inline by
    * [[crossNearDupPairsWithCleanup]], or read from parquet by
    * [[crossNearDupPairsAgainstIndexWithCleanup]].
    *
    * Both candidate restrictions are semi-joins against a BROADCAST id-only
    * side: the candidate set is batch-bounded (a batch's docs times their
    * bucket matches), so its id columns ship to every task and neither the
    * batch shingles nor the corpus shingles shuffle — only the ids travel,
    * the shingle arrays stay where they are scanned. No `distinct` on those
    * sides: duplicate keys on the right of a semi-join change nothing.
    */
  private def crossPairsCore(shNew: DataFrame, corpusBuckets: DataFrame,
                             corpusShingles: DataFrame,
                             threshold: Double): (DataFrame, () => Unit) = {
    val cands = bandBuckets(signatureFromShingles(shNew))
      .select(col("doc_id").as("new_id"), col("band"), col("band_hash"))
      .join(corpusBuckets
          .select(col("doc_id").as("corpus_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("new_id", "corpus_id")
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shN = shNew.join(broadcast(cands.select(col("new_id").as("doc_id"))),
      Seq("doc_id"), "left_semi")
    val shC = corpusShingles.join(broadcast(cands.select(col("corpus_id").as("doc_id"))),
      Seq("doc_id"), "left_semi")
    val result = cands
      .join(shN.select(col("doc_id").as("new_id"), col("sh").as("sh_n")), Seq("new_id"))
      .join(shC.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")), Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        TextFns.jaccard(col("sh_n"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (result, () => { cands.unpersist(); () })
  }

  /** [[crossNearDupPairsWithCleanup]] convenience form — eager + leak-free:
    * the verified pair set is small by contract (near-dups of one batch),
    * so it is materialized (localCheckpoint) and the pipeline caches
    * released before returning (ADVICE r5: the previous lazy form leaked
    * three persists, including the re-shingled full corpus).
    */
  def crossNearDupPairs(newDocs: DataFrame, corpus: DataFrame,
                        threshold: Double = 0.8, shingleN: Int = 3): DataFrame = {
    val (pairs, release) = crossNearDupPairsWithCleanup(newDocs, corpus, threshold, shingleN)
    try graft.operators.Materialize.cut(pairs) finally release()
  }

  /** PERSISTED corpus dedup index — the 100 TB incremental-ingest shape the
    * cross-dedup scaladoc promises: index the corpus ONCE, then join each
    * incoming batch against the stored index instead of re-shingling and
    * re-signing the (orders-of-magnitude larger) corpus per batch. Mirrors
    * the reference's incremental pattern of reading existing warehouse keys
    * rather than recomputing them (/root/reference/src/load.py:534-582).
    *
    * Layout under `path`: a [[graft.store.VersionedStore]] whose versions
    * are per-batch deltas, each holding two parquet tables,
    *   - `buckets`:  (doc_id, band, band_hash) — the LSH join side; at
    *     warehouse scale this is the frame you'd additionally bucket/sort by
    *     band_hash so the per-batch join shuffles only the batch side;
    *   - `shingles`: (doc_id, sh) — the exact-verification side, read
    *     back candidate-restricted (the semi-join keeps non-candidate
    *     shingle arrays out of the join, though the column itself must be
    *     scanned).
    * Both tables of a batch commit as ONE version, so they become visible
    * together and a crashed append can never leave a half-indexed batch
    * (the core's crash and replay argument). Readers resolve the committed
    * tables via [[indexBuckets]]/[[indexShingles]]. A flat pre-versioning
    * layout (bare `buckets`/`shingles`, no pointer) is still read, and the
    * first append onto one ADOPTS its tables as the implicit version `.`
    * so the flat corpus stays visible. A long-lived streamed index accrues
    * one small version per micro-batch; [[compactCorpusIndex]] folds them
    * and [[vacuumCorpusIndex]] reclaims the dirs left behind.
    */
  def writeCorpusIndex(corpus: DataFrame, path: String, shingleN: Int = 3): Unit =
    commitIndexVersion(corpus, path, shingleN, replace = true)

  /** Extend a persisted index with a new (already-deduplicated) batch —
    * one new version dir, one atomic pointer swap.
    */
  def appendToCorpusIndex(batch: DataFrame, path: String, shingleN: Int = 3): Unit =
    commitIndexVersion(batch, path, shingleN, replace = false)

  /** One committed table of the index (all versions, one scan); a store
    * with no pointer reads as the flat layout — or fails with the plain
    * path-not-found error when `path` holds no index at all.
    */
  private def readIndexTable(spark: org.apache.spark.sql.SparkSession,
                             path: String, table: String): DataFrame =
    VersionedStore.read(spark, path,
      VersionedStore.committedVersions(path) match {
        case Seq() => Seq(".")
        case vs => vs
      }, table)

  /** The committed bucket table of a persisted index (all versions). */
  def indexBuckets(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readIndexTable(spark, path, "buckets")

  /** The committed shingle table of a persisted index (all versions). */
  def indexShingles(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readIndexTable(spark, path, "shingles")

  /** Fold all committed versions into one — the maintenance pass for a
    * long-lived streamed index. One read of the committed tables, one
    * folded version, one pointer swap; readers see the old version list or
    * the folded one, and dedup answers are identical (both tables are
    * unordered keyed rows — spec-asserted). Returns the number of versions
    * folded (0 = nothing to do).
    */
  def compactCorpusIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): Int =
    VersionedStore.compact(path) { staging =>
      indexBuckets(spark, path).write.parquet(s"$staging/buckets")
      indexShingles(spark, path).write.parquet(s"$staging/shingles")
    }

  /** Delete the version dirs the pointer no longer references — the
    * garbage of [[writeCorpusIndex]] replaces, crashed appends and
    * [[compactCorpusIndex]] folds — under the guards stated once in
    * [[graft.store.VersionedStore.vacuum]]. Returns the number of
    * directories removed.
    */
  def vacuumCorpusIndex(path: String): Int = VersionedStore.vacuum(path)

  /** Shingle and band one batch, then commit both tables as one version.
    * `replace = true` makes it the sole committed version; an append onto
    * a PRE-VERSIONING flat index lists the flat tables first as version
    * `.` — without that, the first versioned append would publish a
    * pointer that hides the flat corpus (silent loss).
    */
  private def commitIndexVersion(docs: DataFrame, path: String, shingleN: Int,
                                 replace: Boolean): Unit = {
    val base = VersionedStore.committedVersions(path) match {
      case Seq() if !replace &&
        graft.warehouse.AtomicPointer.exists(s"$path/buckets") => Seq(".")
      case vs => vs
    }
    val sh = docs
      .select(col("doc_id"), TextFns.shingles(col("text"), shingleN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      VersionedStore.commit(path, replace, base = Some(base)) { staging =>
        bandBuckets(signatureFromShingles(sh))
          .select("doc_id", "band", "band_hash")
          .write.parquet(s"$staging/buckets")
        sh.write.parquet(s"$staging/shingles")
      }
    } finally { sh.unpersist(); () }
  }

  /** [[crossNearDupPairsWithCleanup]] with the corpus side read from a
    * persisted index (see [[writeCorpusIndex]]) — hash-identical pairs, but
    * the only per-batch work on the corpus side is the bucket equi-join and
    * the candidate-restricted shingle lookup.
    */
  def crossNearDupPairsAgainstIndexWithCleanup(
      newDocs: DataFrame, indexPath: String, threshold: Double = 0.8,
      shingleN: Int = 3): (DataFrame, () => Unit) = {
    val spark = newDocs.sparkSession
    val shNew = newDocs
      .select(col("doc_id"), TextFns.shingles(col("text"), shingleN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (result, releaseCore) = crossPairsCore(
      shNew,
      indexBuckets(spark, indexPath),
      indexShingles(spark, indexPath),
      threshold)
    (result, () => { releaseCore(); shNew.unpersist(); () })
  }

  /** Anti-join form over the persisted index: the batch minus anything
    * near-duplicating the indexed corpus — one ingest step, in the
    * [[dedupBatch]] shape (the batch is evaluated once, eagerly).
    */
  def dedupAgainstIndex(newDocs: DataFrame, indexPath: String,
                        threshold: Double = 0.8, shingleN: Int = 3): DataFrame =
    dedupBatch(newDocs)(
      crossNearDupPairsAgainstIndexWithCleanup(_, indexPath, threshold, shingleN))

  /** Apply [[crossNearDupPairsWithCleanup]] as a filter: the new batch minus
    * anything near-duplicating the existing corpus — what actually gets
    * appended on each incremental ingest, in the [[dedupBatch]] shape.
    */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                         threshold: Double = 0.8, shingleN: Int = 3): DataFrame =
    dedupBatch(newDocs)(crossNearDupPairsWithCleanup(_, corpus, threshold, shingleN))

  /** The one anti-join shape of both batch dedups. The batch is cut
    * ([[graft.operators.Materialize.cut]]) BEFORE anything reads it: the
    * pair pipeline shingles the cut, and the returned frame is the cut
    * minus the matched ids, so however often a caller evaluates the
    * result, the batch's own (often lazy and costly — decontamination,
    * say) lineage runs exactly once. The matched ids are batch-bounded by
    * contract; they are collected once, the pair caches are released, and
    * the anti-join takes them as a broadcast local relation — no shuffle
    * and no cached block on the matched side, so the cut batch is the one
    * block the result keeps alive.
    */
  private def dedupBatch(newDocs: DataFrame)(
      pairsOf: DataFrame => (DataFrame, () => Unit)): DataFrame = {
    val batch = graft.operators.Materialize.cut(newDocs)
    val (pairs, release) = pairsOf(batch)
    val matched = try pairs.select(col("new_id").as("doc_id")).distinct().collect()
      finally release()
    val ids = batch.sparkSession.createDataFrame(java.util.Arrays.asList(matched: _*),
      batch.select("doc_id").schema)
    batch.join(broadcast(ids), Seq("doc_id"), "left_anti")
  }

  /** Near-dup CLUSTERS from the verified pair set: connected components by
    * iterative min-label propagation (each doc adopts the smallest doc_id
    * reachable through near-dup edges). Components here are tiny (pairs /
    * triples), so the loop converges in 2-3 iterations; the iteration count
    * is bounded and convergence is checked by a count — the standard
    * DataFrame-level CC shape when a graph library isn't warranted.
    * Output: one row per document that belongs to some near-dup cluster,
    * labeled with the cluster representative (min doc_id).
    */
  /** Round backstop (`maxRounds`) of the distributed connected-components
    * path ([[graft.operators.Graph.connectedComponentsConverged]]):
    * min-label propagation needs O(component diameter) rounds; near-dup
    * components are pairs/triples (2-3 rounds), so 50 is far beyond any
    * real dataset — hitting it means pathology, and silently returning
    * unconverged labels would be a WRONG answer against an exact oracle,
    * so the loop throws (ADVICE r2).
    */
  val MaxCcIterations = 50

  def nearDupClusters(documents: DataFrame, threshold: Double = 0.8): DataFrame =
    clustersFromPairSource(nearDupPairsWithCleanup(documents, threshold))

  /** Clusters over a pre-computed shingle frame (see
    * [[nearDupPairsFromShingles]]). */
  def nearDupClustersFromShingles(shOnly: DataFrame, threshold: Double = 0.8): DataFrame =
    clustersFromPairSource(nearDupPairsFromShingles(shOnly, threshold))

  /** Clusters over an arbitrary caller-built pair set (doc_a, doc_b). */
  def clustersFromPairs(pairs: DataFrame): DataFrame =
    clustersFromPairSource((pairs, () => ()))

  /** CANONICAL-COPY SELECTION — the decision table that turns near-dup
    * clusters into a curation action: every document labeled with its
    * cluster, the cluster's surviving copy, and whether it IS that copy.
    * The canonical member is the cluster's argmax by
    * [[TextAnalysis.qualityScore]] (ties — e.g. byte-identical copies —
    * break to the smallest doc_id), so dedup keeps the BEST copy instead
    * of d01/d02's arbitrary min-id representative. Singletons are their
    * own canonical.
    *
    * Scale shape: clustering is the oracled d05 machinery (banded LSH,
    * never all-pairs); quality is a narrow per-row projection; the argmax
    * is ONE cluster-keyed aggregation of a `max(struct(quality, -doc_id))`
    * — no window, no per-cluster sort; the decision join back is
    * cluster-keyed. Raw text never shuffles.
    */
  def canonicalPerCluster(documents: DataFrame,
                          threshold: Double = 0.8): DataFrame = {
    val clusters = nearDupClusters(documents, threshold)
    val member = documents.select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
      .join(TextAnalysis.qualityScore(documents).select("doc_id", "quality"),
        Seq("doc_id"))
    val best = member.groupBy("rep")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("rep"), col("m.quality").as("best_quality"),
        (-col("m.negid")).as("canonical_id"))
    member.join(best, Seq("rep"))
      .select(col("doc_id"), col("rep"), col("quality"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** MULTI-SIGNAL near-dup clusters: a pair is an edge if the documents are
    * near-dups by text (shingle Jaccard ≥ `jaccardT`, banded-LSH detected)
    * OR by embedding (blocked cosine ≥ `cosT`) — the practical dedup rule
    * for corpora where paraphrases evade lexical overlap but embed close,
    * and near-verbatim copies embed apart only through formatting noise.
    * Both signals are the independently-oracled operators (d02, d04); the
    * union of their edge sets feeds one connected-components pass.
    * `embeddings.vec_id` must key the same namespace as
    * `documents.doc_id`.
    */
  def multiSignalClusters(documents: DataFrame, embeddings: DataFrame,
                          jaccardT: Double = 0.8, cosT: Double = 0.45): DataFrame = {
    val (textPairs, release) = nearDupPairsWithCleanup(documents, jaccardT)
    val embPairs = Similarity.blockedNearDupPairs(embeddings, cosT)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val pairs = textPairs.select("doc_a", "doc_b").union(embPairs).distinct()
    try clustersFromPairs(pairs)
    finally release()
  }

  /** Edge-count ceiling for the driver-side union-find fast path in
    * [[clustersFromPairSource]] (session-tunable:
    * `spark.graft.cc.maxDriverEdges`; 0 disables the fast path). 1M
    * (doc_a, doc_b) Long pairs ≈ 16 MB raw / low-hundreds MB with DSU
    * bookkeeping — metadata-sized next to any sane driver heap, and far
    * above the near-dup edge yield of any corpus this engine's small-SF
    * gates see.
    */
  val DefaultCcMaxDriverEdges = 1000000

  /** Driver union-find with min-id representatives — byte-identical output
    * to the distributed propagation loop: one row per node appearing in an
    * edge, labeled with its component's min doc_id.
    */
  private def driverComponents(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by min keeps roots = component minima with no second pass
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(id => (id, find(id)))
  }

  private def clustersFromPairSource(src: (DataFrame, () => Unit)): DataFrame = {
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (pairDf, releasePairPipeline) = src
    val spark = pairDf.sparkSession
    val pairs = pairDf
      .select(col("doc_a"), col("doc_b"))
      .persist(mad)
    // ADAPTIVE SCALE SWITCH (the TopKPerGroup pattern): near-dup edges are
    // SPARSE relative to the corpus — LSH + Jaccard-verify yields far fewer
    // pairs than documents — so the common case fits the driver, where
    // union-find labels the components in one pass over one capped-collect
    // job, skipping the edge/labels checkpoints and the 2-3 join+agg rounds
    // of the propagation loop (~5 Spark jobs for tiny graphs). The capped
    // `limit(T+1)` probe (the TxnPipeline bounded-dim pattern) never ships
    // more than T+1 rows: a corpus whose edge yield exceeds the ceiling
    // falls through to the distributed loop — the 100 TB path — with the
    // pair pipeline still persisted. Long-keyed frames only; other key
    // types keep the loop (clustersFromPairs accepts arbitrary frames).
    val maxDriverEdges = spark.conf.getOption("spark.graft.cc.maxDriverEdges")
      .map(_.toInt).getOrElse(DefaultCcMaxDriverEdges)
    val longKeys = pairs.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longKeys && maxDriverEdges > 0) {
      val probe = pairs.limit(maxDriverEdges + 1).collect()
      if (probe.length <= maxDriverEdges) {
        pairs.unpersist()
        releasePairPipeline()
        val labels = driverComponents(probe.map(r => (r.getLong(0), r.getLong(1))))
        import spark.implicits._
        return labels.toDF("doc_id", "rep").orderBy("doc_id")
      }
      // over the ceiling: fall through (probe rows are discarded; the
      // persisted pair pipeline re-serves the loop below)
    }
    // The distributed path is graft.operators.Graph's min-label
    // connected components, run to its fixpoint with MaxCcIterations as the
    // backstop. Loop hygiene (VERDICT r2 #3): the symmetrized edge list is
    // cut ONCE, here, so every round plans against a LogicalRDD instead of
    // re-canonicalizing the upstream LSH pipeline's expression tree
    // (measured ~2 s of driver planning per action); the pair pipeline's
    // caches are released as soon as that cut exists, before the first
    // round. The durability posture (reliable checkpoint vs
    // localCheckpoint — VERDICT r8 #7) lives in graft.operators.Materialize.
    val edges = graft.operators.Materialize.cut(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b"), col("doc_a"))))
    pairs.unpersist()
    releasePairPipeline()
    graft.operators.Graph.componentsOfCut(edges, MaxCcIterations)._1
      .select(col("node").as("doc_id"), col("component").as("rep"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: find corpus documents that share word
    * n-grams with a held-out benchmark/eval set — the standard guard
    * against test-set leakage into training data. Returns the
    * contamination report (one row per contaminated corpus doc with its
    * shared-shingle count); [[decontaminate]] applies it as a filter.
    *
    * Scale shape: the benchmark side is small by construction (eval sets
    * are thousands of docs, not billions), so its distinct shingle set
    * BROADCASTS; the corpus side is one narrow explode + a broadcast hash
    * join + a partial-aggregated groupBy(doc_id) — corpus text never
    * shuffles, and the only exchange carries (doc_id, count) partials.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          shingleN: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(explode(TextFns.shingles(col("text"), shingleN)).as("shingle"))
      .distinct()
    corpus
      .select(col("doc_id"), explode(TextFns.shingles(col("text"), shingleN)).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"))
      // shingles are distinct within a doc, so count(*) = distinct shared
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Per-document benchmark-overlap FRACTION — the soft contamination
    * metric (the n-gram overlap statistic eval-hygiene reports publish,
    * GPT-3-appendix style): for EVERY corpus document,
    * |doc shingles ∩ benchmark shingles| / |doc shingles|, zero-overlap
    * documents included — the dashboard form, where
    * [[contaminationReport]]'s hit-list carries only offenders. Same scale
    * shape: the benchmark shingle set broadcasts, the corpus side is one
    * narrow explode + broadcast left join + partial-aggregated
    * groupBy(doc_id); corpus text never shuffles. The fraction is one
    * integer-ratio double division, bit-identical cross-engine.
    */
  def contaminationFraction(corpus: DataFrame, benchmark: DataFrame,
                            shingleN: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(explode(TextFns.shingles(col("text"), shingleN)).as("shingle"))
      .distinct()
      .withColumn("hit", lit(1L))
    corpus
      .select(col("doc_id"), explode(TextFns.shingles(col("text"), shingleN)).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"), "left")
      // shingles are distinct within a doc: count(*) = set size, hit-sum =
      // distinct shared
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .withColumn("contamination",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
  }

  /** Drop contaminated documents (≥ `minShared` shingles overlapping the
    * benchmark) from the corpus — anti-join against the report's ids.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    minShared: Int = 1, shingleN: Int = 3): DataFrame =
    corpus.join(
      contaminationReport(corpus, benchmark, shingleN)
        .filter(col("n_shared_shingles") >= minShared)
        .select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** 64-bit frequency-weighted SimHash: bit k of the fingerprint is the
    * sign of Σ_occurrences (2·bit_k(xxhash64(token)) − 1) — each token
    * occurrence votes, so near-identical token FREQUENCY profiles (not just
    * sets) give small Hamming distance; that is what separates near-dups in
    * low-vocabulary corpora. Computed by the native
    * [[graft.functions.Simhash64]] expression as a NARROW MAP — the
    * relational explode + 64-sum groupBy formulation paid a shuffle for a
    * per-document computation (SimhashSpec asserts bit parity between the
    * two).
    */
  def simhash(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      graft.functions.SimhashFns.simhash64(TextFns.tokens(col("text"))).as("simhash"))

  /** Incremental EXACT dedup with a Bloom-filter pre-filter — the semi-join
    * pushdown pattern for cleaning each incoming batch against a huge
    * existing corpus: survivors = batch documents whose normalized-text
    * fingerprint does NOT already exist in the corpus.
    *
    * The Bloom filter (built distributed over the corpus fingerprints, fpp
    * ≈ 1%) can prove ABSENCE: a batch document whose fingerprint misses the
    * filter is definitely new and never reaches the join. Only the
    * might-contain subset — true duplicates plus the ~fpp false positives —
    * joins the corpus for exact confirmation, so the anti-join's probe side
    * shrinks from |batch| to |dups| + fpp·|batch|. The result is EXACT
    * (false positives are eliminated by the confirming join; false negatives
    * are impossible), so the same anti-join oracle covers both paths.
    *
    * Scale shape: the filter build is one tree-aggregated pass over the
    * corpus fingerprints (at 1B corpus docs and 1% fpp the bitset is
    * ~1.2 GB — broadcast-able; beyond that, partition the corpus and ship
    * per-range filters). The membership probe is the codegen'd catalyst
    * `BloomFilterMightContain` over `xxhash64(fingerprint)` — the same
    * expression Spark's runtime row-group filtering injects — evaluated
    * scan-side, so pruned rows never shuffle. For a daily-crawl batch that
    * is mostly novel text, the confirming join touches only a few percent
    * of the batch.
    *
    * NOTE (ADVICE r10): the filter build is an EAGER full-corpus action at
    * call time — `stat.bloomFilter` runs a Spark job before this method
    * returns a (lazy) frame, and each call rebuilds it. A caller deduping
    * many batches against one corpus should build the filter once with
    * [[corpusFingerprintBloom]] and pass it to the `prebuilt` overload.
    */
  def incrementalExactBloom(newDocs: DataFrame, corpus: DataFrame,
                            expectedItems: Long, fpp: Double = 0.01): DataFrame =
    incrementalExactBloom(newDocs, corpus,
      corpusFingerprintBloom(corpus, expectedItems, fpp))

  /** The corpus-side Bloom filter over normalized-text fingerprints — one
    * tree-aggregated corpus pass, reusable across every batch deduped
    * against the same corpus snapshot (ADVICE r10).
    */
  def corpusFingerprintBloom(corpus: DataFrame, expectedItems: Long,
                             fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val fp = md5(TextFns.normalized(col("text")).cast("binary")).as("fingerprint")
    corpus.select(fp).select(xxhash64(col("fingerprint")).as("h"))
      .stat.bloomFilter("h", math.max(expectedItems, 1L), fpp)
  }

  /** [[incrementalExactBloom]] against a prebuilt corpus filter (from
    * [[corpusFingerprintBloom]], possibly deserialized from a store): no
    * corpus action runs at construction time beyond the confirming
    * anti-join's own lazy plan.
    */
  def incrementalExactBloom(newDocs: DataFrame, corpus: DataFrame,
                            prebuilt: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftx.Bridge
    import org.apache.spark.sql.types.BinaryType
    val fp = md5(TextFns.normalized(col("text")).cast("binary")).as("fingerprint")
    val newFp = newDocs.select(col("doc_id"), fp)
    val corpusFp = corpus.select(fp)
    val bos = new java.io.ByteArrayOutputStream()
    prebuilt.writeTo(bos)
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, BinaryType),
      Bridge.expression(xxhash64(col("fingerprint")))))
    val flagged = newFp.withColumn("mc", mightContain)
    val definitelyNew = flagged.filter(!col("mc")).drop("mc")
    val confirmedNew = flagged.filter(col("mc")).drop("mc")
      .join(corpusFp, Seq("fingerprint"), "left_anti")
    definitelyNew.unionByName(confirmedNew).select("doc_id", "fingerprint")
  }

  /** EXACT-SUBSTRING duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" §4.1 — the ExactSubstr
    * method, re-expressed relationally instead of via a suffix array):
    * every MAXIMAL run of tokens covered by k-token shingles that occur
    * more than once in the corpus (counting all occurrences, so
    * within-document repeats qualify too). The audit view of exact
    * substring dedup — which token ranges of which documents are
    * verbatim duplicated text (licenses, boilerplate, templated spam).
    *
    * Relational decomposition:
    *   1. positional k-shingles — narrow map + posexplode, ONE row per
    *      (doc, position);
    *   2. duplicated-shingle set — map-side-combined count by shingle;
    *      the output is duplicate-volume-sized, so AQE broadcasts it back
    *      against the positions scan in the common mostly-unique corpus;
    *   3. coverage runs — a per-document window (doc_id partitions:
    *      unbounded cardinality, bounded per-task rows) merges marked
    *      positions whose covered ranges touch (gap ≤ k) into maximal
    *      spans; a break at gap > k is exactly an uncovered token.
    *
    * Shingle STRINGS shuffle here (k tokens per row); the rolling-hash
    * shuffle-key form is [[duplicateSpansHashed]] (registered as d26 —
    * same plan, ~k× less exchange volume, oracle still hash-exact).
    *
    * Output: (doc_id, span_start, span_end, n_tokens) in 1-based token
    * positions, one row per maximal duplicated span.
    */
  def duplicateSpans(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"duplicateSpans: shingle length $k must be >= 2")
    val sh = positionalShingles(documents, k)
    val dup = sh.groupBy("shingle").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("shingle")
    coverageSpans(sh.join(dup, Seq("shingle")).select("doc_id", "pos"), k)
  }

  /** [[duplicateSpans]] with the rolling-hash shuffle key (the d25
    * treatment applied to the AUDIT view): the duplicated-shingle set is
    * keyed by the 8-byte [[graft.functions.PolyHashFns]] fold instead of
    * the k-token string, so no exchange carries shingle text — same span
    * semantics, ~k× less shuffle volume, oracle hash-exact because DuckDB
    * replays the identical fold (x07 pattern).
    */
  def duplicateSpansHashed(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"duplicateSpansHashed: shingle length $k must be >= 2")
    val sh = positionalShingles(documents, k)
      .select(col("doc_id"), col("pos"),
        graft.functions.PolyHashFns.polyHash(col("shingle"), TextAnalysis.RollMod)
          .as("hsh"))
    val dup = sh.groupBy("hsh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("hsh")
    coverageSpans(sh.join(dup, Seq("hsh")).select("doc_id", "pos"), k)
  }

  /** Exact substring dedup as a FILTER (the other half of Lee et al.'s
    * ExactSubstr): remove every REDUNDANT duplicated occurrence, keeping
    * the corpus-first one. An occurrence (doc, pos) of a duplicated
    * shingle is redundant unless it is the minimum (doc_id, pos) holder
    * of that shingle — computed as a pure integer MIN over a packed
    * (doc_id << 20 | pos) key in ONE map-side-combined aggregation (a
    * rank-per-shingle window would funnel every occurrence of a hot
    * boilerplate shingle through one task). Tokens covered by redundant
    * occurrences are dropped; everything else survives in order.
    *
    * Output: (doc_id, n_tokens_removed, clean_text) for EVERY input
    * document (0 removed → text round-trips modulo tokenization).
    * Positions are bounded by `MaxDocTokens` so the packed key cannot
    * collide; a longer document fails fast.
    */
  def removeDuplicateSpans(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"removeDuplicateSpans: shingle length $k must be >= 2")
    val sh = positionalShingles(documents, k)
      .withColumn("okey", col("doc_id") * MaxDocTokens + col("pos"))
    val firsts = sh.groupBy("shingle")
      .agg(count(lit(1)).as("n"), min(col("okey")).as("first_key"))
      .filter(col("n") > 1)
    val redundant = sh.join(firsts, Seq("shingle"))
      .filter(col("okey") =!= col("first_key"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .distinct()
    val covered = redundant.groupBy("doc_id")
      .agg(array_sort(collect_set(col("tpos"))).as("cov"))
    documents
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // size(NULL) is -1 under non-ANSI semantics — branch, don't coalesce
        when(col("cov").isNull, 0).otherwise(size(col("cov")))
          .as("n_tokens_removed"),
        array_join(
          filter(col("w"), (tok, i) =>
            col("cov").isNull || !array_contains(col("cov"), i + 1)), " ")
          .as("clean_text"))
  }

  /** [[removeDuplicateSpans]] with the 100 TB shuffle key its scaladoc
    * promises (VERDICT r11 #2): the k-token shingle STRING never reaches
    * an exchange — each occurrence hashes map-side through the native
    * codegen'd polynomial fold ([[graft.functions.PolyHashFns]] mod
    * [[TextAnalysis.RollMod]]) and shuffles the 8-byte hash instead,
    * ~k× less exchange volume at identical span semantics. The hash
    * arithmetic is engine-portable (DuckDB replays the identical fold,
    * x07 pattern), so the oracle stays hash-exact — even a (≈n²/2⁵³)
    * collision reproduces identically on both engines. Output schema and
    * keep-first semantics match [[removeDuplicateSpans]] exactly.
    *
    * Collision budget at TRUE 100 TB: with ~10¹² shingle occurrences the
    * birthday count in a 2⁵³ space is no longer negligible (each
    * collision over-deletes one k-token span). The production hardening
    * is a SECOND independent fold (different base/modulus) carried beside
    * this one and keyed as the pair — squares the space to ~2¹⁰⁶ at 16
    * bytes per occurrence, same plan shape, still engine-portable. Not
    * registered separately: the machinery is this method with one more
    * column.
    */
  def removeDuplicateSpansHashed(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"removeDuplicateSpansHashed: shingle length $k must be >= 2")
    val sh = positionalShingles(documents, k)
      .select(col("doc_id"), col("pos"),
        graft.functions.PolyHashFns.polyHash(col("shingle"), TextAnalysis.RollMod)
          .as("hsh"))
      .withColumn("okey", col("doc_id") * MaxDocTokens + col("pos"))
    val firsts = sh.groupBy("hsh")
      .agg(count(lit(1)).as("n"), min(col("okey")).as("first_key"))
      .filter(col("n") > 1)
    val redundant = sh.join(firsts, Seq("hsh"))
      .filter(col("okey") =!= col("first_key"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .distinct()
    val covered = redundant.groupBy("doc_id")
      .agg(array_sort(collect_set(col("tpos"))).as("cov"))
    documents
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cov").isNull, 0).otherwise(size(col("cov")))
          .as("n_tokens_removed"),
        array_join(
          filter(col("w"), (tok, i) =>
            col("cov").isNull || !array_contains(col("cov"), i + 1)), " ")
          .as("clean_text"))
  }

  /** Token-position cap backing [[removeDuplicateSpans]]'s packed
    * occurrence key (doc_id · cap + pos must stay collision-free).
    */
  val MaxDocTokens = 1L << 20

  /** EXACT LINE-LEVEL dedup, keep-first (the Dolma/CCNet pipeline stage
    * between document dedup and substring dedup): a line occurring more
    * than once in the corpus survives only at its corpus-first position
    * (min packed (doc_id, line_no) key — the same ONE map-side-combined
    * integer MIN as [[removeDuplicateSpans]]; a per-line rank window
    * would funnel every copy of a hot boilerplate line through one
    * task). Empty lines dedup like any other — production pipelines
    * usually add a min-length guard upstream; exact semantics are kept
    * here so the DuckDB oracle is bit-for-bit.
    *
    * `split('\n')` keeps trailing empties in both engines (the
    * [[TextAnalysis.gopherLineRules]] denominator contract). Line
    * STRINGS shuffle here; the text-free rolling-hash form is
    * [[dedupLinesHashed]] (registered as d27, oracle still hash-exact).
    *
    * Output: (doc_id, n_lines_removed, clean_text) for EVERY input
    * document, surviving lines joined by newline in original order.
    */
  def dedupLines(documents: DataFrame): DataFrame = {
    val lines = documents
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .select(col("doc_id"),
        when(col("pos") + 1 < MaxDocTokens, col("pos") + 1)
          .otherwise(raise_error(concat(lit("dedupLines: document "),
            col("doc_id"), lit(s" exceeds $MaxDocTokens lines")))).as("line_no"),
        col("col").as("line"))
      .withColumn("okey", col("doc_id") * MaxDocTokens + col("line_no"))
    val firsts = lines.groupBy("line")
      .agg(count(lit(1)).as("n"), min(col("okey")).as("first_key"))
      .filter(col("n") > 1)
    val removed = lines.join(firsts, Seq("line"))
      .filter(col("okey") =!= col("first_key"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("line_no"))).as("rl"))
    documents
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("rl").isNull, 0).otherwise(size(col("rl")))
          .as("n_lines_removed"),
        array_join(
          filter(col("ls"), (line, i) =>
            col("rl").isNull || !array_contains(col("rl"), i + 1)), "\n")
          .as("clean_text"))
  }

  /** [[dedupLines]] with the rolling-hash shuffle key its scaladoc
    * promises (the d25 treatment at line granularity): each line hashes
    * map-side through the codegen'd [[graft.functions.PolyHashFns]] fold
    * and only the 8-byte key reaches the count/join exchanges — line TEXT
    * never shuffles. Keep-first semantics and output schema identical to
    * [[dedupLines]]; the fold is engine-portable, so the oracle stays
    * hash-exact (collisions ≈n²/2⁵³ would reproduce identically).
    */
  def dedupLinesHashed(documents: DataFrame): DataFrame = {
    val lines = documents
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .select(col("doc_id"),
        when(col("pos") + 1 < MaxDocTokens, col("pos") + 1)
          .otherwise(raise_error(concat(lit("dedupLinesHashed: document "),
            col("doc_id"), lit(s" exceeds $MaxDocTokens lines")))).as("line_no"),
        graft.functions.PolyHashFns.polyHash(col("col"), TextAnalysis.RollMod)
          .as("lh"))
      .withColumn("okey", col("doc_id") * MaxDocTokens + col("line_no"))
    val firsts = lines.groupBy("lh")
      .agg(count(lit(1)).as("n"), min(col("okey")).as("first_key"))
      .filter(col("n") > 1)
    val removed = lines.join(firsts, Seq("lh"))
      .filter(col("okey") =!= col("first_key"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("line_no"))).as("rl"))
    documents
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("rl").isNull, 0).otherwise(size(col("rl")))
          .as("n_lines_removed"),
        array_join(
          filter(col("ls"), (line, i) =>
            col("rl").isNull || !array_contains(col("rl"), i + 1)), "\n")
          .as("clean_text"))
  }

  /** 1-based positional k-shingles: one (doc_id, pos, shingle) row per
    * shingle OCCURRENCE — multiplicity preserved ([[TextFns.shingles]] is
    * set-semantics and would both drop within-doc repeats and shift later
    * positions). Narrow map + explode; documents shorter than k tokens
    * contribute nothing (the filter also keeps `sequence` ascending —
    * Spark generates a DESCENDING sequence when start > stop). Positions
    * are validated against [[MaxDocTokens]] at the point they enter
    * packed-key arithmetic.
    */
  private def positionalShingles(documents: DataFrame, k: Int): DataFrame =
    documents
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (k - 1))).as("pos"))
      .select(col("doc_id"),
        when(col("pos") < MaxDocTokens, col("pos"))
          .otherwise(raise_error(concat(lit("positionalShingles: document "),
            col("doc_id"), lit(s" exceeds $MaxDocTokens tokens")))).as("pos"),
        array_join(slice(col("w"), col("pos"), lit(k)), " ").as("shingle"))

  /** Maximal covered runs over marked 1-based shingle positions: a token
    * t is covered when some marked position p has p ≤ t ≤ p+k−1; runs
    * merge marks whose covered ranges overlap or abut (gap ≤ k). The
    * window partitions by doc_id — unbounded group cardinality, so no
    * single-task funnel at any corpus size.
    */
  private def coverageSpans(marked: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val run = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked
      .withColumn("lagpos", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("lagpos").isNull || col("pos") - col("lagpos") > k, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(run))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("last_pos"))
      .select(col("doc_id"),
        col("start_pos").cast("int").as("span_start"),
        (col("last_pos") + (k - 1)).cast("int").as("span_end"),
        (col("last_pos") + k - col("start_pos")).cast("int").as("n_tokens"))
  }

  /** Hamming distance between SimHash fingerprints of candidate pairs —
    * used by tests and by the SimHash-based near-dup variant.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 8): DataFrame = {
    val s = simhash(documents)
    val sigs = minhashSignature(documents)
    val cands = candidatePairs(sigs)
    cands
      .join(s.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a")), Seq("doc_a"))
      .join(s.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs by BANDED Hamming search (Manku et al. 2007 —
    * Google's web-dedup shape): documents whose 64-bit SimHash fingerprints
    * differ in ≤ `maxHamming` bits, found by splitting the fingerprint into
    * maxHamming+1 bands and equi-joining on (band, band value) — by
    * pigeonhole, any pair within the radius matches EXACTLY on at least one
    * band, so banding has recall 1.0 and the exact popcount verify prunes
    * the false candidates. Rides the SAME banded machinery as the image
    * (m02) and audio (m03) perceptual tiers — one implementation, three
    * modalities plus text.
    *
    * vs [[simhashPairs]] (which Hamming-scores MinHash-LSH candidates):
    * this one needs no shingle pass at all — the candidate generation IS
    * the fingerprint — so the exchange carries 8-byte hashes, never
    * shingles. The structural-similarity semantics differ from Jaccard
    * (SimHash weights token multiplicity); rows-only in the gate (xxhash64
    * has no DuckDB twin), radius behavior spec-pinned.
    */
  def simhashNearDupPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    graft.llm.Multimodal.bandedHammingPairs(
      simhash(documents).select(col("doc_id").as("asset_id"), col("simhash")),
      "simhash", maxHamming)
      .select(col("asset_a").as("doc_a"), col("asset_b").as("doc_b"), col("hamming"))

  /** Canonical dedup key for a URL: strip the query string and fragment,
    * lowercase the scheme+authority (RFC 3986 §6.2.2.1 — scheme and host
    * are case-insensitive, the path is NOT), strip one trailing slash.
    * Pure string/regex composition with identical semantics in DuckDB, so
    * the canonicalization itself is oracle-checked, not just the grouping.
    */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noQf = regexp_replace(url, "[?#].*$", "")
    val head = lower(regexp_extract(noQf, "^(https?://[^/]*)", 1))
    val tail = regexp_extract(noQf, "^https?://[^/]*(.*)$", 1)
    regexp_replace(concat(head, tail), "/$", "")
  }

  /** URL-keyed dedup — the FIRST stage of a crawl pipeline (CCNet/Dolma
    * drop exact-URL recrawls before any content hashing): extract each
    * document's first URL, canonicalize it ([[canonicalUrl]]), keep the
    * corpus-first (min doc_id) document per canonical URL. Documents
    * without a URL carry a null key and are always kept — no URL is no
    * dedup evidence, not a dedup group (SQL-join semantics: nulls never
    * match).
    *
    * Scale shape: the exchange carries (doc_id, canon_url) pairs — never
    * text; the min() winner picks are map-side combined; the verdict join
    * is URL-group-sized and AQE-broadcastable. One row out per input row
    * (an audit-friendly screen, like the other dedup verdict frames).
    */
  def urlDedup(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val keyed = documents.select(
      col("doc_id"),
      canonicalUrl(regexp_extract(col(textCol), TextAnalysis.UrlPattern, 0))
        .as("canon_url"))
      .withColumn("canon_url",
        when(col("canon_url") === "", lit(null)).otherwise(col("canon_url")))
    val firsts = keyed.filter(col("canon_url").isNotNull)
      .groupBy("canon_url").agg(min("doc_id").as("first_id"))
    keyed.join(firsts, Seq("canon_url"), "left")
      .select(col("doc_id"), col("canon_url"),
        (col("canon_url").isNull || col("doc_id") === col("first_id")).as("keep"))
  }
}
