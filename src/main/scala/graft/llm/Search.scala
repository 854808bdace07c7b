package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.store.VersionedStore

/** Persisted inverted text index (term → postings) + conjunctive keyword
  * serve — the search-engine-shaped secondary index the store family was
  * missing (dedup shingle index, IVF/PQ vector indexes, count/sketch stores,
  * and now text postings).
  *
  * Mirrors the reference's ad-hoc `LIKE`-over-rows text filtering intent
  * (reference queries scan the fact table for string matches) re-expressed
  * as the structure a 100 TB corpus needs: tokenize ONCE at build time into
  * (term, doc_id, tf) postings, lay the postings out by a deterministic
  * term bucket, and serve keyword queries by reading ONLY the buckets the
  * query terms hash to.
  *
  * Scale shape:
  *   - build: one narrow explode over the corpus followed by a map-side-
  *     combined groupBy(term, doc_id) — the exchange carries postings
  *     (two longs + a term), never document text;
  *   - layout: bucket = md5(term) mod B, so the term space spreads
  *     uniformly whatever its skew (a hot term concentrates its OWN
  *     postings run, not a directory hot-spot). A one-shot build
  *     ([[writeIndex]]/[[writeRankedIndex]]) is corpus-sized, so it lands
  *     as `partitionBy(bucket)` directories and file-level pruning pays
  *     off. A versioned store's per-batch delta is small: each version is
  *     plain files sorted on (bucket, term), `bucket` kept as a data
  *     column whose row-group min/max stats prune instead — B directories
  *     per small batch would multiply file count, listing and footer
  *     reads by B for no pruning gain;
  *   - serve: the query's terms hash DRIVER-SIDE (same md5, no Spark job)
  *     to a bucket list → partition pruning (one-shot) or row-group
  *     pruning (versioned) reads about |query buckets|/B of the index; the
  *     `term IN (...)` equality then pushes into parquet row-group stats.
  *     A versioned serve reads every committed version in ONE scan, so
  *     its per-query cost does not grow a relation per append. The doc_id
  *     groupBy that intersects the posting lists exchanges only rows for
  *     the queried terms.
  *
  * Conjunctive (AND) semantics with exact integer tf ranking; postings are
  * unique on (term, doc_id) so `count(*)` per doc counts DISTINCT matched
  * query terms. Relevance-weighted variants belong to the BM25 tier
  * (TextAnalysis.bm25Scores, x26) — this operator is the retrieval
  * structure, not the scorer.
  */
object Search {

  val DefaultBuckets = 64

  private val BucketSalt = ":tidx"

  /** Executor-side term bucket: first four hex chars of md5(term+salt),
    * mod `buckets`. The driver twin is [[termBucketLocal]] — both sides
    * MUST agree or pruning silently drops matches, so the agreement is
    * spec-pinned (SearchSpec).
    */
  def termBucket(term: Column, buckets: Int): Column =
    pmod(conv(substring(md5(concat(term, lit(BucketSalt)).cast("binary")), 1, 4), 16, 10)
      .cast("int"), lit(buckets))

  /** Driver-side twin of [[termBucket]] (plain JVM md5 — no Spark job to
    * plan a query's bucket list).
    */
  def termBucketLocal(term: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((term + BucketSalt).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex4 = f"${(d(0) & 0xff)}%02x${(d(1) & 0xff)}%02x"
    Integer.parseInt(hex4, 16) % buckets
  }

  /** Postings rows (term, doc_id, tf) from whitespace-tokenized lowercased
    * text. Empty terms (leading/trailing whitespace artifacts) are dropped.
    */
  def postings(documents: DataFrame, textCol: String = "text"): DataFrame =
    documents
      .select(col("doc_id"), explode(TextFns.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Build and persist the index at `path`: postings partitioned by term
    * bucket. The pre-write `repartition(bucket)` makes each task own whole
    * buckets, so the layout lands as one file per bucket directory instead
    * of |tasks|×|buckets| fragments. The bucket count is persisted beside
    * the data (BUCKETS) — the serve path verifies against it, because a
    * mismatched count would not error, it would silently prune MATCHING
    * buckets away.
    */
  def writeIndex(documents: DataFrame, path: String,
                 buckets: Int = DefaultBuckets, textCol: String = "text"): Unit = {
    postings(documents, textCol)
      .withColumn("bucket", termBucket(col("term"), buckets))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    graft.warehouse.AtomicPointer.write(s"$path/$BucketsFile", buckets.toString)
  }

  // underscore prefix: Spark's file index skips _-prefixed names, so the
  // sidecar can live inside the flat index's parquet directory
  private val BucketsFile = "_BUCKETS"

  /** Fail fast when the caller's bucket count disagrees with the one the
    * index was BUILT with (stored in BUCKETS): the wrong count doesn't
    * error downstream — it prunes matching buckets away silently. Legacy
    * indexes without the file pass through on the caller's word.
    */
  private def checkBuckets(path: String, buckets: Int): Unit =
    graft.warehouse.AtomicPointer.read(s"$path/$BucketsFile").map(_.trim.toInt)
      .foreach(stored => require(stored == buckets,
        s"index at $path was built with $stored buckets, queried with $buckets " +
          "— pruning would silently drop matches"))

  /** Conjunctive keyword serve: documents containing EVERY query term, with
    * the exact total term frequency as the ranking signal. Reads only the
    * buckets the query terms hash to (partition pruning — plan-pinned in
    * SearchSpec) and pushes the term equalities into the parquet scan.
    */
  def searchAll(spark: SparkSession, path: String, terms: Seq[String],
                buckets: Int = DefaultBuckets): DataFrame = {
    require(terms.nonEmpty, "searchAll: empty query")
    checkBuckets(path, buckets)
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val bks = lowered.map(termBucketLocal(_, buckets)).distinct
    spark.read.parquet(path)
      .filter(col("bucket").isin(bks.map(Integer.valueOf): _*))
      .filter(col("term").isin(lowered: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"))
      .filter(col("n_terms") === lowered.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** The serve result computed directly from the corpus (no index) — the
    * definition `searchAll` must match; shared by the spec and the oracle
    * formulation.
    */
  def searchAllDirect(documents: DataFrame, terms: Seq[String],
                      textCol: String = "text"): DataFrame = {
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    postings(documents, textCol)
      .filter(col("term").isin(lowered: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"))
      .filter(col("n_terms") === lowered.size)
      .select(col("doc_id"), col("total_tf"))
  }

  // ------------------------------------------------------- ranked (BM25)

  // corpus stats sidecar (n_docs, total_tokens as exact integers): BM25's
  // idf/avgdl need corpus-wide denominators the pruned per-query scan
  // cannot see; _-prefixed like _BUCKETS so Spark's file index skips it
  private val StatsFile = "_STATS"

  /** Build + persist the RANKED index: x39's bucket layout with each
    * posting carrying its document's token length (the classic
    * search-engine denormalization — dl rides the posting, so the serve
    * path never joins a corpus-sized doc-length table), plus a corpus
    * stats sidecar (doc count, total tokens — exact integers; avgdl
    * derives at serve time so both engines divide the same longs).
    * Document frequencies are NOT persisted: a term's postings all live in
    * its bucket, so the serve's pruned scan recounts df exactly. The stats
    * are observed on the postings write itself ([[writeRankedPostings]]),
    * so the build runs no aggregate action of its own.
    */
  def writeRankedIndex(documents: DataFrame, path: String,
                       buckets: Int = DefaultBuckets, textCol: String = "text"): Unit = {
    val stats = writeRankedPostings(documents, textCol) { postings =>
      postings
        .withColumn("bucket", termBucket(col("term"), buckets))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    }
    graft.warehouse.AtomicPointer.write(s"$path/$StatsFile", stats)
    graft.warehouse.AtomicPointer.write(s"$path/$BucketsFile", buckets.toString)
  }

  /** Write `documents`' ranked postings (term, doc_id, dl, tf) through
    * `write`, and return the exact-integer stats sidecar body (doc count,
    * total tokens) observed on that same write — `Dataset.observe` on the
    * per-document rows, so the stats cost no job of their own. The token
    * sum coalesces to 0, so an empty batch writes "0\n0\n". The observed
    * rows sit in a shuffle-map stage, whose accumulator updates Spark
    * re-adds if it re-runs that stage after losing an executor's shuffle
    * output — which the single-JVM session never does.
    */
  private def writeRankedPostings(documents: DataFrame, textCol: String)(
      write: DataFrame => Unit): String = {
    val toks = TextFns.tokens(col(textCol))
    val obs = new org.apache.spark.sql.Observation()
    // dl = size BEFORE the empty-term drop, matching bm25Score's |d|
    val base = documents.select(col("doc_id"), size(toks).as("dl"), toks.as("w"))
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("dl").cast("long")), lit(0L)).as("tot"))
    write(base.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf")))
    val st = obs.get
    // the optimizer drops the observe node of an input it proves empty
    if (st.isEmpty) "0\n0\n" else s"${st("n")}\n${st("tot")}\n"
  }

  /** BM25 top-k serve from a [[writeRankedIndex]] store — the ranked
    * (OR-semantics) retrieval the conjunctive [[searchAll]] can't express,
    * with [[TextAnalysis.bm25Score]]'s exact scoring treatment (quantized
    * DECIMAL(18,8) idf × saturation, exact decimal cross-term sum, one
    * final ROUND(4)) so the two paths agree bit-for-bit on matching docs.
    * Zero-match documents never appear (the index only knows matches —
    * unlike the corpus-scan scorer, which emits 0.0 rows).
    *
    * Scale shape: reads ONLY the query terms' buckets (partition pruning)
    * with the term equalities pushed to parquet; df recounts over that
    * pruned, matching-rows-sized scan; the |Q|-row idf LUT broadcasts;
    * top-k is a TakeOrderedAndProject (per-partition heads, never a global
    * sort), totally ordered by (score desc, doc_id) so the k-boundary is
    * deterministic.
    */
  def searchRanked(spark: SparkSession, path: String, terms: Seq[String],
                   k: Int, buckets: Int = DefaultBuckets,
                   k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "searchRanked: empty query")
    checkBuckets(path, buckets)
    val Array(nDocs, totTokens) =
      graft.warehouse.AtomicPointer.read(s"$path/$StatsFile")
        .map(_.split("\n").map(_.trim).filter(_.nonEmpty).map(_.toLong))
        .getOrElse(sys.error(s"searchRanked: no $StatsFile under $path — " +
          "built with writeIndex instead of writeRankedIndex?"))
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val bks = lowered.map(termBucketLocal(_, buckets)).distinct
    val posts = spark.read.parquet(path)
      .filter(col("bucket").isin(bks.map(Integer.valueOf): _*))
      .filter(col("term").isin(lowered: _*))
    val idf = posts.groupBy("term").agg(count(lit(1)).as("n_t"))
      .select(col("term"),
        log((lit(nDocs.toDouble) - col("n_t").cast("double") + 0.5) /
            (col("n_t").cast("double") + 0.5) + 1.0)
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("idf"))
    val avgdl = totTokens.toDouble / nDocs.toDouble
    posts.join(broadcast(idf), Seq("term"))
      .withColumn("frac",
        (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
      .withColumn("contrib",
        col("idf") * col("frac").cast(org.apache.spark.sql.types.DecimalType(18, 8)))
      .groupBy("doc_id").agg(sum("contrib").as("sdec"))
      .select(col("doc_id"), round(col("sdec").cast("double"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  // ------------------------------------------------- versioned incremental

  /** Commit one version through [[graft.store.VersionedStore]] (`stage`
    * writes its tables). The bucket-count precondition is checked before
    * anything is staged, so a mismatched append fails without writing;
    * `_BUCKETS` lands before the pointer swap, so a committed version is
    * never served unguarded.
    */
  private def commit(path: String, replace: Boolean, buckets: Int)
                    (stage: String => Unit): Unit = {
    checkBuckets(path, buckets)
    VersionedStore.commit(path, replace) { staging =>
      stage(staging)
      graft.warehouse.AtomicPointer.write(s"$path/$BucketsFile", buckets.toString)
    }
  }

  /** One version's postings as plain parquet files sorted on
    * (bucket, term): `bucket` stays a data column, so the serve's
    * `bucket IN` / `term IN` filters prune on row-group min/max stats, and
    * the version lands as one file per write task rather than B bucket
    * directories of fragments. An empty batch still writes one schema-only
    * file, so the single-scan serve can always read a schema.
    */
  private def writeVersionPostings(postings: DataFrame, dir: String, buckets: Int): Unit =
    postings
      .withColumn("bucket", termBucket(col("term"), buckets))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "term")
      .write.mode("overwrite").parquet(dir)

  /** Commit one batch's postings as the next version
    * ([[writeVersionPostings]] layout under the version's `postings/` dir).
    */
  private def commitVersion(documents: DataFrame, path: String,
                            replace: Boolean, buckets: Int,
                            textCol: String): Unit =
    commit(path, replace, buckets) { staging =>
      writeVersionPostings(postings(documents, textCol), s"$staging/postings", buckets)
    }

  /** Every committed version's postings as ONE scan with the query's
    * `bucket IN` and `term IN` filters on it — one footer-read schema, one
    * listing and one set of scan tasks however many versions the store
    * has accrued (the way Dedup reads its versioned index tables).
    */
  private def scanVersions(spark: SparkSession, path: String, vs: Seq[String],
                           lowered: Seq[String], buckets: Int): DataFrame = {
    val bks = lowered.map(termBucketLocal(_, buckets)).distinct
    VersionedStore.read(spark, path, vs, "postings")
      .filter(col("bucket").isin(bks.map(Integer.valueOf): _*))
      .filter(col("term").isin(lowered: _*))
  }

  /** Bootstrap the versioned index: commit `documents`' postings as the
    * sole version.
    */
  def initIndex(documents: DataFrame, path: String,
                buckets: Int = DefaultBuckets, textCol: String = "text"): Unit =
    commitVersion(documents, path, replace = true, buckets, textCol)

  /** Append one batch's postings as a new version WITHOUT reading existing
    * state (the CountStore contract: the merge is the read side's SUM, so
    * appends stay O(batch) however large the index has grown). tf merges
    * additively — a document whose text arrives split across batches sums
    * to the same postings as a one-shot build (spec-pinned).
    */
  def appendToIndex(documents: DataFrame, path: String,
                    buckets: Int = DefaultBuckets, textCol: String = "text"): Unit =
    commitVersion(documents, path, replace = false, buckets, textCol)

  // ------------------------------------------- versioned ranked (BM25)

  /** Per-version stats sidecar name (inside the version dir). */
  private def versionStats(path: String, v: String) = s"$path/$v/STATS"

  /** Commit one batch's RANKED postings (term, doc_id, dl, tf) as the next
    * version ([[writeVersionPostings]] layout), with the batch's own
    * exact-integer stats beside it — the additive unit: corpus stats are Σ
    * over committed versions, so appends stay O(batch) like the
    * conjunctive store. Contract: documents arrive WHOLE in one batch (dl
    * rides the posting; a doc split across batches would carry
    * inconsistent lengths — the tf-additive split-doc tolerance of the
    * conjunctive store does not extend here).
    */
  private def commitRankedVersion(documents: DataFrame, path: String,
                                  replace: Boolean, buckets: Int,
                                  textCol: String): Unit =
    commit(path, replace, buckets) { staging =>
      val stats = writeRankedPostings(documents, textCol)(
        writeVersionPostings(_, s"$staging/postings", buckets))
      graft.warehouse.AtomicPointer.write(s"$staging/STATS", stats)
    }

  /** Bootstrap the versioned RANKED index. */
  def initRankedIndex(documents: DataFrame, path: String,
                      buckets: Int = DefaultBuckets, textCol: String = "text"): Unit =
    commitRankedVersion(documents, path, replace = true, buckets, textCol)

  /** Append a batch of WHOLE documents to the versioned ranked index
    * without reading existing state (stats merge additively, postings by
    * union — O(batch) however large the index has grown).
    */
  def appendToRankedIndex(documents: DataFrame, path: String,
                          buckets: Int = DefaultBuckets, textCol: String = "text"): Unit =
    commitRankedVersion(documents, path, replace = false, buckets, textCol)

  /** [[searchRanked]] against the VERSIONED ranked index: one scan over
    * every committed version's postings (bucket- and term-filtered on the
    * row-group stats of the sorted files), merged by additive tf on
    * (term, doc_id, dl); corpus stats are the exact-integer Σ of the
    * per-version sidecars; scoring is identical to the one-shot serve, so
    * incremental ≡ from-scratch hash-exactly (x48 pins it against x45's
    * verbatim oracle). The merge exchange carries only the queried terms'
    * postings.
    */
  def searchRankedIndexed(spark: SparkSession, path: String, terms: Seq[String],
                          k: Int, buckets: Int = DefaultBuckets,
                          k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val vs = VersionedStore.committedVersions(path)
    require(vs.nonEmpty, s"searchRankedIndexed: no committed versions under $path")
    checkBuckets(path, buckets)
    require(terms.nonEmpty, "searchRankedIndexed: empty query")
    val stats = vs.map { v =>
      graft.warehouse.AtomicPointer.read(versionStats(path, v))
        .map(_.split("\n").map(_.trim).filter(_.nonEmpty).map(_.toLong))
        .getOrElse(sys.error(s"searchRankedIndexed: version $v has no STATS " +
          "— built with initIndex instead of initRankedIndex?"))
    }
    val (nDocs, totTokens) = (stats.map(_(0)).sum, stats.map(_(1)).sum)
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val posts = scanVersions(spark, path, vs, lowered, buckets)
      .groupBy("term", "doc_id", "dl").agg(sum("tf").as("tf"))
    // count(tf), not count(1): tf is never null, and keeping it referenced
    // gives the df branch the same pruned columns as the scoring branch, so
    // the merge exchange is reused and the postings are scanned ONCE
    val idf = posts.groupBy("term").agg(count(col("tf")).as("n_t"))
      .select(col("term"),
        log((lit(nDocs.toDouble) - col("n_t").cast("double") + 0.5) /
            (col("n_t").cast("double") + 0.5) + 1.0)
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("idf"))
    val avgdl = totTokens.toDouble / nDocs.toDouble
    posts.join(broadcast(idf), Seq("term"))
      .withColumn("frac",
        (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
      .withColumn("contrib",
        col("idf") * col("frac").cast(org.apache.spark.sql.types.DecimalType(18, 8)))
      .groupBy("doc_id").agg(sum("contrib").as("sdec"))
      .select(col("doc_id"), round(col("sdec").cast("double"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** [[searchAll]] against the VERSIONED index: every committed version is
    * read in ONE bucket- and term-filtered scan, postings merge by additive
    * tf on (term, doc_id), then the conjunctive intersection. The merge
    * exchange carries only the queried terms' postings — version count
    * never touches the corpus-sized build cost, and adds files to the one
    * scan rather than a relation per version.
    */
  def searchAllIndexed(spark: SparkSession, path: String, terms: Seq[String],
                       buckets: Int = DefaultBuckets): DataFrame = {
    val vs = VersionedStore.committedVersions(path)
    require(vs.nonEmpty, s"searchAllIndexed: no committed versions under $path")
    checkBuckets(path, buckets)
    val lowered = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(lowered.nonEmpty, "searchAllIndexed: empty query")
    val merged = scanVersions(spark, path, vs, lowered, buckets)
      .groupBy("term", "doc_id").agg(sum("tf").as("tf"))
    merged
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"))
      .filter(col("n_terms") === lowered.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** HYBRID retrieval with reciprocal-rank fusion (Cormack et al. 2009) —
    * the modern "related documents" stack: a LEXICAL ranking (token-set
    * Jaccard between the query document and each candidate — exact
    * surface overlap) and a SEMANTIC ranking (embedding cosine) fused as
    * rrf = 1/(rrfK + rank_lex) + 1/(rrfK + rank_sem), so a document only
    * one retriever loves still surfaces while rank-1 agreement dominates.
    * RRF fuses RANKS, not scores — no cross-retriever score calibration,
    * which is why it is the production default for lexical+vector fusion.
    *
    * Corpus = documents ⋈ embeddings on doc_id = vec_id (only items
    * carrying both signals can be ranked by both). Both rankings are
    * total orders ((signal desc, neighbor_id)) over the SAME candidate
    * universe, so the fused ranking is deterministic cross-engine; the
    * fusion itself is two integer-rank reciprocals added in fixed order.
    * Plan shape: the query side is broadcast-small (s01's contract); the
    * two ranks and the final fused rank share ONE query_id exchange
    * (three window sorts over the same partitioning). This exact form
    * ranks the full universe per query — the oracle-able gold path; at
    * 100 TB production fuses the indexed tiers' top-k shortlists (x45
    * BM25 / s06 ANN) with identical rank arithmetic, trading the exact
    * tail for the pruned scans those stores exist to provide.
    */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                queryPred: Column, k: Int = 10, rrfK: Int = 60): DataFrame = {
    val corp = documents.select(col("doc_id"), col("text"))
      .join(embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      .select(col("doc_id"),
        array_distinct(filter(TextFns.tokens(col("text")),
          t => length(t) > 0)).as("tk"),
        col("embedding"))
    val q = corp.filter(queryPred)
      .select(col("doc_id").as("query_id"), col("tk").as("q_tk"),
        col("embedding").as("q_emb"))
    val c = corp.select(col("doc_id").as("neighbor_id"), col("tk").as("c_tk"),
      col("embedding").as("c_emb"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (size(array_intersect(col("q_tk"), col("c_tk"))).cast("double") /
          size(array_union(col("q_tk"), col("c_tk"))).cast("double")).as("jacc"),
        Similarity.cosine(col("q_emb"), col("c_emb")).as("cos"))
    val byQuery = Window.partitionBy("query_id")
    val lexW = byQuery.orderBy(col("jacc").desc, col("neighbor_id"))
    val semW = byQuery.orderBy(col("cos").desc, col("neighbor_id"))
    val fused = scored
      .withColumn("lex_rank", row_number().over(lexW))
      .withColumn("sem_rank", row_number().over(semW))
      .withColumn("rrf",
        lit(1.0) / (lit(rrfK) + col("lex_rank")).cast("double") +
          lit(1.0) / (lit(rrfK) + col("sem_rank")).cast("double"))
    fused
      .withColumn("rank",
        row_number().over(byQuery.orderBy(col("rrf").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "rrf", "lex_rank", "sem_rank")
  }
}
