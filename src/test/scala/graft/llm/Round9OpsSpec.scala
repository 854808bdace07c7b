package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavior tests for the round-9 scale work: IVF vectors-table compaction
  * (VERDICT r8 #1), the cell-occupancy drift report (#4), enforced
  * broadcast-small ANN query contracts (#3), the reliable-checkpoint CC
  * option (#7), and the ADVICE r8 vacuum rename→swap window fix.
  */
class Round9OpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  private def topKRows(idx: String): Seq[(Long, Int, Long)] =
    Similarity.ivfTopKQuantizedFromIndex(
        embs.filter(col("vec_id") % 100 === 0), idx, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  // ------------------------------------------------ IVF compaction (r8 #1)

  test("IVF vectors compaction collapses per-batch small files without changing answers") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    Similarity.writeIvfIndex(embs.filter(col("vec_id") % 4 === 0), idx)
    (1 to 3).foreach { r =>
      Similarity.appendToIvfIndex(embs.filter(col("vec_id") % 4 === r), idx)
    }
    val before = topKRows(idx)
    val statsBefore = Similarity.ivfIndexStats(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(statsBefore.exists(_._3 >= 4),
      "setup: per-batch appends must fragment cell directories " +
        s"(max files/cell = ${statsBefore.map(_._3).max})")

    val st = Similarity.compactIvfIndex(spark, idx)
    assert(st.partitionsCompacted > 0, "fragmented cells must be folded")
    assert(st.partitionsSkipped.isEmpty, s"skipped: ${st.partitionsSkipped}")
    val statsAfter = Similarity.ivfIndexStats(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(statsAfter.forall(_._3 == 1),
      s"every cell dir must fold to one file at fixture size: $statsAfter")
    assert(statsAfter.map(s => s._1 -> s._2).toMap ==
      statsBefore.map(s => s._1 -> s._2).toMap,
      "compaction must not change per-cell row counts")
    assert(topKRows(idx) == before, "compaction must not change served answers")
    // probe-time partition pruning still holds on the compacted layout
    val served = Similarity.ivfTopKQuantizedFromIndex(
      embs.filter(col("vec_id") % 100 === 0), idx, 10)
    assert(fileScanPaths(served).exists(_.contains("/vectors")))
  }

  test("an IVF append's rows read the batch and the stored centroids, never the vectors table") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-append-scan").toString
    Similarity.writeIvfIndex(embs.filter(col("vec_id") % 2 === 0), idx)
    val rows = Similarity.ivfIndexRows(
      embs.filter(col("vec_id") % 2 =!= 0).select("vec_id", "embedding"),
      spark.read.parquet(s"$idx/centroids"))
    val scanned = fileScanPaths(rows)
    assert(scanned.exists(_.contains("embeddings.parquet")), s"scans: $scanned")
    assert(!scanned.exists(_.contains(s"$idx/vectors")),
      "an append must not scan the stored vectors")
  }

  // ------------------------------------------------ drift report (r8 #4)

  test("ivfIndexStats surfaces cell skew from a drifted append; rebuild re-balances") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-drift").toString
    Similarity.writeIvfIndex(embs, idx, quantizer = Similarity.KMeansQuantizer)
    def skew(): Double = {
      val counts = Similarity.ivfIndexStats(spark, idx)
        .collect().map(_.getLong(1)).filter(_ > 0)
      counts.max.toDouble / (counts.sum.toDouble / counts.length)
    }
    val balanced = skew()
    // drift injection: a stream whose vectors all equal one corpus vector
    // (new ids, same embedding) — every row lands in ONE cell
    val one = embs.orderBy("vec_id").limit(1)
      .select(col("embedding")).crossJoin(spark.range(2000, 2000 + embs.count()))
      .select(col("id").as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(one, idx)
    val drifted = skew()
    assert(drifted > 2 * balanced,
      f"the drift report must surface the hot cell (skew $balanced%.2f → $drifted%.2f)")
    // the documented retrain-rebuild path: refit centers on the CURRENT
    // distribution and rewrite — occupancy re-tiles
    val current = embs.select("vec_id", "embedding").unionByName(one)
    Similarity.writeIvfIndex(current, idx, quantizer = Similarity.KMeansQuantizer)
    val rebuilt = skew()
    assert(rebuilt < drifted,
      f"k-means rebuild must re-balance occupancy ($drifted%.2f → $rebuilt%.2f)")
    val stats = Similarity.ivfIndexStats(spark, idx)
    assert(stats.agg(sum("n_vectors")).head.getLong(0) == current.count())
  }

  // ------------------------------------- enforced query contracts (r8 #3)

  test("ANN driver collects fail fast past MaxDriverQueryRows instead of OOMing the driver") {
    val big = spark.range(Similarity.MaxDriverQueryRows + 1)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(Similarity.Dim - 1)),
          i => (i + col("id") % 7 + 1).cast("float")).as("embedding"))
    val eQ = intercept[IllegalArgumentException] {
      Similarity.queryProbeBuckets(big, 2, 8, 1)
    }
    assert(eQ.getMessage.contains("MaxDriverQueryRows"))

    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-cap").toString
    Similarity.writeIvfIndex(embs, idx)
    val handle = new Similarity.IvfIndexHandle(spark, idx)
    // the cap binds the driver-localized PROBE rows (|queries| × nProbe)
    val eH = intercept[IllegalArgumentException] {
      handle.topK(big.limit(Similarity.MaxDriverQueryRows / 4 + 1), 10, nProbe = 4)
    }
    assert(eH.getMessage.contains("MaxDriverQueryRows"))
    // contract-sized queries still serve
    assert(handle.topK(embs.filter(col("vec_id") % 100 === 0), 10).count() > 0)
  }

  // ------------------------------------- vacuum rename→swap gap (ADVICE r8)

  test("vacuum spares a renamed-but-unswapped max+1 version; the next append reclaims it") {
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-vgap").toString
    Dedup.writeCorpusIndex(docs.filter(col("doc_id") % 3 === 0), idx)
    // simulate a concurrent commit caught between its v2 rename and its
    // pointer swap: a fully-written v2 the pointer does not reference yet
    val probe = Seq((424242L, Seq("IN", "FLIGHT"))).toDF("doc_id", "sh")
    probe.write.parquet(s"$idx/v2/shingles")
    Seq((424242L, 0, 0L)).toDF("doc_id", "band", "band_hash")
      .write.parquet(s"$idx/v2/buckets")
    assert(Dedup.vacuumCorpusIndex(idx) == 0,
      "vacuum must never delete a version above the max committed one")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "v2")),
      "the in-flight version must survive vacuum")
    // a later append targets v2, clobbers the orphan, and commits it
    val batch = docs.filter(col("doc_id") % 3 === 1)
    Dedup.appendToCorpusIndex(batch, idx)
    val after = Dedup.indexShingles(spark, idx).select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(!after.contains(424242L), "orphan contents must never surface")
    assert(Dedup.vacuumCorpusIndex(idx) == 0, "both versions committed — nothing to vacuum")
  }

  // ------------------------------------- reliable-checkpoint CC loop (r8 #7)

  test("the CC loop converges identically under reliable checkpointing") {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir.orNull
    // pin the DISTRIBUTED loop (the machinery under test) — the adaptive
    // driver fast path would otherwise satisfy this fixture without ever
    // checkpointing
    spark.conf.set("spark.graft.cc.maxDriverEdges", "0")
    try {
      val expected = Dedup.nearDupClusters(docs, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val dir = java.nio.file.Files.createTempDirectory("graft-cc-reliable").toString
      sc.setCheckpointDir(dir)
      try {
        val reliable = Dedup.nearDupClusters(docs, 0.8)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(reliable == expected,
          "reliable-checkpoint clusters must equal the localCheckpoint ones")
        assert(new java.io.File(dir).listFiles().nonEmpty,
          "the loop must actually write reliable checkpoints when a dir is set")
      } finally sc.setCheckpointDir(prior)
    } finally spark.conf.unset("spark.graft.cc.maxDriverEdges")
  }

  // ----------------------------------- adaptive driver-side CC fast path

  test("driver union-find clusters are byte-identical to the distributed loop") {
    val fast = Dedup.nearDupClusters(docs, 0.8) // default: fast path engages
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fast.nonEmpty, "fixture must yield near-dup clusters")
    spark.conf.set("spark.graft.cc.maxDriverEdges", "0")
    try {
      val loop = Dedup.nearDupClusters(docs, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fast == loop, "fast path must reproduce the loop's labels exactly")
    } finally spark.conf.unset("spark.graft.cc.maxDriverEdges")
    // an over-ceiling edge set falls through to the loop and still agrees
    spark.conf.set("spark.graft.cc.maxDriverEdges", "1")
    try {
      val fellThrough = Dedup.nearDupClusters(docs, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fellThrough == fast, "over-ceiling fall-through must agree")
    } finally spark.conf.unset("spark.graft.cc.maxDriverEdges")
    // the multi-signal composition routes through the same switch
    val ms = Dedup.multiSignalClusters(docs, embs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    spark.conf.set("spark.graft.cc.maxDriverEdges", "0")
    try {
      val msLoop = Dedup.multiSignalClusters(docs, embs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(ms == msLoop, "multi-signal clusters must agree across paths")
    } finally spark.conf.unset("spark.graft.cc.maxDriverEdges")
  }
}
