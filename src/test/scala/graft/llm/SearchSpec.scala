package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.functions._

/** Inverted text index (llm/Search): postings correctness, serve ≡ direct
  * corpus compute, driver/executor bucket agreement (the pruning contract),
  * the partition-pruned one-shot serve plan and the versioned stores'
  * flat-file, single-scan shape.
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark merge window spark"),
    (2L, "window merge"),
    (3L, "SPARK window merge merge"),
    (4L, "spark spark spark"),
    (5L, " window  spark merge ")
  ).toDF("doc_id", "text")

  test("postings: exact (term, doc_id, tf) rows, case-folded, empties dropped") {
    val got = Search.postings(corpus)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("spark", 1L, 2L), ("merge", 1L, 1L), ("window", 1L, 1L),
      ("window", 2L, 1L), ("merge", 2L, 1L),
      ("spark", 3L, 1L), ("window", 3L, 1L), ("merge", 3L, 2L),
      ("spark", 4L, 3L),
      ("spark", 5L, 1L), ("window", 5L, 1L), ("merge", 5L, 1L)))
  }

  test("searchAll: conjunctive match with exact tf ranking, query case-folded") {
    val idx = java.nio.file.Files.createTempDirectory("graft-search").toString
    Search.writeIndex(corpus, idx, buckets = 8)
    val got = Search.searchAll(spark, idx, Seq("Spark", "WINDOW", "merge"), buckets = 8)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // doc 2 lacks spark, doc 4 lacks window+merge
    assert(got == Seq((1L, 4L), (3L, 4L), (5L, 3L)))
  }

  test("searchAll ≡ searchAllDirect on every subset of query terms") {
    val idx = java.nio.file.Files.createTempDirectory("graft-search").toString
    Search.writeIndex(corpus, idx, buckets = 8)
    for (terms <- Seq(Seq("spark"), Seq("merge", "window"), Seq("spark", "merge", "window"))) {
      val served = Search.searchAll(spark, idx, terms, buckets = 8)
        .orderBy("doc_id").collect().toSeq
      val direct = Search.searchAllDirect(corpus, terms)
        .orderBy("doc_id").collect().toSeq
      assert(served == direct, s"terms=$terms")
    }
  }

  test("driver and executor term buckets agree (the pruning correctness contract)") {
    val terms = Seq("spark", "window", "merge", "the", "a", "Zsh", "émigré", "")
    val fromSpark = terms.toDF("t")
      .select(col("t"), Search.termBucket(col("t"), 64).as("b"))
      .as[(String, Int)].collect().toMap
    terms.foreach { t =>
      assert(Search.termBucketLocal(t, 64) == fromSpark(t), s"term '$t'")
    }
  }

  test("serve plan prunes to the query terms' bucket partitions") {
    withConf("spark.sql.adaptive.enabled", "false") {
    val idx = java.nio.file.Files.createTempDirectory("graft-search").toString
    Search.writeIndex(corpus, idx, buckets = 16)
    val df = Search.searchAll(spark, idx, Seq("spark", "merge"), buckets = 16)
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.headOption.getOrElse(fail("no file scan in serve plan"))
    assert(scan.partitionFilters.nonEmpty, "serve scan has no partition filters")
    // repartition(bucket) lays out one file per bucket dir, so files read ==
    // bucket partitions selected
    val expected = Seq("spark", "merge").map(Search.termBucketLocal(_, 16)).distinct
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead == expected.length,
      s"read $filesRead bucket files, expected ${expected.length} of 16")
    // the term equality also reaches the parquet scan
    assert(scan.dataFilters.exists(_.toString.contains("term")),
      "term predicate not pushed to the scan")
    }
  }

  test("versioned index: init + append over doc halves ≡ one-shot build") {
    val oneShot = java.nio.file.Files.createTempDirectory("graft-search-1s").toString
    val inc = java.nio.file.Files.createTempDirectory("graft-search-inc").toString
    Search.writeIndex(corpus, oneShot, buckets = 8)
    Search.initIndex(corpus.filter(col("doc_id") % 2 === 0), inc, buckets = 8)
    Search.appendToIndex(corpus.filter(col("doc_id") % 2 === 1), inc, buckets = 8)
    for (terms <- Seq(Seq("spark"), Seq("spark", "window", "merge"))) {
      val a = Search.searchAll(spark, oneShot, terms, buckets = 8)
        .orderBy("doc_id").collect().toSeq
      val b = Search.searchAllIndexed(spark, inc, terms, buckets = 8)
        .orderBy("doc_id").collect().toSeq
      assert(a == b, s"terms=$terms")
    }
  }

  test("versioned index: a document whose text is split across appends sums tf additively") {
    val inc = java.nio.file.Files.createTempDirectory("graft-search-split").toString
    Search.initIndex(Seq((1L, "spark spark window")).toDF("doc_id", "text"), inc, buckets = 8)
    Search.appendToIndex(Seq((1L, "spark merge")).toDF("doc_id", "text"), inc, buckets = 8)
    val got = Search.searchAllIndexed(spark, inc, Seq("spark", "window", "merge"), buckets = 8)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 5L)))
  }

  test("serve fails fast on a bucket-count mismatch (silent mis-pruning guard)") {
    val idx = java.nio.file.Files.createTempDirectory("graft-search-bk").toString
    Search.writeIndex(corpus, idx, buckets = 8)
    intercept[IllegalArgumentException] {
      Search.searchAll(spark, idx, Seq("spark"), buckets = 16)
    }
    val inc = java.nio.file.Files.createTempDirectory("graft-search-bk2").toString
    Search.initIndex(corpus, inc, buckets = 8)
    val rInc = java.nio.file.Files.createTempDirectory("graft-search-bk3").toString
    Search.initRankedIndex(corpus, rInc, buckets = 8)
    // the precondition fails BEFORE staging: no new version dir, no
    // orphaned staging dir, and the committed pointer is untouched
    def layout(dir: String): (Set[String], String) = {
      val names = new java.io.File(dir).list().toSet
        .filter(n => n.matches("v\\d+") || n.startsWith(".staging-"))
      (names, new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "CURRENT"))))
    }
    val (incBefore, rIncBefore) = (layout(inc), layout(rInc))
    intercept[IllegalArgumentException] {
      Search.appendToIndex(corpus, inc, buckets = 16)
    }
    intercept[IllegalArgumentException] {
      Search.appendToRankedIndex(corpus, rInc, buckets = 16)
    }
    assert(layout(inc) == incBefore && incBefore._1 == Set("v1"))
    assert(layout(rInc) == rIncBefore && rIncBefore._1 == Set("v1"))
    intercept[IllegalArgumentException] {
      Search.searchAllIndexed(spark, inc, Seq("spark"), buckets = 16)
    }
  }

  test("versioned index: serve fails fast on an uninitialized store") {
    val empty = java.nio.file.Files.createTempDirectory("graft-search-empty").toString
    intercept[IllegalArgumentException] {
      Search.searchAllIndexed(spark, empty, Seq("spark"), buckets = 8)
    }
  }

  test("searchRanked ≡ bm25Score on matching docs, bit-for-bit; zero-match docs absent") {
    val withMiss = corpus.union(Seq((6L, "nothing relevant here")).toDF("doc_id", "text"))
    val idx = java.nio.file.Files.createTempDirectory("graft-ranked").toString
    Search.writeRankedIndex(withMiss, idx, buckets = 8)
    val terms = Seq("spark", "merge", "absentterm")
    val served = Search.searchRanked(spark, idx, terms, k = 10, buckets = 8)
      .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    val direct = TextAnalysis.bm25Score(withMiss, terms)
      .filter(col("bm25") > 0.0)
      .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    assert(served == direct)
    assert(!served.exists(_._1 == 6L), "zero-match doc leaked into the ranked serve")
  }

  test("searchRanked top-k boundary: total order (score desc, doc_id) decides ties") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ranked-k").toString
    Search.writeRankedIndex(corpus, idx, buckets = 8)
    val all = Search.searchRanked(spark, idx, Seq("spark", "window"), k = 100, buckets = 8)
      .as[(Long, Double)].collect().toSeq
    val expectedTop2 = all.sortBy { case (id, s) => (-s, id) }.take(2).toSet
    val top2 = Search.searchRanked(spark, idx, Seq("spark", "window"), k = 2, buckets = 8)
      .as[(Long, Double)].collect().toSet
    assert(top2 == expectedTop2)
  }

  test("searchRanked plan prunes to the query terms' bucket partitions") {
    withConf("spark.sql.adaptive.enabled", "false") {
      val idx = java.nio.file.Files.createTempDirectory("graft-ranked-pr").toString
      Search.writeRankedIndex(corpus, idx, buckets = 16)
      val df = Search.searchRanked(spark, idx, Seq("spark", "merge"), k = 10, buckets = 16)
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "no file scan in ranked serve plan")
      val expected = Seq("spark", "merge").map(Search.termBucketLocal(_, 16)).distinct
      scans.foreach { scan =>
        assert(scan.partitionFilters.nonEmpty, "ranked serve scan has no partition filters")
        assert(scan.metrics("numFiles").value == expected.length,
          s"read ${scan.metrics("numFiles").value} bucket files, expected ${expected.length} of 16")
      }
    }
  }

  test("versioned ranked index: init + append over doc halves ≡ one-shot ranked build") {
    val oneShot = java.nio.file.Files.createTempDirectory("graft-ranked-1s").toString
    val inc = java.nio.file.Files.createTempDirectory("graft-ranked-inc").toString
    Search.writeRankedIndex(corpus, oneShot, buckets = 8)
    Search.initRankedIndex(corpus.filter(col("doc_id") % 2 === 0), inc, buckets = 8)
    Search.appendToRankedIndex(corpus.filter(col("doc_id") % 2 === 1), inc, buckets = 8)
    val terms = Seq("spark", "window")
    val one = Search.searchRanked(spark, oneShot, terms, k = 10, buckets = 8)
      .orderBy("doc_id").collect().toSeq
    val merged = Search.searchRankedIndexed(spark, inc, terms, k = 10, buckets = 8)
      .orderBy("doc_id").collect().toSeq
    assert(one == merged, "incremental ranked serve must match the one-shot build bit-for-bit")
  }

  test("versioned stores: an empty append between batches serves ≡ one-shot build") {
    val none = corpus.filter(lit(false))
    val (evens, odds) = (corpus.filter(col("doc_id") % 2 === 0), corpus.filter(col("doc_id") % 2 === 1))
    val oneShot = java.nio.file.Files.createTempDirectory("graft-search-e1s").toString
    val inc = java.nio.file.Files.createTempDirectory("graft-search-einc").toString
    Search.writeIndex(corpus, oneShot, buckets = 8)
    Search.initIndex(evens, inc, buckets = 8)
    Search.appendToIndex(none, inc, buckets = 8)
    Search.appendToIndex(odds, inc, buckets = 8)
    for (terms <- Seq(Seq("spark"), Seq("spark", "window", "merge"))) {
      val a = Search.searchAll(spark, oneShot, terms, buckets = 8)
        .orderBy("doc_id").collect().toSeq
      val b = Search.searchAllIndexed(spark, inc, terms, buckets = 8)
        .orderBy("doc_id").collect().toSeq
      assert(a == b, s"terms=$terms")
    }
    val rOneShot = java.nio.file.Files.createTempDirectory("graft-ranked-e1s").toString
    val rInc = java.nio.file.Files.createTempDirectory("graft-ranked-einc").toString
    Search.writeRankedIndex(corpus, rOneShot, buckets = 8)
    Search.initRankedIndex(evens, rInc, buckets = 8)
    Search.appendToRankedIndex(none, rInc, buckets = 8)
    Search.appendToRankedIndex(odds, rInc, buckets = 8)
    val terms = Seq("spark", "window")
    val one = Search.searchRanked(spark, rOneShot, terms, k = 10, buckets = 8)
      .orderBy("doc_id").collect().toSeq
    val merged = Search.searchRankedIndexed(spark, rInc, terms, k = 10, buckets = 8)
      .orderBy("doc_id").collect().toSeq
    assert(one == merged)
    // an empty version alone still carries a schema the serve can read
    val onlyEmpty = java.nio.file.Files.createTempDirectory("graft-search-eonly").toString
    Search.initIndex(none, onlyEmpty, buckets = 8)
    assert(Search.searchAllIndexed(spark, onlyEmpty, Seq("spark"), buckets = 8).isEmpty)
    // the one-shot ranked build of an empty corpus writes zero stats, not an NPE
    val rEmpty = java.nio.file.Files.createTempDirectory("graft-ranked-empty").toString
    Search.writeRankedIndex(none, rEmpty, buckets = 8)
  }

  test("versioned stores: flat sorted files per version, ONE filtered scan per serve") {
    withConf("spark.sql.adaptive.enabled", "false") {
      val inc = java.nio.file.Files.createTempDirectory("graft-search-flat").toString
      val rInc = java.nio.file.Files.createTempDirectory("graft-ranked-flat").toString
      val batches = Seq(1L, 2L, 3L).map(r => corpus.filter(col("doc_id") % 3 === r % 3))
      Search.initIndex(batches.head, inc, buckets = 16)
      Search.initRankedIndex(batches.head, rInc, buckets = 16)
      batches.tail.foreach { b =>
        Search.appendToIndex(b, inc, buckets = 16)
        Search.appendToRankedIndex(b, rInc, buckets = 16)
      }
      for (root <- Seq(inc, rInc)) {
        val versionDirs = new java.io.File(root).listFiles()
          .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        assert(versionDirs.length == 3, s"$root: ${versionDirs.map(_.getName).toSeq}")
        versionDirs.foreach { v =>
          val subdirs = new java.io.File(v, "postings").listFiles().filter(_.isDirectory)
          assert(!subdirs.exists(_.getName.startsWith("bucket=")),
            s"$v/postings has bucket directories: ${subdirs.map(_.getName).toSeq}")
        }
      }
      val served = Seq(
        Search.searchAllIndexed(spark, inc, Seq("spark", "merge"), buckets = 16),
        Search.searchRankedIndexed(spark, rInc, Seq("spark", "merge"), k = 10, buckets = 16))
      served.foreach { df =>
        df.collect()
        val plan = df.queryExecution.executedPlan
        val scans = plan.collect { case s: FileSourceScanExec => s }
        assert(scans.length == 1, s"expected one file scan, got ${scans.length}:\n$plan")
        assert(plan.collect { case u: UnionExec => u }.isEmpty, s"union in serve plan:\n$plan")
        val filters = scans.head.dataFilters.map(_.toString)
        assert(filters.exists(_.contains("bucket")) && filters.exists(_.contains("term")),
          s"bucket/term filters not on the scan: $filters")
      }
    }
  }

  test("searchRankedIndexed fails fast on a version without the stats sidecar") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ranked-nost").toString
    Search.initIndex(corpus, idx, buckets = 8) // conjunctive init: no STATS
    intercept[RuntimeException] {
      Search.searchRankedIndexed(spark, idx, Seq("spark"), k = 5, buckets = 8)
    }
  }

  test("searchRanked fails fast on a store without the stats sidecar") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ranked-ns").toString
    Search.writeIndex(corpus, idx, buckets = 8)
    intercept[RuntimeException] {
      Search.searchRanked(spark, idx, Seq("spark"), k = 5, buckets = 8)
    }
  }

  test("writeIndex overwrite is idempotent: rebuild serves identical results") {
    val idx = java.nio.file.Files.createTempDirectory("graft-search").toString
    Search.writeIndex(corpus, idx, buckets = 8)
    val first = Search.searchAll(spark, idx, Seq("spark"), buckets = 8)
      .orderBy("doc_id").collect().toSeq
    Search.writeIndex(corpus, idx, buckets = 8)
    val second = Search.searchAll(spark, idx, Seq("spark"), buckets = 8)
      .orderBy("doc_id").collect().toSeq
    assert(first == second)
  }
}
