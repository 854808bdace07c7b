package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 pins: metadata-filtered ANN (s20/s21). The load-bearing
  * claims — the pushed filter is LOSSLESS at full probe depth (cell
  * pruning is the only approximation), and the post-filter design the
  * operator exists to avoid really does collapse for selective
  * predicates — are pinned here; the recall/cost frontier is graded
  * per-round in RECALL (s21 entries, both geometries).
  */
class Round13OpsSpec extends SparkSpec {

  private lazy val embs =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
  private val pred = col("vec_id") % 100 === 0
  private val filt = col("label") === 3

  test("filtered exact: every neighbor satisfies the filter; ranks are dense 1..k per query") {
    // exactness of the ranking itself is the s20 DuckDB oracle's job —
    // this pins the operator contract: filter containment + shape
    val got = Similarity.bruteForceTopKFiltered(embs, pred, filt, k = 10)
      .localCheckpoint(true)
    val bad = got.join(embs.filter(filt).select(col("vec_id").as("neighbor_id")),
      Seq("neighbor_id"), "left_anti").count()
    assert(bad == 0, "a returned neighbor violated the filter")
    val nQ = embs.filter(pred).count()
    assert(got.count() == nQ * 10, "full filtered top-10 per query at sf0.01")
    val perQuery = got.groupBy("query_id")
      .agg(countDistinct("rank").as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .filter(col("n") =!= 10 || col("lo") =!= 1 || col("hi") =!= 10).count()
    assert(perQuery == 0, "ranks must be dense 1..10 per query")
  }

  test("pushed-filter IVF at full probe depth ≡ the exact filtered answer (pruning is the only approximation)") {
    val exact = Similarity.bruteForceTopKFiltered(embs, pred, filt, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val full = Similarity.ivfTopKFiltered(embs, pred, filt, k = 10,
      nProbe = Similarity.IvfCells)
      .orderBy("query_id", "rank").collect().toSeq
    assert(full == exact && exact.nonEmpty,
      "probing every cell must reproduce the exact filtered ranking bit-for-bit")
  }

  test("post-filter foil collapses for a selective predicate; the pushed filter does not") {
    val exact = Similarity.bruteForceTopKFiltered(embs, pred, filt, k = 10)
      .localCheckpoint(true)
    val nQ = embs.filter(pred).count()
    val expect = exact.count()
    assert(expect == nQ * 10, "each query has a full filtered top-10 at sf0.01")
    // post-filter: rank over the UNFILTERED corpus, discard non-matching
    // neighbors afterwards — with a ~1/10-selective label only ~1 of each
    // query's 10 unfiltered neighbors survives, and the discarded true
    // filtered neighbors are unrecoverable
    val foil = Similarity.ivfTopKPostFiltered(embs, pred, filt, k = 10,
      nProbe = Similarity.IvfCells)
    val foilRows = foil.count()
    assert(foilRows < expect / 2,
      s"the foil must lose most of the filtered top-k: kept $foilRows of $expect")
    val foilRecall = Similarity.recallAtK(exact, foil)
    val pushed = Similarity.ivfTopKFiltered(embs, pred, filt, k = 10,
      nProbe = Similarity.IvfCells)
    val pushedRecall = Similarity.recallAtK(exact, pushed)
    assert(pushedRecall == 1.0, s"full-probe pushed filter is exact, got $pushedRecall")
    assert(foilRecall < 0.5,
      s"post-filtering an unfiltered top-k must collapse here, got $foilRecall")
    // every foil survivor does satisfy the filter (it fails by discarding
    // true neighbors, not by leaking wrong ones)
    assert(foil.join(embs.filter(filt).select(col("vec_id").as("neighbor_id")),
      Seq("neighbor_id"), "left_anti").count() == 0)
  }

  test("stored filtered serve (s22): label pushes as a data filter inside the cell-pruned scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    withConf("spark.sql.adaptive.enabled", "false") {
      val idx = java.nio.file.Files.createTempDirectory("graft-filt-idx-spec").toString
      Similarity.writeIvfIndex(embs, idx, metaCols = Seq("label"))
      val df = Similarity.ivfTopKQuantizedFromIndex(
        embs.filter(pred), idx, k = 10, nProbe = Similarity.IvfProbes,
        filter = Some(filt))
      df.collect()
      val scan = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
            if s.output.exists(_.name == "q") => s
      }.headOption.getOrElse(fail("no vectors scan in the serve plan"))
      assert(scan.partitionFilters.nonEmpty,
        "probed-cell pruning must stay a partition filter")
      assert(scan.dataFilters.exists(_.toString.contains("label")),
        "the label predicate must push into the pruned parquet scan")
      // filter containment on the served rows
      assert(df.join(embs.filter(filt).select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_anti").count() == 0)
    }
  }

  test("append column contract: omitting a meta store's metaCols fails fast instead of null-filling") {
    val idx = java.nio.file.Files.createTempDirectory("graft-filt-contract").toString
    val half = embs.filter(col("vec_id") % 2 === 0)
    val rest = embs.filter(col("vec_id") % 2 === 1)
    Similarity.writeIvfIndex(half, idx, metaCols = Seq("label"))
    // an append NOT carrying label would land files the union read
    // null-fills — and a filtered serve would silently drop that
    // generation's rows; the contract check refuses the append
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(rest, idx)
    }
    assert(e.getMessage.contains("column contract"))
    // the correct append lands, and the filtered serve sees BOTH halves
    Similarity.appendToIvfIndex(rest, idx, metaCols = Seq("label"))
    val served = Similarity.ivfTopKQuantizedFromIndex(
      embs.filter(pred), idx, k = 10, nProbe = Similarity.IvfCells,
      filter = Some(filt))
    val nbrs = served.select("neighbor_id").distinct()
    val evenHit = nbrs.filter(col("neighbor_id") % 2 === 0).count()
    val oddHit = nbrs.filter(col("neighbor_id") % 2 === 1).count()
    assert(evenHit > 0 && oddHit > 0,
      "filtered serve must draw neighbors from both appended generations")
  }

  test("stored filtered serve at full probe ≡ unfiltered serve over an index of the filtered corpus") {
    // quantization is per-row (scale from each vector's own max), so the
    // store contents for the filtered rows are IDENTICAL in both indexes;
    // at full probe depth every cell is scanned in both — the only
    // difference is where the filter is applied, so the rankings must
    // match row for row
    val q = embs.filter(pred)
    val withMeta = java.nio.file.Files.createTempDirectory("graft-filt-a").toString
    val preFiltered = java.nio.file.Files.createTempDirectory("graft-filt-b").toString
    Similarity.writeIvfIndex(embs, withMeta, metaCols = Seq("label"))
    Similarity.writeIvfIndex(embs.filter(filt), preFiltered)
    val a = Similarity.ivfTopKQuantizedFromIndex(q, withMeta,
      k = 10, nProbe = Similarity.IvfCells, filter = Some(filt))
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.ivfTopKQuantizedFromIndex(q, preFiltered,
      k = 10, nProbe = Similarity.IvfCells)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b && a.nonEmpty,
      "serve-time filter ≡ build-time filter at full probe depth")
  }
}
