package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-10 continuation operators: exact sparse-Jaccard pair join (d11),
  * unigram-LM surprisal scoring (x16), temperature-resampled language
  * mix (p04).
  */
class Round10cOpsSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------- exactJaccardPairs

  /** Planted corpus: {1, 2} differ by one word (high Jaccard), {3} shares a
    * few shingles with 1 (low Jaccard), {4} is disjoint.
    */
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy cat again and again"),
    (3L, "the quick brown fox went home early yesterday evening quietly alone"),
    (4L, "completely different text with no overlap whatsoever in any shingle")
  ).toDF("doc_id", "text")

  test("exactJaccardPairs finds exactly the pairs over threshold, with exact scores") {
    val out = Dedup.exactJaccardPairs(docs, threshold = 0.5)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect()
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)), "only the planted near-pair")
    // 12 tokens → 10 distinct 3-shingles each; one word differs at position
    // 9 (0-based 8), breaking shingles starting at 6, 7, 8 → 7 shared
    val j = out.head._3
    assert(j == 7.0 / 13.0, s"exact Jaccard 7/(10+10-7), got $j")
  }

  test("exactJaccardPairs agrees with the LSH path on every verified pair") {
    // the gold path and the banded-LSH path must produce the identical pair
    // set + scores at the d02 operating point on a corpus where LSH recall
    // is ~certain (near-identical docs)
    val lsh = Dedup.nearDupPairs(docs, threshold = 0.5)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
    val exact = Dedup.exactJaccardPairs(docs, threshold = 0.5)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
    assert(lsh == exact)
  }

  test("exactJaccardPairs is partition-layout independent") {
    val a = Dedup.exactJaccardPairs(docs.repartition(1), threshold = 0.5)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
    val b = Dedup.exactJaccardPairs(docs.repartition(7), threshold = 0.5)
      .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
    assert(a == b)
  }

  // ------------------------------------------------------ unigramSurprisal

  test("unigramSurprisal scores rare-token documents above common-token ones") {
    val corpus = Seq(
      (1L, "common common common common"),
      (2L, "common common common common"),
      (3L, "rare words appear here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(corpus)
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), "one row per doc")
    assert(out.forall(_._2 == 4L), "token counts")
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(byId(1L) == byId(2L), "identical docs score identically")
    assert(byId(3L) > byId(1L), "hapax-token doc has higher surprisal")
    // doc 3: four tokens each appearing once in 12 total → ln(12) each
    assert(math.abs(byId(3L) - math.log(12.0)) < 1e-3)
    // doc 1: 'common' appears 8 times in 12 → ln(12/8)
    assert(math.abs(byId(1L) - math.log(1.5)) < 1e-3)
  }

  test("unigramSurprisal is partition-layout independent (decimal-quantized sums)") {
    val corpus = (1L to 200L).map(i =>
      (i, s"tok${i % 17} tok${i % 5} tok${i % 29} filler word number $i"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.unigramSurprisal(corpus.repartition(1))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    val b = TextAnalysis.unigramSurprisal(corpus.repartition(13))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("unigramSurprisalWith scans a stored model once and scores as the fused form") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val corpus = (1L to 60L).map(i => (i, s"tok${i % 7} tok${i % 3} word $i"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft-uni-once").toString
    graft.operators.CountStore.write(TextAnalysis.unigramCounts(corpus), store)
    graft.operators.CountStore.append(TextAnalysis.unigramCounts(corpus.limit(0)), store)
    val df = TextAnalysis.unigramSurprisalWith(corpus, graft.operators.CountStore.read(spark, store))
    val got = df.collect().sortBy(_.getLong(0)).toSeq
    assert(got == TextAnalysis.unigramSurprisal(corpus).orderBy("doc_id").collect().toSeq)
    // the executed plan's scans; a reused exchange is a leaf, so a model
    // shared by reuse counts once
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case _ => p.children.flatMap(scans)
    }
    val storeScans = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(store)))
    assert(storeScans.size == 1, s"the model store was scanned ${storeScans.size} times")
  }

  // -------------------------------------------------------- temperatureMix

  /** Skewed bilingual corpus: many English docs, few Spanish. */
  private def langCorpus = {
    val en = (1L to 90L).map(i => (i, "the quick fox and the lazy dog of the day"))
    val es = (101L to 110L).map(i => (i, "el perro y el gato de la casa en la calle"))
    (en ++ es).toDF("doc_id", "text")
  }

  test("temperatureMix keeps low-resource languages whole and thins dominant ones") {
    val n = langCorpus.count()
    // budget below the corpus: es (110 tokens, target ≈111) keeps everything
    // (rate 1), en (900 tokens, target ≈209) must thin
    val out = Sampling.temperatureMix(langCorpus, alpha = 0.3, budgetTokens = 320L)
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang.getOrElse("es", 0L) == 10L, "under-budget language passes whole")
    assert(byLang.getOrElse("en", 0L) > 0L && byLang("en") < 90L, "dominant language thinned")
    assert(out.count() < n)
    // flattening: the kept en:es TOKEN ratio must sit far below the 9:1 corpus
    // ratio (alpha=0.3 pushes weights toward uniform)
    assert(byLang("en").toDouble / byLang("es") < 5.0)
  }

  test("temperatureMix keeps everything when the budget covers the corpus") {
    val out = Sampling.temperatureMix(langCorpus, alpha = 0.3, budgetTokens = 100000L)
    assert(out.count() == langCorpus.count())
    assert(out.select("thresh").distinct().as[String].collect().toSet == Set("g000"))
  }

  test("temperatureMix is deterministic across partitionings") {
    val a = Sampling.temperatureMix(langCorpus.repartition(1), alpha = 0.3, budgetTokens = 300L)
      .orderBy("doc_id").collect().toSeq
    val b = Sampling.temperatureMix(langCorpus.repartition(11), alpha = 0.3, budgetTokens = 300L)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("chunk grid invariants hold across random document lengths (bulk property)") {
    val rnd = new scala.util.Random(42)
    val docs = (1L to 300L).map { i =>
      val n = rnd.nextInt(120) + 1
      (i, (0 until n).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val maxT = 16; val over = 4; val stride = maxT - over
    val chunks = TextAnalysis.chunkDocuments(docs, maxT, over)
      .as[(Long, Long, Int, String)].collect()
    val tokCount = docs.select(col("doc_id"), size(split(lower(col("text")), "\\s+")).as("n"))
      .as[(Long, Int)].collect().toMap
    chunks.groupBy(_._1).foreach { case (id, rows) =>
      val n = tokCount(id)
      val expected = math.max(1, math.ceil((n - over).toDouble / stride).toInt)
      assert(rows.length == expected, s"doc $id: ${rows.length} chunks for $n tokens")
      assert(rows.forall(_._3 <= maxT), s"doc $id: oversized chunk")
      // chunk c starts at token c*stride
      rows.foreach { case (_, c, _, text) =>
        assert(text.split(" ").head == s"w${id}_${c * stride}".toLowerCase, s"doc $id chunk $c start")
      }
      // full coverage: distinct tokens across chunks == n
      assert(rows.flatMap(_._4.split(" ")).distinct.length == n, s"doc $id coverage")
    }
  }

  test("epochUpsample copy counts are floor(e) or ceil(e) for every doc (bulk property)") {
    val docs = (1L to 600L).map(i => (i, s"src${i % 6}", "t")).toDF("doc_id", "source", "text")
    val epochs = Map("src0" -> 2.7, "src1" -> 0.4, "src2" -> 1.0, "src3" -> 5.99)
    val out = Sampling.epochUpsample(docs, epochs, defaultEpochs = 1.3)
      .groupBy("doc_id", "source").agg(max("n_copies").as("n"), count(lit(1)).as("rows"))
      .as[(Long, String, Long, Long)].collect()
    val present = out.map(r => (r._1, r._3)).toMap
    (1L to 600L).foreach { id =>
      val e = epochs.getOrElse(s"src${id % 6}", 1.3)
      val n = present.getOrElse(id, 0L)
      assert(n == math.floor(e).toLong || n == math.ceil(e).toLong,
        s"doc $id (e=$e) got $n copies")
    }
    // rows emitted per doc == n_copies exactly
    assert(out.forall(r => r._3 == r._4))
  }

  // ------------------------------------------------------- tfidf keywords

  test("tfidfKeywords surfaces distinctive tokens over ubiquitous ones") {
    val docs = Seq(
      (1L, "common common zebra common common"),
      (2L, "common giraffe common lion common"),
      (3L, "common common common common common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs, k = 2)
      .as[(Long, Int, String, Double)].collect()
    val byDoc = out.groupBy(_._1)
    // 'common' is in every doc (idf = 0); rare tokens win rank 1
    assert(byDoc(1L).minBy(_._2)._3 == "zebra")
    assert(Set("giraffe", "lion").contains(byDoc(2L).minBy(_._2)._3))
    // doc 3 has only the idf-0 token: its top keyword scores exactly 0
    assert(byDoc(3L).minBy(_._2)._4 == 0.0)
    assert(out.forall(_._2 <= 2), "k bound holds")
    // determinism across partitionings (decimal scores, token tie-break)
    val b = TextAnalysis.tfidfKeywords(docs.repartition(5), k = 2)
      .orderBy("doc_id", "kw_rank").collect().toSeq
    assert(TextAnalysis.tfidfKeywords(docs, k = 2)
      .orderBy("doc_id", "kw_rank").collect().toSeq == b)
  }

  // -------------------------------------------------------- daily anomaly

  test("dailyCountAnomalies flags a planted spike day and is flat-series-safe") {
    def ts(day: Int, i: Int) = java.sql.Timestamp.valueOf(
      f"2024-04-$day%02d ${i % 23 + 1}%02d:00:00")
    // 'click': ~10/day for 9 days, 100 on day 5 (spike). 'flat': constant 7.
    val click = (1 to 9).flatMap(d =>
      (1 to (if (d == 5) 100 else 10)).map(i => ("click", ts(d, i))))
    val flat = (1 to 9).flatMap(d => (1 to 7).map(i => ("flat", ts(d, i))))
    val events = (click ++ flat).toDF("event_type", "ts")
    val out = Events.dailyCountAnomalies(events)
      .as[(String, java.sql.Date, Long, java.lang.Double)].collect()
    val spike = out.filter(r => r._1 == "click" && r._2.toString == "2024-04-05").head
    assert(spike._3 == 100L && spike._4 > 2.5, s"spike z ${spike._4}")
    assert(out.filter(r => r._1 == "click" && r._2.toString != "2024-04-05")
      .forall(_._4 < 0), "non-spike days sit below the inflated mean")
    // zero-variance series: z is null (NULLIF guard), not NaN/infinity
    assert(out.filter(_._1 == "flat").forall(_._4 == null))
  }

  // ---------------------------------------------------------- quota sample

  test("quotaSample takes exactly k per group, under-k groups whole, deterministically") {
    val docs = ((1L to 80L).map(i => (i, "big")) ++ (101L to 105L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val out = Sampling.quotaSample(docs, "source", k = 10)
    val bySrc = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("big") == 10L && bySrc("small") == 5L)
    // ranks dense 1..n per group; selection is partition-independent
    val ranks = out.filter(col("source") === "big")
      .select("quota_rank").as[Int].collect().sorted
    assert(ranks.toSeq == (1 to 10))
    val b = Sampling.quotaSample(docs.repartition(7), "source", k = 10)
      .orderBy("doc_id").collect().toSeq
    assert(out.orderBy("doc_id").collect().toSeq == b)
    // the kept set is hash-uniform, not id-prefix biased: not simply 1..10
    val kept = out.filter(col("source") === "big").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq != (1L to 10L).toSeq)
  }

  // -------------------------------------------------------- training order

  test("trainingOrder assigns a dense 1..N permutation in hash order, partition-independent") {
    val docs = (1L to 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = Sampling.trainingOrder(docs.repartition(1))
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    val b = Sampling.trainingOrder(docs.repartition(13))
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(a == b, "position is a pure function of (doc_id, salt)")
    assert(a.map(_._3).sorted == (1L to 500L), "dense 1..N, no gaps or dups")
    // position order IS hash order
    val byPos = a.sortBy(_._3).map(_._2)
    assert(byPos == byPos.sorted, "positions ascend with the hash")
    // a different salt is a different permutation
    val c = Sampling.trainingOrder(docs, salt = "epoch2")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(c.map(_._3) != a.map(_._3))
  }

  // --------------------------------------------------- contrastive triplets

  test("contrastiveTriplets: positives outrank hard negatives, mid-ranks absent") {
    val vecs = (0L until 200L).map { i =>
      val base = Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat)
      (i, base)
    }.toDF("vec_id", "embedding")
    val out = Similarity.contrastiveTriplets(vecs, col("vec_id") % 50 === 0,
      nPos = 2, hardFrom = 10, nNeg = 3)
      .as[(Long, Int, Long, Double, String)].collect()
    val byQuery = out.groupBy(_._1)
    assert(byQuery.keySet == Set(0L, 50L, 100L, 150L))
    byQuery.foreach { case (q, rows) =>
      val pos = rows.filter(_._5 == "positive")
      val neg = rows.filter(_._5 == "hard_negative")
      assert(pos.map(_._2).sorted.toSeq == Seq(1, 2), s"q$q positives ranks")
      assert(neg.map(_._2).sorted.toSeq == Seq(10, 11, 12), s"q$q negative ranks")
      assert(pos.map(_._4).min >= neg.map(_._4).max, s"q$q ordering")
    }
    intercept[IllegalArgumentException] {
      Similarity.contrastiveTriplets(vecs, col("vec_id") === 0L, nPos = 5, hardFrom = 4)
    }
  }

  // -------------------------------------------------------- epoch upsample

  test("epochUpsample repeats floor(e) times plus a deterministic frac(e) bucket") {
    val docs = (1L to 400L).map(i =>
      (i, s"src${i % 4}", "text")).toDF("doc_id", "source", "text")
    val out = Sampling.epochUpsample(docs,
      Map("src0" -> 3.0, "src1" -> 1.5, "src2" -> 0.25), defaultEpochs = 1.0)
    val bySrc = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("src0") == 300L, "integer epochs: exactly 3 copies each")
    // 100 docs at 1.5: 100 base + ~50 extra; hash split is close to fair
    assert(bySrc("src1") >= 130L && bySrc("src1") <= 170L, s"src1 ${bySrc("src1")}")
    // 0.25 downsampling: no base copies, ~25 survive once
    assert(bySrc("src2") >= 10L && bySrc("src2") <= 40L, s"src2 ${bySrc("src2")}")
    assert(bySrc("src3") == 100L, "default factor 1.0 passes whole")
    // copy_idx makes copies distinct rows: (doc_id, copy_idx) unique
    assert(out.select("doc_id", "copy_idx").distinct().count() == out.count())
    // determinism across partitionings
    val b = Sampling.epochUpsample(docs.repartition(7),
      Map("src0" -> 3.0, "src1" -> 1.5, "src2" -> 0.25), defaultEpochs = 1.0)
    assert(out.orderBy("doc_id", "copy_idx").collect().toSeq ==
      b.orderBy("doc_id", "copy_idx").collect().toSeq)
    intercept[IllegalArgumentException] {
      Sampling.epochUpsample(docs, Map("src0" -> -1.0))
    }
  }

  // ------------------------------------------------------------- chunking

  test("chunkDocuments emits the overlap grid: stride starts, shared tokens, short tail") {
    val doc = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(doc, maxTokens = 4, overlapTokens = 1)
      .orderBy("chunk_id").as[(Long, Long, Int, String)].collect()
    // stride 3, starts 0,3,6 while start < 10-1=9 → 0,3,6; chunk 6 covers 7..10
    assert(out.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_._4).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(out.map(_._3).toSeq == Seq(4, 4, 4))
    // consecutive chunks share exactly the overlap token
    assert(out(0)._4.split(" ").last == out(1)._4.split(" ").head)
  }

  test("chunkDocuments: short docs yield one whole chunk; every token is covered") {
    val docs = Seq(
      (1L, "tiny doc"),
      (2L, (1 to 75).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, maxTokens = 32, overlapTokens = 8)
    val one = out.filter(col("doc_id") === 1L).as[(Long, Long, Int, String)].collect()
    assert(one.toSeq == Seq((1L, 0L, 2, "tiny doc")))
    val covered = out.filter(col("doc_id") === 2L)
      .select(explode(split(col("chunk_text"), " ")).as("t")).distinct().count()
    assert(covered == 75, "chunk union covers every token")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(docs, maxTokens = 8, overlapTokens = 8)
    }
  }

  // ------------------------------------------------ rolling distinct users

  test("rollingDistinctUsers counts each user once per trailing window, observed days only") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val events = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(2)), // u1 active days 1+2 (dup event)
      (2L, ts(1)),                           // u2 day 1
      (3L, ts(5))                            // u3 day 5 — gap days 3-4 unobserved
    ).toDF("user_id", "ts")
    val out = Events.rollingDistinctUsers(events, windowDays = 3)
      .orderBy("win_day").as[(java.sql.Date, Long)].collect()
    assert(out.map(_._1.toString).toSeq == Seq("2024-01-01", "2024-01-02", "2024-01-05"),
      "one row per OBSERVED day, no rows for the gap")
    assert(out.map(_._2).toSeq == Seq(2L, 2L, 1L),
      "u1 counted once in day-2's window despite two active days")
  }

  test("rollingDistinctUsers is partition-layout independent and windowDays=1 is daily DAU") {
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-$day%02d $h%02d:00:00")
    val events = (1L to 60L).map(i => (i % 7, ts((i % 5 + 1).toInt, (i % 23 + 1).toInt)))
      .toDF("user_id", "ts")
    val a = Events.rollingDistinctUsers(events.repartition(1), 4)
      .orderBy("win_day").collect().toSeq
    val b = Events.rollingDistinctUsers(events.repartition(9), 4)
      .orderBy("win_day").collect().toSeq
    assert(a == b)
    val dau = Events.rollingDistinctUsers(events, 1).orderBy("win_day")
      .as[(java.sql.Date, Long)].collect()
    val expected = events.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      .groupBy("d").count().orderBy("d").as[(java.sql.Date, Long)].collect()
    assert(dau.toSeq == expected.toSeq)
  }

  test("sketch rolling distinct tracks the exact rollup within HLL error, deterministically") {
    def ts(day: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$day%02d $h%02d:00:00")
    // 500 users, staggered activity over 9 days
    val events = (1L to 3000L).map(i =>
      (i % 500, ts((i % 9 + 1).toInt, (i % 23 + 1).toInt))).toDF("user_id", "ts")
    val exact = Events.rollingDistinctUsers(events, windowDays = 3)
      .orderBy("win_day").as[(java.sql.Date, Long)].collect().toMap
    val approx = Events.rollingDistinctUsersSketch(events, windowDays = 3)
      .orderBy("win_day").as[(java.sql.Date, Double)].collect()
    assert(approx.map(_._1).toSet == exact.keySet, "same observed-day rows")
    approx.foreach { case (d, est) =>
      val ex = exact(d).toDouble
      assert(math.abs(est - ex) / ex <= 0.01, s"$d: est $est vs exact $ex")
    }
    val again = Events.rollingDistinctUsersSketch(events.repartition(11), windowDays = 3)
      .orderBy("win_day").as[(java.sql.Date, Double)].collect()
    assert(approx.toSeq == again.toSeq, "sketch estimates are deterministic")
  }

  // --------------------------------------------- contamination fraction

  test("contaminationFraction scores every doc, zeros included, fractions exact") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // identical: fraction 1
      (2L, "alpha beta gamma nothing shared here after that point"),
      (3L, "completely clean document with no benchmark overlap at all")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationFraction(corpus, bench)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), "zero-overlap docs present")
    val byId = out.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byId(1L) == ((4L, 4L, 1.0)), "identical doc fully contaminated")
    // doc 2: 9 tokens → 7 shingles, only 'alpha beta gamma' shared
    assert(byId(2L) == ((7L, 1L, 1.0 / 7.0)))
    assert(byId(3L)._2 == 0L && byId(3L)._3 == 0.0)
  }

  // --------------------------------------------------------- audio decode

  private def sineWav(freqHz: Double, amp: Double, rate: Float, n: Int): Array[Byte] =
    Multimodal.encodeWavPcm16(
      Array.tabulate(n)(i => amp * math.sin(2 * math.Pi * freqHz * i / rate)), rate)

  test("audio decode is real: rate, duration, rms, peak, zcr read from WAV samples") {
    val n = 8000
    val wav = sineWav(freqHz = 440.0, amp = 0.5, rate = 8000f, n = n)
    val a = Asset(1L, "audio/wav", wav.length, wav)
    val f = Multimodal.audioFeatures(Seq(a).toDS()).collect().head
    assert(f.decoded && f.sample_rate == 8000.0 && f.channels == 1)
    assert(f.n_samples == n && math.abs(f.duration_s - 1.0) < 1e-9)
    assert(math.abs(f.rms - 0.5 / math.sqrt(2.0)) < 0.01, s"rms ${f.rms}")
    assert(math.abs(f.peak - 0.5) < 0.01, s"peak ${f.peak}")
    // a 440 Hz sine crosses zero 2·440 times per second
    assert(math.abs(f.zero_cross_rate - 2 * 440.0 / 8000.0) < 0.005, s"zcr ${f.zero_cross_rate}")
  }

  test("audio decode averages channels (stereo anti-phase DC cancels to silence)") {
    // interleaved 16-bit LE stereo: left = +0.5, right = -0.5 constant
    val n = 1000
    val pcm = new Array[Byte](n * 4)
    for (i <- 0 until n) {
      val l = math.round(0.5 * 32767).toInt.toShort
      val r = (-l).toShort
      pcm(4 * i) = (l & 0xFF).toByte; pcm(4 * i + 1) = ((l >> 8) & 0xFF).toByte
      pcm(4 * i + 2) = (r & 0xFF).toByte; pcm(4 * i + 3) = ((r >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val f = Multimodal.audioFeatures(
      Seq(Asset(2L, "audio/wav", out.size(), out.toByteArray)).toDS()).collect().head
    assert(f.decoded && f.channels == 2 && f.n_samples == n)
    assert(f.rms == 0.0 && f.peak == 0.0, "anti-phase channels average to silence")
  }

  test("corrupt audio degrades row-local; decoded audio feeds a 19-value [0,1] vector") {
    val junk = Asset(3L, "audio/wav", 32, Array.tabulate(32)(_.toByte))
    val good = { val w = sineWav(300.0, 0.9, 4000f, 4000); Asset(4L, "audio/wav", w.length, w) }
    val fj = Multimodal.audioFeatures(Seq(junk).toDS()).collect().head
    assert(!fj.decoded && fj.n_samples == 0L && fj.rms == 0.0)
    val feats = Multimodal.extractFeatures(Seq(junk, good).toDS())
      .collect().sortBy(_.asset_id)
    assert(feats(0).features.length == 16, "undecodable audio takes the byte-histogram path")
    assert(feats(1).features.length == 19, "decoded audio takes the signal-feature path")
    assert(feats(1).features.forall(v => v >= 0.0 && v <= 1.0))
    assert(math.abs(feats(1).features(1) - 0.9) < 0.01, "peak in the vector")
  }

  test("temperatureMix rejects out-of-range parameters") {
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(langCorpus, alpha = 0.0, budgetTokens = 100L)
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(langCorpus, alpha = 1.5, budgetTokens = 100L)
    }
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(langCorpus, alpha = 0.3, budgetTokens = 0L)
    }
  }
}
