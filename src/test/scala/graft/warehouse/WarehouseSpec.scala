package graft.warehouse

import java.nio.file.Files

import graft.SparkSpec
import graft.llm.Multimodal
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("graft-wh")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("idempotent append: second run of the same data inserts zero rows") {
    val path = tmpDir() + "/fact"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    assert(ParquetWarehouse.appendIdempotent(df, path, "k") == 3)
    assert(ParquetWarehouse.appendIdempotent(df, path, "k") == 0)
    val more = Seq((3L, "c"), (4L, "d")).toDF("k", "v")
    assert(ParquetWarehouse.appendIdempotent(more, path, "k") == 1)
    assert(spark.read.parquet(path).count() == 4)
  }

  test("idempotent append: nothing new leaves the table's file set unchanged") {
    val path = tmpDir() + "/fact"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val empty = df.filter(lit(false))
    // a first append with no rows creates no table
    assert(ParquetWarehouse.appendIdempotent(empty, path, "k") == 0)
    assert(!new java.io.File(path).exists())
    assert(ParquetWarehouse.appendIdempotent(df, path, "k") == 3)
    def files(): Set[String] = new java.io.File(path).list().toSet
    def rows(): Set[(Long, String)] = spark.read.parquet(path).as[(Long, String)].collect().toSet
    val (files0, rows0) = (files(), rows())
    assert(files0.exists(_.endsWith(".parquet")) && rows0.size == 3)
    // the retry case: an all-duplicate append, then an empty-frame append
    assert(ParquetWarehouse.appendIdempotent(df, path, "k") == 0)
    assert(files() == files0 && rows() == rows0)
    assert(ParquetWarehouse.appendIdempotent(empty, path, "k") == 0)
    assert(files() == files0 && rows() == rows0)
    // a partly new batch appends exactly its new rows, and no staging dir stays
    assert(ParquetWarehouse.appendIdempotent(
      Seq((3L, "c"), (4L, "d")).toDF("k", "v"), path, "k") == 1)
    assert(rows() == rows0 + ((4L, "d")))
    assert(!files().exists(_.startsWith("_staging")))
  }

  test("snapshot publish is versioned and atomic; pre-flight validates layout") {
    val root = tmpDir()
    val t1 = Seq((1, "x")).toDF("k", "v")
    val v1 = ParquetWarehouse.publishSnapshot(root, Map("dim" -> t1, "fact" -> t1))
    assert(v1 == "v1")
    assert(ParquetWarehouse.readTable(spark, root, "dim").count() == 1)
    val t2 = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val v2 = ParquetWarehouse.publishSnapshot(root, Map("dim" -> t2, "fact" -> t2))
    assert(v2 == "v2")
    assert(ParquetWarehouse.readTable(spark, root, "fact").count() == 2)
    val pf = ParquetWarehouse.preFlight(spark, root, Seq("dim", "fact"))
    assert(pf.ok && pf.rowCounts == Map("dim" -> 2L, "fact" -> 2L))
    val bad = ParquetWarehouse.preFlight(spark, root, Seq("dim", "missing_table"))
    assert(!bad.ok && bad.problems.exists(_.contains("missing_table")))
  }

  test("upsert: updates replace, inserts append, old version time-travels") {
    val root = tmpDir()
    val v1Data = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "v", "amt")
    ParquetWarehouse.publishSnapshot(root, Map("t" -> v1Data))
    val updates = Seq((2L, "B2", 99.0), (4L, "d", 40.0)).toDF("k", "v", "amt")
    val v2 = ParquetWarehouse.upsertSnapshot(root, "t", updates, "k")
    assert(v2 == "v2")
    val cur = ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(cur == Seq((1L, "a", 10.0), (2L, "B2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // time travel: v1 files untouched
    val old = spark.read.parquet(s"$root/v1/t")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(old == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("upsert: duplicate update keys fail fast; first upsert bootstraps") {
    val root = tmpDir()
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      ParquetWarehouse.upsertSnapshot(root, "t", dup, "k")
    }
    val first = Seq((1L, "a")).toDF("k", "v")
    assert(ParquetWarehouse.upsertSnapshot(root, "t", first, "k") == "v1")
    assert(ParquetWarehouse.readTable(spark, root, "t").count() == 1)
  }

  test("merge-on-read delete: tombstones only, base untouched, cumulative reads") {
    val root = tmpDir()
    val data = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v")
    val dim = Seq((10L, "x")).toDF("dk", "dv")
    ParquetWarehouse.publishSnapshot(root, Map("t" -> data, "dim" -> dim))
    val v2 = ParquetWarehouse.deleteFromSnapshot(
      root, "t", Seq(2L, 4L, 999L).toDF("k"), "k")
    assert(v2 == "v2")
    // the delete wrote NO data files: v2 holds a base pointer + tombstones
    assert(!AtomicPointer.exists(s"$root/v2/t"))
    assert(AtomicPointer.read(s"$root/v2/t.base").map(_.trim).contains("v1"))
    assert(AtomicPointer.exists(s"$root/v2/t.deletes"))
    // absent key 999 is a no-op; present keys are gone
    assert(ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c"), (5L, "e")))
    // the other table carried forward as metadata and still reads
    assert(ParquetWarehouse.readTable(spark, root, "dim").count() == 1)
    // second round is CUMULATIVE across versions
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(1L).toDF("k"), "k")
    assert(ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((3L, "c"), (5L, "e")))
    // v1 base files never rewritten: the raw dir still has all 5 rows
    assert(spark.read.parquet(s"$root/v1/t").count() == 5)
    // pre-flight sees the carried tables and the post-delete counts
    val pf = ParquetWarehouse.preFlight(spark, root, Seq("t", "dim"))
    assert(pf.ok && pf.rowCounts == Map("t" -> 2L, "dim" -> 1L))
    // key-column consistency is enforced across delete rounds
    intercept[IllegalArgumentException] {
      ParquetWarehouse.deleteFromSnapshot(root, "t", Seq("zz").toDF("v"), "v")
    }
  }

  test("merge-on-read composes with upsert; compaction folds; vacuum reclaims") {
    val root = tmpDir()
    val data = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("k", "amt")
    ParquetWarehouse.publishSnapshot(root, Map("t" -> data))
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(2L).toDF("k"), "k")
    // upsert over the tombstoned version merges against the POST-delete
    // view and rewrites plain: key 2 stays deleted, 3 updates, 5 inserts
    val v3 = ParquetWarehouse.upsertSnapshot(
      root, "t", Seq((3L, 99.0), (5L, 50.0)).toDF("k", "amt"), "k")
    assert(v3 == "v3")
    assert(AtomicPointer.exists(s"$root/v3/t"))
    assert(!AtomicPointer.exists(s"$root/v3/t.deletes"))
    assert(ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (3L, 99.0), (4L, 40.0), (5L, 50.0)))
    // a fresh delete era, then compaction: same rows before and after,
    // compacted version is a plain data dir with no tombstones
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(4L).toDF("k"), "k")
    val before = ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").as[(Long, Double)].collect().toSeq
    val v5 = ParquetWarehouse.compactSnapshotDeletes(spark, root, "t")
    assert(v5 == "v5")
    assert(AtomicPointer.exists(s"$root/v5/t") &&
      !AtomicPointer.exists(s"$root/v5/t.deletes"))
    assert(ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").as[(Long, Double)].collect().toSeq == before)
    // vacuum while v4's base pointer is live spares the base; after
    // compaction the history (v1-v4) is unreachable and reclaimed
    val removed = ParquetWarehouse.vacuumSnapshots(root)
    assert(removed == 4, s"expected v1-v4 reclaimed, removed $removed")
    assert(!AtomicPointer.exists(s"$root/v1") && AtomicPointer.exists(s"$root/v5"))
    assert(ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").as[(Long, Double)].collect().toSeq == before)
  }

  test("time travel: readTableAt reproduces each version's exact state") {
    val root = tmpDir()
    ParquetWarehouse.publishSnapshot(root,
      Map("t" -> Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "amt")))
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(2L).toDF("k"), "k") // v2
    ParquetWarehouse.upsertSnapshot(root, "t",
      Seq((3L, 99.0)).toDF("k", "amt"), "k")                              // v3
    def at(v: String) = ParquetWarehouse.readTableAt(spark, root, "t", v)
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(at("v1") == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(at("v2") == Seq((1L, 10.0), (3L, 30.0)), "v2 must replay its tombstones")
    assert(at("v3") == Seq((1L, 10.0), (3L, 99.0)))
    intercept[IllegalArgumentException] {
      ParquetWarehouse.readTableAt(spark, root, "t", "v9")
    }
  }

  test("snapshot diff labels added, removed, and changed keys; identity diff is empty") {
    val root = tmpDir()
    ParquetWarehouse.publishSnapshot(root,
      Map("t" -> Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "amt")))
    ParquetWarehouse.upsertSnapshot(root, "t",
      Seq((2L, 99.0), (4L, 40.0)).toDF("k", "amt"), "k")   // change 2, add 4
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(3L).toDF("k"), "k") // remove 3
    val d = ParquetWarehouse.snapshotDiff(spark, root, "t", "v1", "v3", "k")
      .select(col("k"), col("change"),
        col("old_row.amt").as("o"), col("new_row.amt").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(d == Set(
      (2L, "changed", Some(20.0), Some(99.0)),
      (3L, "removed", Some(30.0), None),
      (4L, "added", None, Some(40.0))))
    // diffing a version against itself reports nothing
    assert(ParquetWarehouse.snapshotDiff(spark, root, "t", "v3", "v3", "k").isEmpty)
  }

  test("partition-scoped upsert rewrites only touched partition dirs") {
    val path = tmpDir() + "/t"
    val base = Seq(
      (1L, 2024, 1, 10.0), (2L, 2024, 1, 20.0),
      (3L, 2024, 2, 30.0), (4L, 2024, 3, 40.0))
      .toDF("k", "y", "m", "amt")
    base.write.partitionBy("y", "m").parquet(path)
    def filesOf(sub: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$path/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val m2Before = filesOf("y=2024/m=2")
    val m3Before = filesOf("y=2024/m=3")
    // update one row in month 1, insert a new key into month 1
    val updates = Seq((2L, 2024, 1, 99.0), (5L, 2024, 1, 50.0))
      .toDF("k", "y", "m", "amt")
    val n = ParquetWarehouse.upsertPartitioned(
      spark, path, updates, "k", Seq("y", "m"))
    assert(n == 1, s"one touched partition expected, got $n")
    // merged content is right
    assert(spark.read.parquet(path).orderBy("k")
      .select("k", "amt").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0), (5L, 50.0)))
    // the untouched months' files were never rewritten (names + mtimes)
    assert(filesOf("y=2024/m=2") == m2Before, "month 2 files rewritten")
    assert(filesOf("y=2024/m=3") == m3Before, "month 3 files rewritten")
    // an update landing in a NEW partition just creates its directory
    val n2 = ParquetWarehouse.upsertPartitioned(
      spark, path, Seq((6L, 2024, 4, 60.0)).toDF("k", "y", "m", "amt"),
      "k", Seq("y", "m"))
    assert(n2 == 1 && spark.read.parquet(path).count() == 6)
    // duplicate update keys fail fast, as in the whole-table merge
    intercept[IllegalArgumentException] {
      ParquetWarehouse.upsertPartitioned(spark, path,
        Seq((7L, 2024, 5, 1.0), (7L, 2024, 5, 2.0)).toDF("k", "y", "m", "amt"),
        "k", Seq("y", "m"))
    }
  }

  test("merge-on-read read path: tombstone anti-join broadcasts the delete side") {
    val root = tmpDir()
    val data = (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v")
    ParquetWarehouse.publishSnapshot(root, Map("t" -> data))
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(7L, 13L).toDF("k"), "k")
    val df = ParquetWarehouse.readTable(spark, root, "t")
    assert(df.count() == 498)
    val plan = df.queryExecution.executedPlan.toString
    // the table side must NOT shuffle to subtract a handful of tombstones
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone subtraction must be a broadcast anti-join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"base table shuffled for a tombstone-sized delete set:\n$plan")
  }

  test("vacuum spares versions reachable through live base pointers") {
    val root = tmpDir()
    ParquetWarehouse.publishSnapshot(root, Map("t" -> Seq((1L, "a")).toDF("k", "v")))
    ParquetWarehouse.publishSnapshot(root, Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("k", "v")))
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(1L).toDF("k"), "k")
    // v3 (current) points at v2 as base; v1 is dead history
    assert(ParquetWarehouse.vacuumSnapshots(root) == 1)
    assert(AtomicPointer.exists(s"$root/v2") && !AtomicPointer.exists(s"$root/v1"))
    assert(ParquetWarehouse.readTable(spark, root, "t")
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("pre-flight fails cleanly with no published snapshot") {
    val pf = ParquetWarehouse.preFlight(spark, tmpDir(), Seq("dim"))
    assert(!pf.ok)
  }

  test("star integrity: a freshly built star passes every check; corruption is caught") {
    import graft.etl.{DirtyTxns, TxnPipeline}
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val star = TxnPipeline.buildStar(DirtyTxns(orders)) - "valid"
    val results = StarIntegrity.checks(star)
    assert(results.forall(_._2 == 0L), s"violations: ${results.filter(_._2 != 0)}")
    // corrupt: drop half the user dim → orphan_user fires
    val corrupted = star + ("dim_user" -> star("dim_user").filter(col("user_key") % 2 === 0))
    val bad = StarIntegrity.checks(corrupted).toMap
    assert(bad("orphan_user") > 0)
    assert(!StarIntegrity.allClean(corrupted))
  }

  test("checksFused ≡ checks on a clean star and on every planted violation class") {
    import graft.etl.{DirtyTxns, TxnPipeline}
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val star = TxnPipeline.buildStar(DirtyTxns(orders)) - "valid"
    assert(StarIntegrity.checksFused(star) === StarIntegrity.checks(star))
    val fact = star("fact_transactions")
    val corruptions = Seq[(String, Map[String, org.apache.spark.sql.DataFrame])](
      // orphan: drop half a dim
      "orphan_user" -> (star + ("dim_user" ->
        star("dim_user").filter(col("user_key") % 2 === 0))),
      // duplicate ids AND keys: double a slice of the fact
      "duplicate_transaction_ids" -> (star + ("fact_transactions" ->
        fact.unionByName(fact.filter(col("transaction_key") % 10 === 0)))),
      // nulls + range: poison amount on a slice
      "amount_out_of_range" -> (star + ("fact_transactions" ->
        fact.withColumn("amount",
          when(col("transaction_key") % 7 === 0, lit(-1.0))
            .when(col("transaction_key") % 7 === 1, lit(null))
            .otherwise(col("amount"))))),
      // dim natural-key dupes
      "dim_natural_key_dupes" -> (star + ("dim_category" ->
        star("dim_category").unionByName(star("dim_category").limit(2)))))
    corruptions.foreach { case (expected, corrupted) =>
      val slow = StarIntegrity.checks(corrupted)
      val fast = StarIntegrity.checksFused(corrupted)
      assert(fast === slow, s"fused diverged on $expected")
      assert(slow.toMap.apply(expected) > 0, s"$expected violation did not plant")
    }
  }

  test("date-partitioned fact: a one-month query prunes to matching partition dirs") {
    import graft.etl.{DirtyTxns, TxnPipeline}
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val star = TxnPipeline.buildStar(DirtyTxns(orders))
    val path = tmpDir() + "/fact_by_month"
    ParquetWarehouse.writeFactPartitioned(
      star("fact_transactions"), star("dim_date"), path)
    val oneMonth = spark.read.parquet(path)
      .filter(col("year") === 1996 && col("month") === 5)
    val plan = oneMonth.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters in:\n$plan")
    // partition predicates must be handled at listing time, NOT as data filters
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("year") && scanLine.contains("month"))
    // and the pruned read returns exactly the month's rows
    val expected = spark.read.parquet(path)
      .filter(col("year") === 1996 && col("month") === 5).count()
    assert(oneMonth.count() == expected && expected > 0)
  }

  test("day-partitioned event store: a one-day query prunes to the day's directory (e09)") {
    val events = graft.Tables.microsTs(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
    val path = tmpDir() + "/events_by_day"
    ParquetWarehouse.writeEventsPartitioned(events, path)
    val oneDay = spark.read.parquet(path)
      .filter(col("event_date") === lit(java.sql.Date.valueOf("2024-01-10")))
    val plan = oneDay.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("event_date")), s"no event_date partition filter in:\n$plan")
    // round-trip completeness: the partitioned store holds every event once
    assert(spark.read.parquet(path).count() == events.count())
    assert(oneDay.count() > 0)
  }

  test("date-partitioned fact: an oversized month splits across files, small months stay single-file") {
    import spark.implicits._
    // one hot month (wide rows, far beyond the advisory size) and one cold
    // month — the write must scatter the hot month over several tasks
    // (VERDICT r7 #4) while the cold month stays one contiguous file
    val dimDate = Seq((1L, 1996, 5), (2L, 1996, 6)).toDF("date_key", "year", "month")
    val pad = "x" * 200
    val fact = spark.range(20000)
      .select(when(col("id") < 19990, lit(1L)).otherwise(lit(2L)).as("date_key"),
        col("id").as("txn_id"), concat(lit(pad), col("id")).as("payload"))
    val path = tmpDir() + "/fact_skewed_month"
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB") {
      ParquetWarehouse.writeFactPartitioned(fact, dimDate, path)
    }
    def files(dir: String): Seq[String] = {
      val d = new java.io.File(dir)
      assert(d.isDirectory, s"missing partition dir $dir")
      d.listFiles().map(_.getName).filter(n => n.endsWith(".parquet")).toSeq
    }
    val hot = files(s"$path/year=1996/month=5")
    val cold = files(s"$path/year=1996/month=6")
    assert(hot.size >= 2, s"oversized month must split across writers, got ${hot.size} file(s)")
    assert(cold.size == 1, s"small month must stay one contiguous file, got ${cold.size}")
    // and the layout change loses no rows
    assert(spark.read.parquet(path).count() == 20000)
  }

  test("bucketed fact: aggregation and self-join on the bucket key plan with NO exchange") {
    import graft.etl.{DirtyTxns, TxnPipeline}
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val fact = TxnPipeline.buildStar(DirtyTxns(orders))("fact_transactions")
    ParquetWarehouse.writeFactBucketed(fact, "fact_bucketed_test", "user_key", nBuckets = 8)
    val t = spark.table("fact_bucketed_test")
    // per-user aggregation: bucketed layout satisfies the required
    // distribution — no shuffle
    val agg = t.groupBy("user_key").agg(sum("amount").as("total"))
    agg.collect()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange hashpartitioning"),
      s"bucketed groupBy must not shuffle:\n$aggPlan")
    // self-join on the bucket key: both sides pre-shuffled — no exchange
    val joined = t.select(col("user_key"), col("amount"))
      .join(t.select(col("user_key"), col("amount").as("amount2")), Seq("user_key"))
    joined.collect()
    val joinPlan = joined.queryExecution.executedPlan.toString
    assert(!joinPlan.contains("Exchange hashpartitioning"),
      s"bucketed self-join must not shuffle:\n$joinPlan")
    // contrast: the same aggregation on the unbucketed frame DOES shuffle
    val unbucketed = fact.groupBy("user_key").agg(sum("amount").as("total"))
    assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"),
      "unbucketed groupBy should need an exchange — contrast case")
  }

  test("multimodal: feature extraction is deterministic, features are unit-mass histograms") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val feats = Multimodal.extractFeatures(Multimodal.syntheticAssets(docs)).collect()
    assert(feats.length == 50)
    feats.foreach { f =>
      assert(f.features.length == 16)
      assert(math.abs(f.features.sum - 1.0) < 1e-9, "histogram sums to 1")
      assert(f.checksum.length == 32)
    }
    // deterministic across runs
    val again = Multimodal.extractFeatures(Multimodal.syntheticAssets(docs)).collect()
    assert(feats.sortBy(_.asset_id).map(_.checksum).toSeq ==
      again.sortBy(_.asset_id).map(_.checksum).toSeq)
  }

  test("multimodal: resize block-averages the payload and updates metadata") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    val assets = Multimodal.syntheticAssets(docs)
    val resized = Multimodal.resize(assets, factor = 4).collect()
    val original = assets.collect().map(a => a.asset_id -> a).toMap
    resized.foreach { r =>
      val o = original(r.asset_id)
      assert(r.n_bytes == (o.n_bytes + 3) / 4, "payload shrinks by the factor (ceil)")
      assert(r.n_bytes == r.payload.length, "metadata tracks the new payload")
      // first output byte is the mean of the first 4 input bytes
      val expected = (o.payload.take(4).map(_ & 0xFF).sum / math.min(4, o.payload.length)).toByte
      assert(r.payload.head == expected)
    }
    // deterministic
    val again = Multimodal.resize(assets, factor = 4).collect()
    assert(resized.sortBy(_.asset_id).map(_.payload.toSeq).toSeq ==
      again.sortBy(_.asset_id).map(_.payload.toSeq).toSeq)
  }

  test("publishAudited: failing audit never swaps the pointer; staged dir survives") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wap-spec").toString
    val good = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val r1 = ParquetWarehouse.publishAudited(root, Map("t" -> good),
      s => s("t").filter(col("v") <= 0).isEmpty)
    assert(r1 === Right("v1"))
    assert(ParquetWarehouse.currentVersion(root).contains("v1"))
    // bad batch: audit rejects, pointer stays, staged v2 remains on disk
    val bad = Seq((3L, -5.0)).toDF("k", "v")
    val r2 = ParquetWarehouse.publishAudited(root, Map("t" -> bad),
      s => s("t").filter(col("v") <= 0).isEmpty)
    assert(r2 === Left("v2"))
    assert(ParquetWarehouse.currentVersion(root).contains("v1"))
    assert(new java.io.File(s"$root/v2/t").exists, "staged dir kept for inspection")
    assert(ParquetWarehouse.readTable(spark, root, "t").count() === 2)
    // a later clean batch publishes as v3: the failed v2 stage keeps its
    // number and files (never overwritten)
    val r3 = ParquetWarehouse.publishAudited(root, Map("t" -> good),
      s => s("t").filter(col("v") <= 0).isEmpty)
    assert(r3 === Right("v3"))
    assert(ParquetWarehouse.currentVersion(root).contains("v3"))
    assert(spark.read.parquet(s"$root/v2/t").count() === 1, "failed stage intact")
  }

  test("every snapshot mutator skips a failed-audit staged dir (ADVICE r11)") {
    import spark.implicits._
    // a failed publishAudited leaves its UNAUDITED stage at cur+1; the
    // next mutation must allocate past it — staging into it would both
    // publish the failed attempt's tables and clobber the evidence
    val good = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val poisoned = Map("t" -> Seq((3L, -5.0)).toDF("k", "v"),
      "smuggled" -> Seq((99L, 1.0)).toDF("k", "v"))
    def failStage(root: String): Unit = {
      assert(ParquetWarehouse.publishAudited(root, poisoned, _ => false) === Left("v2"))
      assert(ParquetWarehouse.currentVersion(root).contains("v1"))
    }
    def assertClean(root: String, v: String): Unit = {
      assert(ParquetWarehouse.currentVersion(root).contains(v))
      assert(!new java.io.File(s"$root/$v/smuggled").exists,
        "failed stage's unaudited table leaked into the published snapshot")
      assert(spark.read.parquet(s"$root/v2/t").count() === 1, "failed-stage evidence clobbered")
    }
    locally { // deleteFromSnapshot
      val root = tmpDir()
      ParquetWarehouse.publishSnapshot(root, Map("t" -> good)); failStage(root)
      ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(1L).toDF("k"), "k")
      assertClean(root, "v3")
      assert(ParquetWarehouse.readTable(spark, root, "t").count() === 1)
    }
    locally { // upsertSnapshot
      val root = tmpDir()
      ParquetWarehouse.publishSnapshot(root, Map("t" -> good)); failStage(root)
      ParquetWarehouse.upsertSnapshot(root, "t", Seq((2L, 99.0)).toDF("k", "v"), "k")
      assertClean(root, "v3")
    }
    locally { // compactSnapshotDeletes
      val root = tmpDir()
      ParquetWarehouse.publishSnapshot(root, Map("t" -> good)); failStage(root)
      ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(1L).toDF("k"), "k") // v3
      ParquetWarehouse.compactSnapshotDeletes(spark, root, "t")
      assertClean(root, "v4")
      assert(ParquetWarehouse.readTable(spark, root, "t").count() === 1)
    }
  }

  test("publishAuditedIncremental: only changed tables write; dims carry by base pointer") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wap-inc").toString
    val fact = Seq((1L, 10L), (2L, 20L)).toDF("k", "dim_k")
    val dim = Seq((10L, "a"), (20L, "b")).toDF("dim_k", "name")
    // cross-table audit: every fact dim_k must resolve in the dim
    def audit(s: Map[String, org.apache.spark.sql.DataFrame]): Boolean =
      s("fact").join(s("dim"), Seq("dim_k"), "left_anti").isEmpty
    assert(ParquetWarehouse.publishAudited(root, Map("fact" -> fact, "dim" -> dim), audit)
      === Right("v1"))
    // incremental: stage ONLY the corrected fact; the dim carries forward
    val fact2 = Seq((1L, 10L), (2L, 20L), (3L, 10L)).toDF("k", "dim_k")
    assert(ParquetWarehouse.publishAuditedIncremental(root, Map("fact" -> fact2), audit)
      === Right("v2"))
    assert(!new java.io.File(s"$root/v2/dim").exists, "carried dim must not rewrite")
    assert(new java.io.File(s"$root/v2/dim.base").exists)
    assert(ParquetWarehouse.readTable(spark, root, "fact").count() === 3)
    assert(ParquetWarehouse.readTable(spark, root, "dim")
      .orderBy("dim_k").as[(Long, String)].collect().toSeq
      === Seq((10L, "a"), (20L, "b")))
    // a poisoned incremental fact (orphan key 99) must FAIL against the
    // CARRIED dim — proving the audit sees the full snapshot view
    val bad = Seq((4L, 99L)).toDF("k", "dim_k")
    assert(ParquetWarehouse.publishAuditedIncremental(root, Map("fact" -> bad), audit)
      === Left("v3"))
    assert(ParquetWarehouse.currentVersion(root).contains("v2"))
    // vacuum never reclaims v1: v2's dim.base still reaches it
    ParquetWarehouse.vacuumSnapshots(root)
    assert(ParquetWarehouse.readTable(spark, root, "dim").count() === 2,
      "vacuum reclaimed a version a live base pointer reaches")
  }

  test("publishAuditedIncremental: carried tombstones keep MoR deletes visible") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-wap-inc-ts").toString
    val t1 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val other = Seq((1L, 1.0)).toDF("k", "w")
    ParquetWarehouse.publishSnapshot(root, Map("t" -> t1, "other" -> other))
    ParquetWarehouse.deleteFromSnapshot(root, "t", Seq(2L).toDF("k"), "k")
    assert(ParquetWarehouse.readTable(spark, root, "t").count() === 2)
    // incrementally replace `other`; `t` (base + tombstones) carries
    assert(ParquetWarehouse.publishAuditedIncremental(root,
      Map("other" -> Seq((1L, 2.0)).toDF("k", "w")), _ => true).isRight)
    val served = ParquetWarehouse.readTable(spark, root, "t")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(served === Seq((1L, "x"), (3L, "z")), "carried tombstone lost")
  }

  test("multimodal: chunk sampling keeps every k-th fixed-size chunk") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
    val chunks = Multimodal.sampleChunks(Multimodal.syntheticAssets(docs), chunkBytes = 64, every = 4)
    val perAsset = chunks.groupBy("asset_id").agg(count(lit(1)).as("n"), max("chunk_idx").as("mx"))
      .collect()
    perAsset.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getInt(2) % 4 == 0) // only indices 0,4,8,... survive
    }
  }
}
