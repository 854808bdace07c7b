package graft.warehouse

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Scale layout #6 — the manifested key layout (VERDICT r12 #6):
  * planning-time FILE pruning from the per-file [min,max] manifest, vs
  * t33's key-indexed layout which plans every file and prunes row groups
  * only at read time.
  */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def withTmp[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-spec")
    try f(dir.toString) finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head.metrics("numFiles").value
  }

  test("manifest probe plans O(1) files; the flat key-indexed layout plans all of them") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    // largest existing key ≤ midpoint: mid-range, so boundary-file luck
    // can't fake the pruning (same probe rule as t34)
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val key = orders.filter(col("o_orderkey") <= mid)
      .agg(max("o_orderkey")).head().getLong(0)
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(orders, path, "o_orderkey", files = 8)
      withConf("spark.sql.adaptive.enabled", "false") {
        val probed = ParquetWarehouse.manifestProbe(
          spark, path, "o_orderkey", Seq(key))
        val manifested = plannedFiles(probed)
        val flat = plannedFiles(
          spark.read.parquet(s"$path/data").filter(col("o_orderkey") === key))
        assert(flat == 8, s"the flat read must plan every data file, got $flat")
        assert(manifested == 1,
          s"the manifest must prune the plan to the one covering file, got $manifested")
        // same answer through both paths
        val a = probed.orderBy("o_orderkey").collect().toSeq
        val b = spark.read.parquet(s"$path/data")
          .filter(col("o_orderkey") === key).orderBy("o_orderkey").collect().toSeq
        assert(a == b && a.nonEmpty)
      }
    }
  }

  test("manifest round-trip is lossless and a multi-key IN probe unions the covering files") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(orders, path, "o_orderkey", files = 8)
      // manifest intervals cover every row exactly once
      val man = ParquetWarehouse.currentManifest(spark, path)
      assert(man.count() == 8)
      assert(man.agg(sum("n_rows")).head().getLong(0) == orders.count())
      // keys from opposite ends of the keyspace → two covering files
      val probed = ParquetWarehouse.manifestProbe(
        spark, path, "o_orderkey", Seq(lo, hi))
      withConf("spark.sql.adaptive.enabled", "false") {
        assert(plannedFiles(probed) == 2,
          "extreme keys live in different range files")
      }
      assert(probed.select("o_orderkey").as[Long].collect().toSet == Set(lo, hi))
    }
  }

  test("manifest probe outside every interval returns empty with the data schema") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val hi = orders.agg(max("o_orderkey")).head().getLong(0)
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(orders, path, "o_orderkey", files = 4)
      val out = ParquetWarehouse.manifestProbe(
        spark, path, "o_orderkey", Seq(hi + 1000000L))
      assert(out.isEmpty)
      assert(out.columns.toSeq == orders.columns.toSeq)
    }
  }

  test("missing manifest fails fast instead of silently scanning the directory") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    withTmp { root =>
      val path = s"$root/orders_plain"
      ParquetWarehouse.writeKeyIndexed(orders, s"$path/data", "o_orderkey", files = 4)
      assertThrows[IllegalArgumentException] {
        ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(1L))
      }
    }
  }

  test("append: pointer swap is the commit point — uncommitted files stay invisible") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val mid = (lo + hi) / 2
    val (lower, upper) =
      (orders.filter(col("o_orderkey") <= mid), orders.filter(col("o_orderkey") > mid))
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(lower, path, "o_orderkey", files = 4)
      // a CRASHED append = step (1) alone: data files landed, manifest
      // never committed — the probe must not see them (the manifest, not
      // the directory, is the source of truth)
      upper.repartitionByRange(2, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("append").parquet(s"$path/data")
      assert(ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(hi)).isEmpty,
        "files from an uncommitted append must be invisible to the probe")
      assert(ParquetWarehouse.currentManifest(spark, path)
        .agg(sum("n_rows")).head().getLong(0) == lower.count())
      // the real append (a RETRY of the crashed batch) commits: new files
      // + manifest v2 + pointer swap — and must NOT adopt the crashed
      // attempt's orphan files, or the retried rows would double
      ParquetWarehouse.appendManifested(upper, path, "o_orderkey", files = 2)
      val seen = ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(lo, hi))
        .select("o_orderkey").as[Long].collect().toSeq
      assert(seen.sorted == Seq(lo, hi),
        "keys from both halves serve, each exactly once (orphans stay invisible)")
      val man = ParquetWarehouse.currentManifest(spark, path)
      assert(man.agg(sum("n_rows")).head().getLong(0) == orders.count(),
        "manifest covers base + retried rows exactly once, never the orphans")
    }
  }

  test("vacuum: reclaims crash orphans + superseded manifests, spares in-flight files") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val mid = (lo + hi) / 2
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(
        orders.filter(col("o_orderkey") <= mid), path, "o_orderkey", files = 4)
      // crashed append: 2 orphan data files, never committed
      orders.filter(col("o_orderkey") > mid)
        .repartitionByRange(2, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("append").parquet(s"$path/data")
      // retried append commits (v2) — its OWN files, not the orphans
      ParquetWarehouse.appendManifested(
        orders.filter(col("o_orderkey") > mid), path, "o_orderkey", files = 2)
      // an IN-FLIGHT append (files landed after the v2 commit, no manifest
      // yet) must survive the vacuum
      orders.limit(5).write.mode("append").parquet(s"$path/data")
      val (files, versions) = ParquetWarehouse.vacuumManifested(spark, path)
      assert(files == 2, s"exactly the crashed attempt's files reclaim, got $files")
      assert(versions == 1, s"exactly the superseded v1 manifest reclaims, got $versions")
      // the published snapshot still serves in full
      val seen = ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(lo, hi))
        .select("o_orderkey").as[Long].collect().toSeq
      assert(seen.sorted == Seq(lo, hi))
      assert(ParquetWarehouse.currentManifest(spark, path)
        .agg(sum("n_rows")).head().getLong(0) == orders.count())
      // idempotent: nothing left to reclaim (the in-flight files still
      // postdate the commit, so they stay protected)
      assert(ParquetWarehouse.vacuumManifested(spark, path) == ((0, 0)))
    }
  }

  test("compaction restores the O(1)-probe contract and vacuum reclaims the superseded generations") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val mid = (lo + hi) / 2
    val key = orders.filter(col("o_orderkey") <= mid)
      .agg(max("o_orderkey")).head().getLong(0)
    withTmp { root =>
      val path = s"$root/orders_m"
      // 4 generations with OVERLAPPING keyspans (split by key mod 4, so
      // every generation spans the whole key range — the realistic append
      // shape where probe fan-out decays)
      ParquetWarehouse.writeManifested(
        orders.filter(col("o_orderkey") % 4 === 0), path, "o_orderkey", files = 2)
      (1 to 3).foreach { i =>
        ParquetWarehouse.appendManifested(
          orders.filter(col("o_orderkey") % 4 === i), path, "o_orderkey", files = 2)
      }
      withConf("spark.sql.adaptive.enabled", "false") {
        val decayed = plannedFiles(
          ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(key)))
        // one covering file per generation whose span contains the key —
        // ≥2 proves the decay (a generation can miss only by the key
        // falling in the gap between its two files' ranges)
        assert(decayed >= 2 && decayed <= 4,
          s"overlapping generations: the probe must plan one file per covering generation, got $decayed")
        info(s"probe fan-out before compaction: $decayed files (4 generations)")
        val expect = ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(key))
          .orderBy("o_orderkey").collect().toSeq
        ParquetWarehouse.compactManifested(spark, path, "o_orderkey", files = 4)
        val probed = ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(key))
        assert(plannedFiles(probed) == 1,
          "after compaction a point probe plans exactly one file again")
        assert(probed.orderBy("o_orderkey").collect().toSeq == expect && expect.nonEmpty,
          "compaction must not change the served rows")
      }
      // the manifest names only the fresh generation, covering every row
      val man = ParquetWarehouse.currentManifest(spark, path)
      assert(man.count() == 4)
      assert(man.agg(sum("n_rows")).head().getLong(0) == orders.count())
      // vacuum reclaims the 8 superseded data files (2 per old generation)
      // and the 4 superseded manifest versions; the snapshot still serves
      val (files, versions) = ParquetWarehouse.vacuumManifested(spark, path)
      assert(files == 8, s"the 4 old generations' data files reclaim, got $files")
      assert(versions == 4, s"manifest versions v1..v4 reclaim, got $versions")
      assert(ParquetWarehouse.currentManifest(spark, path)
        .agg(sum("n_rows")).head().getLong(0) == orders.count())
      assert(ParquetWarehouse.manifestProbe(spark, path, "o_orderkey", Seq(lo, hi))
        .select("o_orderkey").as[Long].collect().toSet == Set(lo, hi))
    }
  }

  test("compaction crash window: an uncommitted rewrite stays invisible and is never adopted") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(orders, path, "o_orderkey", files = 4)
      val before = ParquetWarehouse.currentManifest(spark, path)
        .orderBy("file").collect().toSeq
      // a CRASHED compaction = the rewrite landed, pointer never swapped
      orders.repartitionByRange(2, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("append").parquet(s"$path/data")
      assert(ParquetWarehouse.currentManifest(spark, path)
        .orderBy("file").collect().toSeq == before,
        "the published manifest is untouched by the crashed rewrite")
      assert(ParquetWarehouse.currentManifest(spark, path)
        .agg(sum("n_rows")).head().getLong(0) == orders.count(),
        "served rows unchanged — the orphan generation is invisible")
      // the RETRIED compaction reads only manifest-named files, so the
      // orphans don't double the rows
      ParquetWarehouse.compactManifested(spark, path, "o_orderkey", files = 2)
      assert(ParquetWarehouse.currentManifest(spark, path)
        .agg(sum("n_rows")).head().getLong(0) == orders.count(),
        "retried compaction never adopts the crashed attempt's files")
      // vacuum reclaims the crashed rewrite (2 files) + the 4 superseded
      // originals + v1
      val (files, versions) = ParquetWarehouse.vacuumManifested(spark, path)
      assert(files == 6 && versions == 1, s"got ($files, $versions)")
    }
  }

  test("range scan plans only the band's covering files; answers match the flat read") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (klo, khi) = (mm.getLong(0), mm.getLong(1))
    // a ~25% band in the middle of the keyspace
    val (lo, hi) = (klo + (khi - klo) / 4, klo + (khi - klo) / 2)
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(orders, path, "o_orderkey", files = 8)
      withConf("spark.sql.adaptive.enabled", "false") {
        val banded = ParquetWarehouse.manifestRangeScan(spark, path, "o_orderkey", lo, hi)
        val planned = plannedFiles(banded)
        assert(planned >= 1 && planned <= 4,
          s"a 25% band over 8 range files must plan ~2-3 covering files, got $planned")
        val flat = spark.read.parquet(s"$path/data")
          .filter(col("o_orderkey").between(lo, hi))
        assert(plannedFiles(flat) == 8, "the flat read plans every file")
        val a = banded.orderBy("o_orderkey").collect().toSeq
        val b = flat.orderBy("o_orderkey").collect().toSeq
        assert(a == b && a.nonEmpty, "band answers must match the flat read")
      }
      // a band past the keyspace plans nothing and returns empty
      assert(ParquetWarehouse.manifestRangeScan(
        spark, path, "o_orderkey", khi + 1000L, khi + 2000L).isEmpty)
    }
  }

  test("append allocates the next manifest version; prior versions stay readable") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mid = {
      val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
      (mm.getLong(0) + mm.getLong(1)) / 2
    }
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(
        orders.filter(col("o_orderkey") <= mid), path, "o_orderkey", files = 2)
      ParquetWarehouse.appendManifested(
        orders.filter(col("o_orderkey") > mid), path, "o_orderkey", files = 2)
      assert(AtomicPointer.read(s"$path/_MANIFEST_CURRENT").map(_.trim).contains("v2"))
      val v1 = spark.read.parquet(s"$path/_manifests/v1")
      val v2 = spark.read.parquet(s"$path/_manifests/v2")
      assert(v1.count() < v2.count(), "the prior snapshot remains readable (index time travel)")
      assert(v2.agg(sum("n_rows")).head().getLong(0) == orders.count())
    }
  }

  test("createExclusive: of racing creators exactly one wins, with or without a scheme") {
    withTmp { root =>
      for (claim <- Seq(s"$root/a/.claim-v2", s"file://$root/b/.claim-v2")) {
        val start = new java.util.concurrent.CountDownLatch(1)
        val wins = new java.util.concurrent.atomic.AtomicInteger()
        val racers = (1 to 8).map { _ =>
          val t = new Thread(() => {
            start.await()
            if (AtomicPointer.createExclusive(claim)) wins.incrementAndGet()
          })
          t.start(); t
        }
        start.countDown()
        racers.foreach(_.join())
        assert(wins.get == 1, s"$claim: ${wins.get} creators won")
        assert(!AtomicPointer.createExclusive(claim))
      }
    }
  }

  test("a taken claim fails the append by name and is left byte-identical") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    withTmp { root =>
      val path = s"$root/orders_m"
      ParquetWarehouse.writeManifested(
        orders.filter(col("o_orderkey") % 2 === 0), path, "o_orderkey", files = 2)
      val claim = java.nio.file.Paths.get(ParquetWarehouse.manifestClaimFile(path, 2))
      java.nio.file.Files.createDirectories(claim.getParent)
      java.nio.file.Files.writeString(claim, "held by another writer")
      val held = java.nio.file.Files.readAllBytes(claim)
      val e = intercept[IllegalStateException] {
        ParquetWarehouse.appendManifested(
          orders.filter(col("o_orderkey") % 2 === 1), path, "o_orderkey", files = 2)
      }
      assert(e.getMessage.contains(claim.toString), s"claim not named: ${e.getMessage}")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(claim), held),
        "a failed append must leave the claim as it found it")
      assert(ParquetWarehouse.currentManifestVersion(path).contains("v1"))
    }
  }

  test("concurrent committers: the claim gate fails the loser loudly, losing nothing (VERDICT r13 #7)") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val mm = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val third = lo + (hi - lo) / 3
    val twoThird = lo + 2 * (hi - lo) / 3
    withTmp { root =>
      val path = s"$root/orders_m"
      val a = orders.filter(col("o_orderkey") <= third)
      val b = orders.filter(col("o_orderkey") > third && col("o_orderkey") <= twoThird)
      val c = orders.filter(col("o_orderkey") > twoThird)
      ParquetWarehouse.writeManifested(a, path, "o_orderkey", files = 2)

      // fault injection: another writer holds the v2 claim (in-flight OR
      // already committed and this writer's base is stale — the gate
      // cannot and need not distinguish). The append must fail loudly,
      // publish NOTHING, and leave the v1 serve intact.
      val claim = new java.io.File(ParquetWarehouse.manifestClaimFile(path, 2))
      assert(claim.createNewFile())
      val e = intercept[IllegalStateException] {
        ParquetWarehouse.appendManifested(b, path, "o_orderkey", files = 2)
      }
      assert(e.getMessage.contains("claim"), s"wrong failure: ${e.getMessage}")
      assert(ParquetWarehouse.currentManifestVersion(path).contains("v1"),
        "a failed commit must not move the pointer")
      assert(ParquetWarehouse.manifestRangeScan(spark, path, "o_orderkey", lo, hi)
        .count() == a.count(),
        "the loser's data files must stay invisible orphans")

      // crashed-holder recovery: removing the stale claim (the documented
      // manual action) unblocks; the retry commits v2 losslessly
      assert(claim.delete())
      ParquetWarehouse.appendManifested(b, path, "o_orderkey", files = 2)
      assert(ParquetWarehouse.currentManifestVersion(path).contains("v2"))

      // serialized appends (each reading the then-current manifest) lose
      // nothing: the claim for every committed version exists and the
      // final manifest covers every committed row exactly once. NOTE the
      // retried batch b: its loser-attempt files are orphans and must NOT
      // have been adopted — a double-adopt would show as duplicate rows.
      ParquetWarehouse.appendManifested(c, path, "o_orderkey", files = 2)
      assert(ParquetWarehouse.currentManifestVersion(path).contains("v3"))
      assert(new java.io.File(ParquetWarehouse.manifestClaimFile(path, 3)).exists(),
        "every committed version leaves its claim as the permanent gate record")
      val served = ParquetWarehouse.manifestRangeScan(spark, path, "o_orderkey", lo, hi)
      assert(served.count() == orders.count(), "all three batches serve exactly once")
      assert(served.groupBy("o_orderkey").count().filter(col("count") > 1).isEmpty,
        "no orphan adoption: the failed attempt's files never double-serve")
    }
  }
}
