package graft.store

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.llm.{Dedup, Search}
import graft.operators.{CountStore, SketchStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One crash-replay fault matrix for the versioned-store core, run over
  * every store's own writer. Per store: an orphan `v<N+1>` with garbage
  * contents (and a stale staging dir) is invisible to reads; the replayed
  * append clobbers it, clears the staging dir and commits exactly once;
  * vacuum spares max+1 and reclaims replaced versions; and a failed
  * precondition stages nothing. Each store's merge semantics keep their
  * own specs.
  */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One store's writer, read back as a canonical answer. Batch `i`'s
    * contents differ per `i`; `answer` must change if a batch landed
    * twice or garbage surfaced.
    */
  private case class Writer(
      name: String,
      tables: Seq[String],
      write: (Int, String) => Unit,
      append: (Int, String) => Unit,
      answer: String => Seq[String],
      failingAppend: String => Unit,
      emptyAppend: String => Unit)

  private def texts(i: Int): DataFrame = Seq(
    (10L * i + 1, s"spark window merge batch$i alpha"),
    (10L * i + 2, s"spark merge shuffle batch$i beta beta"),
    (10L * i + 3, s"window join batch$i gamma spark spark")).toDF("doc_id", "text")

  private val terms = Seq("spark", "merge")

  private val writers = Seq(
    Writer("CountStore", Seq("counts"),
      (i, p) => CountStore.write(Seq((s"k$i", i + 1L), ("z", 1L)).toDF("k", "n"), p),
      (i, p) => CountStore.append(Seq((s"k$i", i + 1L), ("z", 1L)).toDF("k", "n"), p),
      p => CountStore.read(spark, p).collect().map(_.toString).sorted.toSeq,
      p => CountStore.append(Seq(("k", "not-a-count")).toDF("k", "n"), p),
      p => CountStore.append(Seq(("k", 1L)).toDF("k", "n").filter(lit(false)), p)),
    Writer("SketchStore", Seq("sketches"),
      (i, p) => SketchStore.write(sketches(i), p),
      (i, p) => SketchStore.append(sketches(i), p),
      p => SketchStore.read(spark, p)
        .select(col("d"), hll_sketch_estimate(col("sk"))).collect().map(_.toString)
        .sorted.toSeq,
      p => SketchStore.append(Seq(("d", 1L)).toDF("d", "not_a_sketch"), p),
      p => SketchStore.append(sketches(0).filter(lit(false)), p)),
    Writer("Dedup index", Seq("buckets", "shingles"),
      (i, p) => Dedup.writeCorpusIndex(texts(i), p),
      (i, p) => Dedup.appendToCorpusIndex(texts(i), p),
      p => (Dedup.indexShingles(spark, p).select(col("doc_id").cast("string")) union
        Dedup.indexBuckets(spark, p).select(concat(lit("b"), col("doc_id"), lit(":"),
          col("band"))))
        .collect().map(_.getString(0)).sorted.toSeq,
      p => Dedup.appendToCorpusIndex(texts(9).select("doc_id"), p),
      p => Dedup.appendToCorpusIndex(texts(9).filter(lit(false)), p)),
    Writer("Search", Seq("postings"),
      (i, p) => Search.initIndex(texts(i), p, buckets = 8),
      (i, p) => Search.appendToIndex(texts(i), p, buckets = 8),
      p => Search.searchAllIndexed(spark, p, terms, buckets = 8)
        .collect().map(_.toString).sorted.toSeq,
      p => Search.appendToIndex(texts(9), p, buckets = 16),
      p => Search.appendToIndex(texts(9).filter(lit(false)), p, buckets = 8)),
    Writer("Search ranked", Seq("postings"),
      (i, p) => Search.initRankedIndex(texts(i), p, buckets = 8),
      (i, p) => Search.appendToRankedIndex(texts(i), p, buckets = 8),
      p => Search.searchRankedIndexed(spark, p, terms, k = 100, buckets = 8)
        .collect().map(_.toString).sorted.toSeq,
      p => Search.appendToRankedIndex(texts(9), p, buckets = 16),
      p => Search.appendToRankedIndex(texts(9).filter(lit(false)), p, buckets = 8)))

  private def sketches(i: Int): DataFrame =
    (0 until 5).map(u => ("d", 100L * i + u)).toDF("d", "u")
      .groupBy("d").agg(hll_sketch_agg(col("u")).as("sk"))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-vstore-${name.replace(' ', '-')}").toString

  /** A fully-written version dir the pointer does not reference: garbage
    * rows under every table name.
    */
  private def plantOrphan(p: String, v: String, tables: Seq[String]): Unit =
    tables.foreach(t =>
      Seq((999999L, "GARBAGE")).toDF("doc_id", "junk").write.parquet(s"$p/$v/$t"))

  private def exists(p: String, name: String) = Files.exists(Paths.get(p, name))

  for (w <- writers) {
    test(s"fault matrix, ${w.name}: a garbage orphan is invisible; the replay commits once") {
      val clean = tmp(w.name)
      w.write(0, clean); w.append(1, clean); w.append(2, clean)
      val expected = w.answer(clean)

      val p = tmp(w.name)
      w.write(0, p); w.append(1, p)
      val committed = w.answer(p)
      // a crashed append of batch 2: renamed into v3 but the pointer never
      // swapped, plus a stale staging dir of an even earlier attempt
      plantOrphan(p, "v3", w.tables)
      Files.createDirectories(Paths.get(p, ".staging-v3"))
      Files.writeString(Paths.get(p, ".staging-v3", "STALE"), "stale")
      assert(w.answer(p) == committed, "an uncommitted version leaked into reads")
      assert(VersionedStore.committedVersions(p) == Seq("v1", "v2"))

      w.append(2, p)
      assert(VersionedStore.committedVersions(p) == Seq("v1", "v2", "v3"))
      assert(w.answer(p) == expected, "the replay must land exactly once, garbage never")
      assert(!exists(p, "v3/STALE"), "a stale staging dir rode into the commit")
      assert(!exists(p, ".staging-v3"))
    }

    test(s"fault matrix, ${w.name}: vacuum spares max+1 and reclaims replaced versions") {
      val p = tmp(w.name)
      w.write(0, p); w.append(1, p)
      // a commit caught between its rename and its pointer swap
      plantOrphan(p, "v3", w.tables)
      assert(VersionedStore.vacuum(p) == 0, "vacuum deleted a version above max committed")
      assert(exists(p, "v3"))
      // a rebuild lands on v3 (clobbering the orphan) and replaces v1, v2
      w.write(2, p)
      assert(VersionedStore.committedVersions(p) == Seq("v3"))
      val fresh = tmp(w.name)
      w.write(2, fresh)
      assert(w.answer(p) == w.answer(fresh))
      assert(VersionedStore.vacuum(p) == 2)
      assert(!exists(p, "v1") && !exists(p, "v2") && exists(p, "v3"))
      assert(w.answer(p) == w.answer(fresh))
      assert(VersionedStore.vacuum(p) == 0, "vacuum re-run is a no-op")
    }

    test(s"read, ${w.name}: no Spark job, and Spark's inferred schema, empty version first") {
      val p = tmp(w.name)
      w.write(0, p); w.emptyAppend(p); w.append(1, p)
      // the schema-only file of the empty version leads the scan
      val orders = Seq(Seq("v2", "v1", "v3"), Seq("v1", "v2", "v3"))
      for (t <- w.tables; vs <- orders) {
        var df: DataFrame = null
        assert(jobsStartedBy { df = VersionedStore.read(spark, p, vs, t) } == 0,
          s"reading $t over $vs started a Spark job")
        assert(df.schema == spark.read.parquet(vs.map(v => s"$p/$v/$t"): _*).schema, s"$t over $vs")
      }
      val plain = tmp(w.name)
      w.write(0, plain); w.append(1, plain)
      assert(w.answer(p) == w.answer(plain), "an empty version changed the answer")
    }

    test(s"fault matrix, ${w.name}: a failed precondition stages nothing") {
      val p = tmp(w.name)
      w.write(0, p); w.append(1, p)
      val before = StoreLayout(p)
      val answer = w.answer(p)
      intercept[Exception](w.failingAppend(p))
      assert(StoreLayout(p) == before)
      assert(before.versions == Set("v1", "v2"))
      assert(w.answer(p) == answer)
    }
  }

  test("read: the dedup index's adopted flat layout reads with Spark's inferred schema") {
    val flat = tmp("flat")
    Dedup.writeCorpusIndex(texts(0), flat)
    // the pre-versioning layout: bare tables under the root, no pointer
    for (t <- Seq("buckets", "shingles"))
      Files.move(Paths.get(flat, "v1", t), Paths.get(flat, t))
    Files.delete(Paths.get(flat, "CURRENT"))
    Dedup.appendToCorpusIndex(texts(1), flat)
    assert(VersionedStore.committedVersions(flat) == Seq(".", "v1"))
    for (t <- Seq("buckets", "shingles")) {
      var df: DataFrame = null
      assert(jobsStartedBy { df = VersionedStore.read(spark, flat, t) } == 0)
      assert(df.schema == spark.read.parquet(s"$flat/./$t", s"$flat/v1/$t").schema)
    }
    assert(Dedup.indexShingles(spark, flat).select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 11L, 12L, 13L))
  }

  test("StoredSchema: partitioned dirs and foreign files fall back to Spark's inference") {
    val part = tmp("part")
    Seq((1L, "a"), (2L, "b")).toDF("x", "k").write.partitionBy("k").parquet(s"$part/t")
    assert(StoredSchema.of(spark, Seq(s"$part/t")).isEmpty)
    assert(StoredSchema.readParquet(spark, s"$part/t").schema ==
      spark.read.parquet(s"$part/t").schema)
    assert(StoredSchema.of(spark, Seq(s"$part/none")).isEmpty)
    intercept[org.apache.spark.sql.AnalysisException](StoredSchema.readParquet(spark, s"$part/none"))
    // a parquet file without Spark's schema key (as another engine writes it)
    val foreign = tmp("foreign")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 x; }")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$foreign/t/part-0.parquet"))
      .withConf(conf).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("x", 7L)) finally w.close()
    assert(StoredSchema.of(spark, Seq(s"$foreign/t")).isEmpty)
    assert(StoredSchema.readParquet(spark, s"$foreign/t").as[Long].collect().toSeq == Seq(7L))
  }

  test("compact folds every version into one; a one-version store is left alone") {
    val p = tmp("compact")
    assert(VersionedStore.compact(p)(_ => fail("nothing to fold")) == 0)
    VersionedStore.commit(p, replace = true)(s => Seq(1L).toDF("x").write.parquet(s"$s/t"))
    val one = StoreLayout(p)
    assert(VersionedStore.compact(p)(_ => fail("one version: nothing to fold")) == 0)
    assert(StoreLayout(p) == one)
    VersionedStore.commit(p, replace = false)(s =>
      Seq(2L).toDF("x").write.parquet(s"$s/t"))
    assert(VersionedStore.compact(p)(s =>
      VersionedStore.read(spark, p, "t").write.parquet(s"$s/t")) == 2)
    assert(VersionedStore.committedVersions(p) == Seq("v3"))
    assert(VersionedStore.read(spark, p, "t").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(VersionedStore.vacuum(p) == 2)
  }
}
