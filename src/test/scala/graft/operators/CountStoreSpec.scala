package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.store.StoreLayout
import graft.warehouse.AtomicPointer
import org.apache.spark.sql.functions._

/** The additive count store's contract: appends sum associatively (order
  * never matters), compaction preserves the view while folding versions,
  * vacuum reclaims only unreferenced dirs. The end-to-end model-equality
  * claim (incremental DSIR ≡ from-scratch) is hash-pinned by x27 against
  * x25's unchanged oracle; these are the structural properties.
  */
class CountStoreSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft-cstore")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def viewOf(path: String): Map[String, Long] =
    CountStore.read(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("write + appends sum per key; append order is irrelevant") {
    val a = Seq(("x", 1L), ("y", 2L)).toDF("k", "n")
    val b = Seq(("y", 3L), ("z", 4L)).toDF("k", "n")
    val c = Seq(("x", 5L)).toDF("k", "n")
    val p1 = tmp()
    CountStore.write(a, p1); CountStore.append(b, p1); CountStore.append(c, p1)
    val p2 = tmp()
    CountStore.write(c, p2); CountStore.append(a, p2); CountStore.append(b, p2)
    val expect = Map("x" -> 6L, "y" -> 5L, "z" -> 4L)
    assert(viewOf(p1) == expect && viewOf(p2) == expect)
  }

  test("compact folds versions without changing the view; vacuum reclaims") {
    val p = tmp()
    CountStore.write(Seq(("x", 1L)).toDF("k", "n"), p)
    CountStore.append(Seq(("x", 2L), ("y", 7L)).toDF("k", "n"), p)
    val before = viewOf(p)
    CountStore.compact(spark, p)
    assert(viewOf(p) == before, "compaction must preserve the summed view")
    val removed = CountStore.vacuum(p)
    assert(removed == 2, s"v1+v2 should be reclaimed after the fold, got $removed")
    assert(viewOf(p) == before)
    assert(!AtomicPointer.exists(s"$p/v1") && AtomicPointer.exists(s"$p/v3"))
  }

  test("compact of a single-version store is a no-op: nothing rewritten, no Spark job") {
    val p = tmp()
    CountStore.write(Seq(("x", 1L), ("y", 2L)).toDF("k", "n"), p)
    val before = StoreLayout(p)
    assert(before.versions == Set("v1"))
    val jobs = jobsStartedBy(CountStore.compact(spark, p))
    assert(StoreLayout(p) == before, "a one-version store must not be rewritten")
    assert(jobs == 0, s"a one-version compact ran $jobs Spark job(s)")
    assert(viewOf(p) == Map("x" -> 1L, "y" -> 2L))
  }

  test("write replaces (rebuild); malformed schemas fail fast") {
    val p = tmp()
    CountStore.write(Seq(("x", 1L)).toDF("k", "n"), p)
    CountStore.append(Seq(("x", 1L)).toDF("k", "n"), p)
    CountStore.write(Seq(("z", 9L)).toDF("k", "n"), p)
    assert(viewOf(p) == Map("z" -> 9L), "write must supersede prior versions")
    intercept[IllegalArgumentException] {
      CountStore.write(Seq(Tuple1("only-one-col")).toDF("k"), p)
    }
    intercept[IllegalArgumentException] {
      // trailing column must be the long count
      CountStore.write(Seq(("x", "not-a-count")).toDF("k", "n"), p)
    }
  }
}
