package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.warehouse.AtomicPointer

/** The one versioned-append commit protocol under graft's incremental
  * stores — [[graft.operators.CountStore]] (and the
  * [[graft.operators.QuantileStore]] histograms built on it),
  * [[graft.operators.SketchStore]], the dedup corpus index
  * ([[graft.llm.Dedup.writeCorpusIndex]]) and both [[graft.llm.Search]]
  * postings stores. It is the only code that knows the layout:
  *   - `CURRENT`: a newline list of the COMMITTED version dirs, oldest
  *     first, swapped atomically ([[AtomicPointer.write]]);
  *   - `v<N>/`: one version, holding whatever tables the store stages
  *     into it (counts; buckets + shingles; postings + STATS).
  *
  * A commit stages under the dot-prefixed `.staging-v<N>` (invisible to
  * [[vacuum]] and to listing tools), renames it to `v<N>`, then swaps the
  * pointer: readers see the old version list or the new one, never a
  * half-written version. `N` derives from the POINTER, not the directory
  * listing, so a crash anywhere before the swap leaves the prior pointer
  * live and the replayed commit re-stages the SAME `v<N>`, clobbering the
  * orphan. Appends never read existing state; the merge is each store's
  * read-side concern (SUM for counts and postings, HLL union for
  * sketches, plain union for the dedup index).
  *
  * Writers are serial (one writer per store); readers may run alongside.
  */
private[graft] object VersionedStore {

  private val Pointer = "CURRENT"

  /** Committed version dirs, oldest first; empty when nothing committed. */
  def committedVersions(path: String): Seq[String] =
    AtomicPointer.read(s"$path/$Pointer")
      .map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** Commit one version: `stage` writes the version's tables into the
    * staging dir it is handed; then the dir is published and the pointer
    * swaps. `replace = true` makes the new version the sole committed one
    * (bootstrap, rebuild, compaction fold); otherwise it is appended to
    * `base`, the committed list (a store may extend it, as the dedup index
    * adopts a pre-versioning flat layout as version `.`). Run every
    * precondition before calling: a failed check then stages nothing.
    */
  def commit(path: String, replace: Boolean,
             base: Option[Seq[String]] = None)(stage: String => Unit): Unit = {
    val committed = base.getOrElse(committedVersions(path))
    val next = "v" + (committed.filter(_.matches("v\\d+"))
      .lastOption.map(_.drop(1).toLong).getOrElse(0L) + 1)
    val staging = s"$path/.staging-$next"
    // a crashed earlier attempt's leftovers must not ride into this version
    AtomicPointer.deleteDir(staging)
    stage(staging)
    AtomicPointer.publishDir(staging, s"$path/$next")
    AtomicPointer.write(s"$path/$Pointer",
      ((if (replace) Seq.empty else committed) :+ next).mkString("", "\n", "\n"))
  }

  /** Fold every committed version into one: `fold` writes the merged
    * tables into the staging dir, committed with `replace = true`. Old
    * version dirs stay until [[vacuum]]. Returns the number of versions
    * folded; a store with at most one version is left untouched (0).
    */
  def compact(path: String)(fold: String => Unit): Int = {
    val committed = committedVersions(path)
    if (committed.size <= 1) 0
    else {
      commit(path, replace = true, base = Some(committed))(fold)
      committed.size
    }
  }

  /** Every committed version's `table` as ONE parquet scan: one listing
    * and one set of scan tasks however many versions the store has
    * accrued (the merge is the caller's). The schema comes from one
    * footer read on the driver ([[StoredSchema]]), so the read starts no
    * Spark job of its own.
    */
  def read(spark: SparkSession, path: String, table: String): DataFrame =
    read(spark, path, committedVersions(path), table)

  /** [[read]] over a version list the caller already holds (so sidecars
    * read from the same list describe exactly the rows scanned).
    */
  def read(spark: SparkSession, path: String, versions: Seq[String],
           table: String): DataFrame = {
    require(versions.nonEmpty, s"no committed versions under $path")
    StoredSchema.readParquet(spark, versions.map(v => s"$path/$v/$table"): _*)
  }

  /** Delete the version dirs the pointer no longer references — the
    * garbage of replaces, compaction folds and crashed commits — and
    * return how many were removed ([[sweep]] over the committed list).
    * Call only when no reader can still hold an OLD pointer (after a
    * maintenance window).
    */
  def vacuum(path: String): Int = sweep(path)(committedVersions(path).toSet)

  /** The one version sweep under every vacuum (this store's, the warehouse
    * snapshots' and the manifested tables' manifest versions): delete the
    * `v<N>` dirs under `dir` that the `live` set neither names nor lies
    * below, and return how many were removed. Safe against the store's
    * (serial) writer:
    *   - an in-flight commit writes under a name the `v<N>` filter never
    *     matches (a dot-prefixed staging dir), or at a number above the
    *     highest live version, which is never deleted; a crashed commit's
    *     orphan there is clobbered by the replay, or reclaimed once later
    *     commits pass it;
    *   - `live` is re-read before each delete, so a dir that became live
    *     since candidate selection is spared.
    */
  def sweep(dir: String)(live: => Set[String]): Int = {
    val first = live
    val maxLive = first.filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong).maxOption.getOrElse(0L)
    val junk = AtomicPointer.listDirNames(dir)
      .filter(n => n.matches("v\\d+") && !first.contains(n) &&
        n.drop(1).toLong <= maxLive)
    junk.count { name =>
      !live.contains(name) && AtomicPointer.deleteDir(s"$dir/$name")
    }
  }
}
