package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Load-half of the engine re-expressed for a lakehouse (no PostgreSQL in
  * the sandbox — the reference's JDBC patterns map 1:1 onto a parquet
  * warehouse; the JDBC variants would only swap the reader/writer calls):
  *
  *   - P17/P21: idempotent append = left_anti against the target's key set
  *     then append-only write (the reference's `ON CONFLICT DO NOTHING` +
  *     pre-insert anti-join, src/load.py:135-223,534-582);
  *   - P22: batched writes are Spark's native per-partition parquet files
  *     (JDBC would be `.option("batchsize", 1000)`);
  *   - P23: multi-table transactional load via versioned-snapshot publish —
  *     all star tables are written to a new version directory and a CURRENT
  *     pointer file is atomically moved, giving readers snapshot isolation
  *     without Delta (the staging-table pattern from SURVEY §7.3);
  *   - P25: pre-flight validation of warehouse layout.
  */
object ParquetWarehouse {

  /** P17/P21 — append only rows whose key is absent from the target.
    * Returns the number of new rows written. The anti-join reads ONLY the
    * key column of the target (column pruning reaches the parquet scan)
    * and runs ONCE, inside the write: the row count rides that write
    * through `observe()` instead of a separate count job over a persisted
    * copy. The write lands in a hidden `_staging-<uuid>` dir under the
    * table (readers skip `_`-prefixed paths), and its files move into the
    * table only when it wrote rows — so an append with nothing new (the
    * retry case this operator exists for) leaves the table's file set
    * unchanged instead of adding a schema-only file. A crash before the
    * moves leaves only an invisible staging dir; a crash mid-move leaves
    * a partial append that the retry's anti-join completes.
    */
  def appendIdempotent(df: DataFrame, path: String, keyCol: String): Long = {
    val spark = df.sparkSession
    val existed = AtomicPointer.exists(path)
    val fresh =
      if (existed) df.join(spark.read.parquet(path).select(keyCol), Seq(keyCol), "left_anti")
      else df
    val id = java.util.UUID.randomUUID().toString
    val obs = new org.apache.spark.sql.Observation(s"append-$id")
    val table = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(table, s"_staging-$id")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      fresh.observe(obs, count(lit(1)).as("n")).write.parquet(staging.toString)
      val n = obs.get("n").asInstanceOf[Long]
      if (n > 0) fs.listStatus(staging).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .foreach { p =>
          if (!fs.rename(p, new org.apache.hadoop.fs.Path(table, p.getName)))
            throw new java.io.IOException(s"appendIdempotent: could not move $p into $path")
        }
      n
    } finally {
      fs.delete(staging, true)
      // a first append that wrote nothing must not leave an empty table dir
      // behind (the next append would fail to infer its schema)
      if (!existed && fs.exists(table) && fs.listStatus(table).isEmpty) fs.delete(table, true)
    }
  }

  private val Pointer = "CURRENT"

  /** Allocate the next UNOCCUPIED version number: past the current pointer
    * AND past any existing dir. A failed audit leaves its staged dir at
    * cur+1 as inspection evidence; a mutator that allocated blindly would
    * stage INTO that dir and then publish the failed attempt's unaudited
    * tables alongside its own while clobbering the evidence — ADVICE r11.
    */
  private def nextVersion(root: String, cur: Long): String = {
    var n = cur + 1
    while (AtomicPointer.exists(s"$root/v$n")) n += 1
    s"v$n"
  }

  /** The one snapshot commit (P23, the path-based form of the reference's
    * one-transaction star load) — every snapshot mutator is its checks plus
    * what it hands this:
    *   1. allocate the next unoccupied version `root/v<N>` ([[nextVersion]]);
    *   2. `stage` writes the `changed` tables into that dir;
    *   3. with `carry`, every OTHER table of the current snapshot carries
    *      forward by `.base` pointer ([[carryForward]] — metadata, zero data
    *      copied); with no current snapshot there is nothing to carry, so a
    *      carrying commit on an empty root is a full publish;
    *   4. with an `audit` (WRITE-AUDIT-PUBLISH, the Iceberg/Netflix WAP
    *      pattern), the audit sees the staged SNAPSHOT VIEW — staged files
    *      for changed tables, carried tables resolved exactly as a reader of
    *      the new version would — so cross-table invariants (fact keys ⊆
    *      carried dim keys) audit on the bytes readers would see, not on the
    *      input lineage. Without an audit no staged view is built (a staged
    *      read can start a schema job);
    *   5. swap the CURRENT pointer with an atomic file move ([[AtomicPointer]],
    *      so the same machinery serves `file:` and `hdfs:` roots).
    * A crash before the swap leaves the previous version live. A failing
    * audit publishes nothing and keeps the staged dir, under its number,
    * for inspection (Left(version)); a later commit allocates past it.
    * Every precondition runs before this is called, so a failed check stages
    * nothing. Prior versions' files are never touched, so any version still
    * on disk reproduces its state ([[readTableAt]]) until
    * [[vacuumSnapshots]]. Single writer per root.
    */
  private def commitSnapshot(root: String, changed: Iterable[String],
                             carry: Boolean = true,
                             audit: Option[Map[String, DataFrame] => Boolean] = None)
                            (stage: String => Unit): Either[String, String] = {
    val cur = currentVersion(root)
    val next = nextVersion(root, cur.fold(0L)(_.drop(1).toLong))
    stage(s"$root/$next")
    val carried =
      if (carry) cur.toSeq.flatMap(tablesIn(root, _)).filterNot(changed.toSet) else Nil
    cur.foreach(carryForward(root, _, next, carried))
    val passed = audit.forall { check =>
      val spark = SparkSession.active
      check((changed ++ carried).map(t => t -> readTableAt(spark, root, t, next)).toMap)
    }
    if (passed) { AtomicPointer.write(s"$root/$Pointer", next); Right(next) }
    else Left(next)
  }

  /** Stage each frame as `<dir>/<name>` — the whole-table staging of the
    * publish and upsert paths. */
  private def writeTables(tables: Map[String, DataFrame])(dir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
    }

  /** P23 — atomic multi-table publish: every table written under
    * `root/v<next>/<table>/`, then the pointer swap ([[commitSnapshot]]).
    */
  def publishSnapshot(root: String, tables: Map[String, DataFrame]): String =
    commitSnapshot(root, tables.keys, carry = false)(writeTables(tables)).merge

  def currentVersion(root: String): Option[String] =
    AtomicPointer.read(s"$root/$Pointer").map(_.trim)

  /** [[publishSnapshot]] gated by `audit` on the staged tables: the pointer
    * swaps only when it passes, else Left(staged version). At 100 TB this
    * is the only safe shape for "don't serve a corrupt batch" — validation
    * after the pointer swap is a read-visible corruption window.
    */
  def publishAudited(root: String, tables: Map[String, DataFrame],
                     audit: Map[String, DataFrame] => Boolean): Either[String, String] = {
    require(tables.nonEmpty, "publishAudited: no tables to publish")
    commitSnapshot(root, tables.keys, carry = false, Some(audit))(writeTables(tables))
  }

  /** INCREMENTAL write-audit-publish: stage only the tables that CHANGED;
    * every other table carries forward, and the audit sees the whole staged
    * snapshot. At 100 TB this is the WAP shape that matters: re-publishing
    * a corrected fact must not rewrite the unchanged dimensions, and a
    * failed audit still leaves the prior version live ([[vacuumSnapshots]]
    * never reclaims a version a live `.base` pointer reaches).
    */
  def publishAuditedIncremental(root: String, changed: Map[String, DataFrame],
                                audit: Map[String, DataFrame] => Boolean): Either[String, String] = {
    require(changed.nonEmpty, "publishAuditedIncremental: no changed tables")
    if (currentVersion(root).isEmpty) throw new IllegalStateException(
      s"publishAuditedIncremental needs a published snapshot under $root to carry from")
    commitSnapshot(root, changed.keys, audit = Some(audit))(writeTables(changed))
  }

  /** Read a table from the currently-published snapshot, resolving the two
    * metadata-only indirections a version may carry:
    *   - a `<table>.base` pointer file (the version holding the actual data
    *     files — written for every carried table and by
    *     [[deleteFromSnapshot]]'s merge-on-read path, so neither a carry nor
    *     a delete rewrites the table);
    *   - a `<table>.deletes/` tombstone set (cumulative deleted keys; one
    *     key column whose NAME identifies the join key), anti-joined here.
    * A plain version (data dir, no tombstones) reads exactly as before.
    * The tombstone side is deleted-keys-sized — tiny next to the table —
    * so AQE broadcasts the anti-join's right side; the base scan itself
    * still prunes columns/filters as a direct parquet read would.
    */
  def readTable(spark: SparkSession, root: String, table: String): DataFrame = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    readTableAt(spark, root, table, v)
  }

  /** TIME TRAVEL: read `table` as of a specific published version — any
    * version still on disk ([[commitSnapshot]] never touches a prior
    * version's files) reproduces its exact historical state, tombstones
    * included. Audit and reproducibility primitive: "what did the training
    * corpus look like at v7?". The data and tombstone reads take their
    * schema from a footer ([[graft.store.StoredSchema]]), so neither runs
    * an inference job (partitioned tables still infer).
    */
  def readTableAt(spark: SparkSession, root: String, table: String,
                  version: String): DataFrame = {
    require(AtomicPointer.exists(s"$root/$version"),
      s"readTableAt: no version dir '$version' under $root (vacuumed or never published)")
    val dataV = resolveBase(root, version, table)
    val data = graft.store.StoredSchema.readParquet(spark, s"$root/$dataV/$table")
    tombstones(spark, root, version, table) match {
      case None => data
      case Some(del) => data.join(del, Seq(del.columns.head), "left_anti")
    }
  }

  /** The version whose `<table>/` dir holds the data files for `table` as
    * of version `v` — `v` itself unless a `.base` pointer redirects (base
    * pointers always name a data version directly; they never chain).
    */
  private def resolveBase(root: String, v: String, table: String): String =
    AtomicPointer.read(s"$root/$v/$table.base").map(_.trim).getOrElse(v)

  /** The cumulative tombstone frame of `table` as of version `v`, if any. */
  private def tombstones(spark: SparkSession, root: String, v: String,
                         table: String): Option[DataFrame] =
    if (AtomicPointer.exists(s"$root/$v/$table.deletes"))
      Some(graft.store.StoredSchema.readParquet(spark, s"$root/$v/$table.deletes"))
    else None

  /** Table names present in version `v`: data dirs, base-pointer files, or
    * tombstone-only carries (every `.deletes` has a data dir or base
    * pointer beside it by construction, so this is belt-and-braces).
    */
  private def tablesIn(root: String, v: String): Seq[String] = {
    val dirs = AtomicPointer.listDirNames(s"$root/$v")
    val files = AtomicPointer.listFileNames(s"$root/$v")
    (dirs.filterNot(_.endsWith(".deletes")) ++
      dirs.filter(_.endsWith(".deletes")).map(_.stripSuffix(".deletes")) ++
      files.filter(_.endsWith(".base")).map(_.stripSuffix(".base"))).distinct
  }

  /** Carry `tables` from version `cur` into the staged version `next`
    * WITHOUT copying data: each gets a `.base` pointer at its resolved data
    * version, and its cumulative tombstones (deleted-keys-sized — metadata
    * next to the table) are rewritten into `next` so every version is
    * self-contained for reads.
    */
  private def carryForward(root: String, cur: String, next: String,
                           tables: Seq[String]): Unit =
    tables.foreach { tbl =>
      tombstones(SparkSession.active, root, cur, tbl).foreach(
        _.write.mode("overwrite").parquet(s"$root/$next/$tbl.deletes"))
      AtomicPointer.write(s"$root/$next/$tbl.base", resolveBase(root, cur, tbl))
    }

  /** SNAPSHOT DIFF — what changed between two published versions of a
    * table, keyed by `keyCol`: one row per difference, labeled
    * `added` (key only in `vNew`), `removed` (key only in `vOld`), or
    * `changed` (key in both, any non-key column differing). The audit twin
    * of [[readTableAt]]: immutable versions make "what did the last merge
    * actually do" a pure query — this is how a 100 TB warehouse reviews a
    * merge before vacuuming its rollback target. One full-outer join on
    * the key; the row-equality test compares the remaining columns as a
    * struct, so it follows any schema (null-safe `<=>`).
    */
  def snapshotDiff(spark: SparkSession, root: String, table: String,
                   vOld: String, vNew: String, keyCol: String): DataFrame = {
    val old = readTableAt(spark, root, table, vOld)
    val neu = readTableAt(spark, root, table, vNew)
    val rest = old.columns.filterNot(_ == keyCol).toSeq
    require(rest == neu.columns.filterNot(_ == keyCol).toSeq,
      s"snapshotDiff: schemas differ between $vOld and $vNew — diff keys first")
    def packed(df: DataFrame, side: String) = df.select(
      col(keyCol),
      struct(rest.map(col): _*).as(s"${side}_row"),
      lit(true).as(s"in_$side"))
    packed(old, "old")
      .join(packed(neu, "new"), Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("old_row") <=> col("new_row")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(col(keyCol), col("change"), col("old_row"), col("new_row"))
  }

  /** Merge-on-read DELETE — the complementary mutation to
    * [[upsertSnapshot]]'s copy-on-write: the new snapshot version carries
    * only a `.base` pointer at the version whose files still hold the data
    * plus a cumulative tombstone table of deleted keys; NOTHING is
    * rewritten. [[readTable]] applies the tombstones as an anti-join whose
    * right side AQE broadcasts. This is the Iceberg-v2 delete-file /
    * deletion-vector shape: at 100 TB a GDPR-scale delete of a few thousand
    * keys costs one tiny parquet write instead of a full-table rewrite —
    * the read-side anti-join is the price, paid until
    * [[compactSnapshotDeletes]] folds the tombstones into a rewritten base.
    * Delete keys are deduplicated; deleting an absent key is a no-op by
    * anti-join semantics (DELETE WHERE matches nothing). The tombstone
    * column is stored under `keyCol`'s name, which is how the read side
    * knows the join key; repeated deletes must therefore target the same
    * key column (enforced).
    */
  def deleteFromSnapshot(root: String, table: String, deleteKeys: DataFrame,
                         keyCol: String): String = {
    val cur = snapshotHolding(root, table)
    val prior = tombstones(deleteKeys.sparkSession, root, cur, table)
    prior.foreach(p => require(p.columns.sameElements(Array(keyCol)),
      s"deleteFromSnapshot: existing tombstones for '$table' key on " +
        s"'${p.columns.mkString(",")}', not '$keyCol' — one delete key per table"))
    val fresh = deleteKeys.select(col(keyCol)).distinct()
    val all = prior.map(_.unionByName(fresh).distinct()).getOrElse(fresh)
    commitSnapshot(root, Seq(table)) { dir =>
      all.write.mode("overwrite").parquet(s"$dir/$table.deletes")
      AtomicPointer.write(s"$dir/$table.base", resolveBase(root, cur, table))
    }.merge
  }

  /** The current version, checked to hold `table` — the shared
    * precondition of the single-table mutators. */
  private def snapshotHolding(root: String, table: String): String = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    require(tablesIn(root, cur).contains(table),
      s"no table '$table' in snapshot $cur under $root")
    cur
  }

  /** Fold a table's tombstones into a rewritten base — the maintenance pass
    * that ends the merge-on-read era: the merged view (base minus deletes)
    * is written as a PLAIN data dir in a fresh version, tombstones and base
    * pointer dropped. After the swap, reads are a direct scan with no
    * anti-join.
    */
  def compactSnapshotDeletes(spark: SparkSession, root: String,
                             table: String): String = {
    val merged = readTableAt(spark, root, table, snapshotHolding(root, table))
    commitSnapshot(root, Seq(table))(writeTables(Map(table -> merged))).merge
  }

  /** Delete version dirs unreachable from CURRENT through the shared
    * version sweep ([[graft.store.VersionedStore.sweep]]: never above the
    * committed version, live set re-read before each delete). Reachable =
    * the CURRENT version plus every version its `.base` pointers name. This
    * RECLAIMS time-travel history by design — call it only when no reader
    * may still hold an old pointer (the same maintenance-window contract as
    * compaction). Returns the number of directories removed.
    */
  def vacuumSnapshots(root: String): Int =
    graft.store.VersionedStore.sweep(root)(currentVersion(root) match {
      case None => Set.empty
      case Some(v) =>
        tablesIn(root, v).map(resolveBase(root, v, _)).toSet + v
    })

  /** Copy-on-write MERGE/upsert (the `MERGE INTO` shape path-based table
    * formats implement): rows in `updates` REPLACE the current snapshot's
    * rows with the same `keyCol` value, and new keys append — one
    * anti-join + union, committed as a fresh snapshot version.
    *
    * This is the mutation primitive [[appendIdempotent]] deliberately
    * lacks (P21's anti-join drops already-loaded keys — it can never
    * CHANGE a row). At 100 TB the rewrite cost is the whole table per
    * merge; partition-scoped merges (rewrite only the partitions the
    * update keys touch) compose this with [[writeFactPartitioned]]'s
    * layout and are the caller's slicing decision; a DELETE at that scale
    * belongs on [[deleteFromSnapshot]]'s merge-on-read path instead.
    * `updates` must be key-unique — duplicate update keys would both
    * survive (enforced: fails fast rather than publishing an ambiguous
    * merge). Reads go through [[readTable]], so an upsert over a
    * tombstone-carrying version merges against the POST-delete view and
    * the rewritten table sheds its tombstones. The first upsert on an
    * empty root publishes `updates` as the table.
    */
  def upsertSnapshot(root: String, table: String, updates: DataFrame,
                     keyCol: String): String = {
    val dupes = updates.groupBy(col(keyCol)).count().filter(col("count") > 1)
    require(dupes.isEmpty,
      s"upsertSnapshot: duplicate update keys in '$keyCol' — merge is ambiguous")
    val merged = currentVersion(root).filter(tablesIn(root, _).contains(table)) match {
      case None => updates
      case Some(cur) => readTableAt(updates.sparkSession, root, table, cur)
        .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(updates)
    }
    commitSnapshot(root, Seq(table))(writeTables(Map(table -> merged))).merge
  }

  /** PARTITION-SCOPED copy-on-write merge — the slicing
    * [[upsertSnapshot]]'s scaladoc defers to the caller, implemented over
    * the [[writeFactPartitioned]]-style layout: only the partition
    * directories the update keys TOUCH are read back, merged, and
    * rewritten (dynamic partition overwrite replaces exactly the
    * partitions present in the written frame; every other directory's
    * files are never opened). At 100 TB an update batch touching 3 of
    * 84 months rewrites ~3.6% of the table instead of all of it — this,
    * not the whole-table merge, is the production MERGE INTO shape for
    * partitioned facts.
    *
    * The touched-partition set is a capped driver collect (`maxParts`,
    * default 1024 — partition tuples, metadata not data; an update batch
    * touching more partitions than that should take the whole-table
    * [[upsertSnapshot]] path anyway), turned into a literal predicate so
    * partition PRUNING happens at planning time on the read-back scan.
    *
    * Contract: `updates` key-unique per `keyCol` (enforced, as in
    * [[upsertSnapshot]]) and partition values IMMUTABLE per key — a
    * "moved" key (same `keyCol`, different partition tuple than the
    * stored row) would leave its old copy in a directory this merge never
    * rewrites. That invariant is standard for partitioned upserts (the
    * partition tuple is derived from the row's stable attributes); callers
    * mutating partition columns need delete + insert.
    * Returns the number of partitions rewritten.
    */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keyCol: String, partCols: Seq[String],
                        maxParts: Int = 1024): Int = {
    require(partCols.nonEmpty, "upsertPartitioned needs partition columns")
    val dupes = updates.groupBy(col(keyCol)).count().filter(col("count") > 1)
    require(dupes.isEmpty,
      s"upsertPartitioned: duplicate update keys in '$keyCol' — merge is ambiguous")
    val partRows = updates.select(partCols.map(col): _*).distinct()
      .limit(maxParts + 1).collect()
    require(partRows.length <= maxParts,
      s"upsertPartitioned: update batch touches more than $maxParts partitions — " +
        "use upsertSnapshot's whole-table merge instead")
    // literal tuple-IN over the partition columns: pruned at PLANNING time
    val touched = partRows.map { r =>
      partCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val existing = spark.read.parquet(path).filter(touched)
    // materialized BEFORE the write: the merge reads the same path it
    // rewrites, and the write must not observe (or be rejected for
    // observing) its own target — the cut frame is touched-partitions-
    // sized, not table-sized
    val merged = graft.operators.Materialize.cut(existing
      .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(updates))
    merged
      .hint("rebalance", partCols.map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
    partRows.length
  }

  /** Scale layout #1 — date-partitioned fact: `path/year=…/month=…/…` so
    * time-ranged queries (the dominant star-query shape: monthly trends,
    * quarterly, MoM growth) touch only matching partition directories.
    * Partition pruning happens at PLANNING time from the directory listing —
    * at 100 TB a one-month query reads ~1/84th of the table without a
    * filter ever reaching row level (WarehouseSpec asserts the pruned scan).
    *
    * Rows are clustered by the partition key before the partitioned write —
    * without this every upstream task writes a file into every month
    * directory (tasks × months small files; at cluster scale, millions).
    * The clustering is a REBALANCE, not a plain repartition, so AQE sizes
    * the write tasks from the shuffle's runtime statistics (VERDICT r7 #4,
    * the split compaction already does post-hoc, applied at write time for
    * free — no extra sizing pass over the fact):
    *   - a month too big for one task is SPLIT across several writers by
    *     byte size (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), so
    *     one hot month can't serialize the write or produce a single
    *     oversized file (WarehouseSpec pins the ≥2-files-for-the-big-month
    *     behavior);
    *   - months far smaller than the advisory size COALESCE into one
    *     writer, still one contiguous file per month directory.
    * With AQE off the hint degrades to exactly the previous
    * repartition-by-key clustering.
    */
  def writeFactPartitioned(fact: DataFrame, dimDate: DataFrame, path: String): Unit =
    fact
      .join(broadcast(dimDate.select(col("date_key"), col("year"), col("month"))), Seq("date_key"))
      .hint("rebalance", col("year"), col("month"))
      .write.mode("overwrite")
      .partitionBy("year", "month")
      .parquet(path)

  /** Star-join rollup over the [[writeFactPartitioned]] layout whose
    * partition pruning is DYNAMIC (runtime), not static: the selective
    * predicate lives on a DIM attribute (`quarter`), so no literal
    * partition filter exists at planning time — Spark's dynamic partition
    * pruning reuses the broadcast dim build as a pruning SUBQUERY on the
    * fact scan's partition columns, and only the qualifying month
    * directories are read (plan-pinned in ScaleOpsSpec: the scan's
    * PartitionFilters carry `dynamicpruning`, and disabling the feature
    * measurably scans every partition). At 100 TB this is THE star-schema
    * access path: every "rollup where dim-attribute = X" query prunes the
    * fact by the dim's selectivity without materializing a key list.
    * The join rides both partition columns (year, month) against the
    * quarter-filtered month dimension derived from dim_date.
    */
  def quarterRollupDpp(spark: SparkSession, path: String, dimDate: DataFrame,
                       quarter: Int): DataFrame = {
    val md = dimDate
      .select(col("year").as("dd_year"), col("month").as("dd_month"), col("quarter"))
      .distinct()
      .filter(col("quarter") === quarter)
    val fact = spark.read.parquet(path)
    fact.join(broadcast(md),
        fact("year") === md("dd_year") && fact("month") === md("dd_month"))
      .groupBy(fact("year").cast("int").as("year"),
        fact("month").cast("int").as("month"))
      .agg(count(lit(1)).as("n_txns"),
        graft.functions.Det.dsum(col("amount")).as("total_amount"))
      .orderBy("year", "month")
  }

  /** The [[writeFactPartitioned]] layout applied to the EVENT tier — a
    * day-partitioned event store (`path/event_date=…/…`). Event logs are the
    * table that actually reaches 100 TB first, and their dominant query
    * shapes (hourly windows, sessionization, funnels, day scans — the e-def
    * tier) are all time-ranged: day-grain directories turn those into
    * listing-time partition pruning instead of full-log scans. Same
    * REBALANCE clustering as the fact write: hot days split across writers
    * by byte size, cold days coalesce to one contiguous file each.
    */
  def writeEventsPartitioned(events: DataFrame, path: String): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .hint("rebalance", col("event_date"))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(path)

  /** PARTITION-SPEC EVOLUTION (the Iceberg capability a plain directory
    * layout lacks): a table whose OLDER files sit under a coarser
    * partition spec serves alongside NEWER files under a finer one, each
    * spec pruning at ITS OWN granularity in one logical read. The old
    * data is never rewritten — at 100 TB re-partitioning history is the
    * operation you cannot afford, so the Iceberg rule applies: evolve the
    * spec, new files adopt it, old files keep theirs, and predicates on
    * the newly-added partition column fall back to ordinary pushed data
    * filters on the old files (they still prune row groups via parquet
    * stats — just not at listing time).
    *
    * Layout: `path/spec0`, `path/spec1`, … — one self-consistent
    * partitioned parquet table per spec generation (mixing partition
    * depths under ONE root breaks Spark's partition discovery, which is
    * exactly why evolution needs this explicit structure).
    */
  def writeSpecEvolved(parts: Seq[(DataFrame, Seq[String])], path: String): Unit = {
    require(parts.nonEmpty, "writeSpecEvolved: at least one spec generation")
    parts.zipWithIndex.foreach { case ((df, spec), i) =>
      val clustered =
        if (spec.nonEmpty) df.hint("rebalance", spec.map(col): _*) else df
      val w = clustered.write.mode("overwrite")
      (if (spec.nonEmpty) w.partitionBy(spec: _*) else w).parquet(s"$path/spec$i")
    }
  }

  /** One logical frame over every spec generation under `path`: each
    * generation reads through its own partition discovery (so listing-time
    * pruning applies per spec) and the generations union BY NAME with
    * missing columns null-filled — the read-side column order differs
    * between specs because partition columns append at the end, and a
    * later generation may ADD a column (the schema half of Iceberg
    * schema+spec evolution); older generations serve it as null. Ordering
    * is by the NUMERIC generation suffix (`spec10` sorts after `spec2` —
    * lexicographic order silently misorders past 9 generations). Fails
    * fast on an empty or non-evolved dir.
    */
  def readSpecEvolved(spark: SparkSession, path: String): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hp), s"readSpecEvolved: $path does not exist")
    val specs = fs.listStatus(hp).map(_.getPath.getName)
      .filter(n => n.startsWith("spec") && n.drop(4).forall(_.isDigit) &&
        n.length > 4)
      .sortBy(_.drop(4).toInt)
    require(specs.nonEmpty, s"readSpecEvolved: no spec directories under $path")
    specs.map(d => spark.read.parquet(s"$path/$d"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Scale layout #5 — KEY-INDEXED flat layout for POINT LOOKUPS on a
    * non-partition key (the Delta/Iceberg "find one order in 100 TB"
    * story, without a catalog): rows range-partitioned and sorted by the
    * key, so every file and row group carries a TIGHT min/max interval in
    * its parquet stats — a point or small-IN predicate prunes to ~one row
    * group at read time — plus a parquet BLOOM FILTER on the key to kill
    * the within-range false positives stats alone cannot (a row group
    * whose [min,max] straddles the probe key but doesn't contain it).
    * Partitioning by a unique key is the anti-pattern this layout
    * replaces: one directory per key value is a listing disaster; sorted
    * stats + bloom give the same pruning with flat files.
    */
  def writeKeyIndexed(df: DataFrame, path: String, keyCol: String,
                      files: Int = 16): Unit =
    df.repartitionByRange(files, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .parquet(path)

  /** Scale layout #6 — MANIFESTED key layout for PLANNING-TIME FILE
    * pruning (the Iceberg-manifest shape; VERDICT r12 #6): the data files
    * are the key-indexed layout of [[writeKeyIndexed]] (range-partitioned,
    * sorted, bloom-filtered), PLUS a `_manifest` sidecar table of per-FILE
    * key intervals — (file, k_min, k_max, n_rows). [[manifestProbe]]
    * consults the manifest BEFORE the scan, so a point probe plans O(1)
    * files into the read without listing or footer-probing the data
    * directory: t33's layout still plans every file into the scan and
    * prunes row groups at READ time; at 100 TB (hundreds of thousands of
    * files) the listing + footer traffic is itself the bottleneck, and
    * the manifest — O(files) rows, ~KBs — is what replaces it.
    *
    * Build cost: one extra key-column-only scan of the just-written data
    * (column-pruned to the key) to derive the intervals — priced at write
    * time to buy O(1)-file serves, like every other indexed layout here.
    * The manifest names concrete file paths: rewriting the data without
    * rewriting the manifest fails the probe loudly (missing file), never
    * silently mis-serves.
    */
  private val ManifestPtr = "_MANIFEST_CURRENT"

  def writeManifested(df: DataFrame, path: String, keyCol: String,
                      files: Int = 16): Unit = {
    writeKeyIndexed(df, s"$path/data", keyCol, files)
    df.sparkSession.read.parquet(s"$path/data")
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("k_min"), max(col(keyCol)).as("k_max"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_manifests/v1")
    AtomicPointer.write(s"$path/$ManifestPtr", "v1")
  }

  /** The manifest snapshot the pointer currently publishes. Fails fast on
    * a non-manifested dir — scanning the data directory instead would
    * silently throw away the layout's contract. The pointer's first token
    * is the version (a pointer from an older build may carry a second
    * token, which nothing reads).
    */
  def currentManifest(spark: SparkSession, path: String): DataFrame = {
    val v = currentManifestVersion(path)
    require(v.isDefined,
      s"manifested layout: $path/$ManifestPtr missing — not a manifested table")
    spark.read.parquet(s"$path/_manifests/${v.get}")
  }

  def currentManifestVersion(path: String): Option[String] =
    AtomicPointer.read(s"$path/$ManifestPtr").map(_.trim.split("\\s+").head)

  /** Transactional APPEND to a manifested table — the Iceberg
    * snapshot-commit shape without a catalog (scale layout #6's write
    * path): (1) the new batch lands as NEW range-sorted data files
    * (existing files untouched — uuid part names cannot collide); (2)
    * their key intervals are computed by scanning ONLY the new files
    * (directory listing anti-joined with the current manifest by file
    * name — O(files) driver rows, bounded); (3) the union manifest is
    * written as the NEXT version directory (skip-existing allocator, so a
    * crashed attempt's leftover version is never reused); (4) the pointer
    * swaps LAST via atomic rename. The pointer IS the commit point: a
    * probe consults only the published manifest, so a crash anywhere
    * before (4) leaves the new files INVISIBLE — never half-served — and
    * prior manifest versions remain readable (index time travel). Orphan
    * files from crashed attempts are NEVER adopted (the new-file set is
    * the listing diff around THIS call's write, not a diff against the
    * manifest — adopting orphans would double rows when the crashed batch
    * is retried); they stay invisible until a vacuum. At 100 TB this is
    * the only append shape that works: no re-scan of existing data, no
    * listing on the read path, O(new files) work.
    */
  def appendManifested(df: DataFrame, path: String, keyCol: String,
                       files: Int = 4): Unit = {
    val spark = df.sparkSession
    val cur = currentManifest(spark, path)
    val freshIntervals = writeGeneration(spark, path, keyCol,
      "appendManifested: the append produced no new files") {
      df.repartitionByRange(files, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.mode("append")
        .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
        .parquet(s"$path/data")
    }
    publishNextManifest(path, cur.unionByName(freshIntervals))
  }

  /** Land one generation of data files and return their manifest rows:
    * snapshot the listing BEFORE the write, run it, and diff — new files
    * = after − before, matched by the collision-free uuid part NAME
    * (listing URIs and input_file_name URIs render differently; basenames
    * are unique). Intervals come from scanning ONLY the new files.
    */
  private def writeGeneration(spark: SparkSession, path: String,
                              keyCol: String, emptyMsg: String)
                             (write: => Unit): DataFrame = {
    val dataDir = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names() = fs.listStatus(dataDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val before = names().map(_.getName).toSet
    write
    val fresh = names().filterNot(p => before(p.getName)).map(_.toString)
    require(fresh.nonEmpty, emptyMsg)
    spark.read.parquet(fresh.toIndexedSeq: _*)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("k_min"), max(col(keyCol)).as("k_max"),
        count(lit(1)).as("n_rows"))
  }

  /** The claim file that serializes committers of manifest version `v` —
    * see [[publishNextManifest]]. Public so specs can fault-inject an
    * in-flight/crashed writer and so maintenance can release a stale
    * claim (a writer that crashed between claim and pointer swap).
    */
  def manifestClaimFile(path: String, v: Int): String =
    s"$path/_manifests/.claim-v$v"

  /** Write `rows` as manifest version base+1 and swap the pointer LAST via
    * atomic rename — the pointer IS the commit.
    *
    * CONCURRENT COMMITTERS (VERDICT r13 #7): two appends that both read
    * base manifest v_k and both published union manifests would last-
    * write-wins away the earlier commit's files (each union contains only
    * ITS OWN new files). The commit is therefore GATED by an atomic claim:
    * version v_{k+1} may only be published by the writer that CREATED
    * `.claim-v{k+1}` (create-if-absent — atomic on HDFS and object stores
    * with conditional puts; the commit primitive, like the pointer rename).
    * Claims are NEVER deleted, so the gate also covers the
    * winner-already-committed case: a second writer still holding base v_k
    * finds the claim taken and FAILS LOUDLY with nothing published — its
    * data files stay invisible orphans (never adopted; vacuumed later) and
    * the caller retries from the NEW current manifest. A writer that
    * crashes between claim and pointer swap leaves a stale claim that
    * blocks the next append equally loudly; the error names the claim
    * file, and removing it (after confirming no writer is live) unblocks —
    * the deliberate single-writer-per-version posture every manifest-based
    * table format takes, made explicit instead of assumed. The claim is
    * taken through [[AtomicPointer.createExclusive]] and is empty: it
    * records only that the version is taken.
    */
  private def publishNextManifest(path: String, rows: DataFrame): Unit = {
    val base = currentManifestVersion(path) match {
      case Some(v) => v.drop(1).toInt
      case None => throw new IllegalStateException(
        s"publishNextManifest: $path is not a manifested table")
    }
    val target = base + 1
    val claim = manifestClaimFile(path, target)
    if (!AtomicPointer.createExclusive(claim))
      throw new IllegalStateException(
        s"manifested commit conflict: $claim is already claimed — either a " +
          s"concurrent append committed v$target after this one read v$base " +
          "(retry from the new current manifest) or a crashed writer holds a " +
          "stale claim (remove the claim file after confirming no writer is live)")
    rows.coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_manifests/v$target")
    AtomicPointer.write(s"$path/$ManifestPtr", s"v$target")
  }

  /** Small-file COMPACTION for the manifested layout — the maintenance
    * pass that restores [[manifestProbe]]'s O(1)-files-per-probe contract
    * after a run of appends: each [[appendManifested]] lands its own
    * range-sorted file set over the batch's keyspan, so once batches'
    * keyspans overlap, a point probe's covering-file count decays toward
    * one file PER GENERATION (ManifestSpec measures the decay and the
    * restore). Compaction rewrites the CURRENT manifest's live files into
    * one fresh `files`-file range-partitioned sorted generation and
    * publishes it as the next manifest version:
    *   (1) read ONLY the files the current manifest names (orphans from
    *       crashed attempts are never adopted — the append's rule);
    *   (2) the rewrite lands as NEW data files beside the old (uuid part
    *       names cannot collide; existing files untouched);
    *   (3) a manifest naming ONLY the new generation publishes through
    *       the shared allocator + pointer swap.
    * The pointer IS the commit point: a crash anywhere leaves the old
    * generation serving and the half-written rewrite invisible
    * ([[vacuumManifested]] reclaims it as orphans); after the commit the
    * OLD data files become unreferenced and the SAME vacuum reclaims
    * them — compaction itself deletes nothing, so a reader holding the
    * prior manifest version keeps a consistent snapshot until the
    * maintenance window closes (Iceberg's rewrite_data_files / expire
    * split). O(live bytes) work, one shuffle, no listing on the read
    * side; single-maintainer contract, same as [[compactPartitions]].
    */
  def compactManifested(spark: SparkSession, path: String, keyCol: String,
                        files: Int = 8): Unit = {
    val live = currentManifest(spark, path)
      .select("file").collect().map(_.getString(0))
    val intervals = writeGeneration(spark, path, keyCol,
      "compactManifested: the rewrite produced no files") {
      spark.read.parquet(live.toIndexedSeq: _*)
        .repartitionByRange(files, col(keyCol))
        .sortWithinPartitions(keyCol)
        .write.mode("append")
        .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
        .parquet(s"$path/data")
    }
    publishNextManifest(path, intervals)
  }

  /** Reclaim a manifested table's dead bytes: data files NOT referenced
    * by the CURRENT manifest (orphans from crashed appends — the files
    * [[appendManifested]] deliberately never adopts) and manifest version
    * dirs below the published one through the shared version sweep
    * ([[graft.store.VersionedStore.sweep]]; superseded index snapshots —
    * this reclaims index time travel by design, the same
    * maintenance-window contract as [[vacuumSnapshots]]).
    *
    * Writer-safety: an IN-FLIGHT append has already landed data files
    * that no manifest references yet — deleting those would let the
    * append commit a manifest naming vanished files. The guard is the
    * commit clock: only files whose modification time predates the
    * pointer's last commit are orphan candidates (an uncommitted file
    * older than the last commit can never become live, because appends
    * only adopt files they themselves just wrote), and the pointer is
    * re-read immediately before each file delete. Returns (orphan data
    * files deleted, manifest versions deleted).
    */
  def vacuumManifested(spark: SparkSession, path: String): (Int, Int) = {
    val ptrPath = s"$path/$ManifestPtr"
    val cur = currentManifestVersion(path)
    require(cur.isDefined,
      s"vacuumManifested: $ptrPath missing — not a manifested table")
    val curV = cur.get
    val live = currentManifest(spark, path).select("file").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    val dataDir = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitTime = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(ptrPath)).getModificationTime
    val orphans = fs.listStatus(dataDir)
      .filter(st => st.getPath.getName.endsWith(".parquet") &&
        !live(st.getPath.getName) && st.getModificationTime < commitTime)
    val nFiles = orphans.count { st =>
      currentManifestVersion(path).contains(curV) &&
        fs.delete(st.getPath, false)
    }
    val nVersions = graft.store.VersionedStore.sweep(s"$path/_manifests")(
      currentManifestVersion(path).toSet)
    // commit claims are NEVER vacuumed: a claim's permanence is the
    // invariant that stops an arbitrarily-stale writer from re-claiming a
    // spent version and regressing the pointer (one empty file per
    // version — the same order of metadata as the version dirs themselves)
    (nFiles, nVersions)
  }

  /** Point/small-IN probe through the manifest: read the O(files)-row
    * manifest (a bounded driver materialization — one row per data file),
    * keep only files whose [k_min, k_max] interval can contain a probed
    * key, and plan ONLY those into the scan. The residual equality filter
    * still pushes into the pruned files (row-group stats + bloom finish
    * the job inside the file).
    */
  def manifestProbe(spark: SparkSession, path: String, keyCol: String,
                    keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "manifestProbe: no probe keys")
    val hit = keys.map(k => col("k_min") <= k && col("k_max") >= k)
      .reduce(_ || _)
    val files = currentManifest(spark, path)
      .filter(hit).select("file").collect().map(_.getString(0))
    if (files.isEmpty)
      spark.read.parquet(s"$path/data").filter(lit(false))
    else
      spark.read.parquet(files.toIndexedSeq: _*)
        .filter(col(keyCol).isin(keys: _*))
  }

  /** Range scan through the manifest — [[manifestProbe]]'s interval form
    * (completing the serve surface: point, small-IN, range): plan ONLY the
    * files whose [k_min, k_max] interval OVERLAPS [lo, hi]. Because the
    * data files are range-partitioned and key-sorted, a band of the
    * keyspace lives in a contiguous run of files, so the planned-file
    * count is proportional to the band width, not the table — the
    * "scan one day of a year" shape at 100 TB. The residual BETWEEN still
    * pushes into the pruned files (row-group stats finish inside the
    * boundary files).
    */
  def manifestRangeScan(spark: SparkSession, path: String, keyCol: String,
                        lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"manifestRangeScan: empty interval [$lo, $hi]")
    val files = currentManifest(spark, path)
      .filter(col("k_min") <= hi && col("k_max") >= lo)
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty)
      spark.read.parquet(s"$path/data").filter(lit(false))
    else
      spark.read.parquet(files.toIndexedSeq: _*)
        .filter(col(keyCol).between(lo, hi))
  }

  /** Scale layout #2 — bucketed fact: pre-shuffled into N buckets by a join
    * key and sorted within buckets. Every subsequent aggregation or join ON
    * that key plans WITHOUT an exchange (the one-time shuffle at write
    * amortizes across every downstream query) — the co-located-join pattern
    * for fact⋈fact and fact⋈big-dim at 100 TB. Bucketing needs the table
    * catalog, hence saveAsTable.
    */
  def writeFactBucketed(fact: DataFrame, table: String, bucketCol: String,
                        nBuckets: Int = 32, path: Option[String] = None): Unit = {
    val w = fact.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
    // explicit path → external bucketed table (callers running under a
    // driver-owned CWD must not litter a spark-warehouse/ dir there)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Scale layout #3 — small-file compaction for a partitioned table: the
    * maintenance pass every high-ingest warehouse needs. Incremental
    * appends (P17) and wide writers leave each partition directory littered
    * with files far below the parquet sweet spot; at cluster scale the
    * footer/open overhead and planner listing cost dominate scans.
    *
    * Mechanics:
    *   1. one driver-side recursive listing finds partition directories
    *      holding ≥ `minFiles` data files (metadata only — the same listing
    *      the planner already performs);
    *   2. ONLY those partitions are read back (`basePath` keeps the
    *      partition columns), each assigned
    *      `ceil(partitionBytes / targetFileBytes)` output files — rows
    *      scatter across that count by a content hash, so layout is
    *      deterministic and a partition bigger than one target file splits
    *      instead of becoming a single giant file;
    *   3. the rewrite lands in a staging directory; every fragmented
    *      partition is validated to have a staged replacement BEFORE any
    *      swap (a partition whose files hold zero rows stages nothing — it
    *      is left fully old, never aborted mid-swap); then each compacted
    *      partition directory is swapped in with two atomic moves (old →
    *      trash, staged → live). (Table formats make step 3 a metadata
    *      commit; this is the path-based equivalent.)
    *
    * CRASH SAFETY: a crash mid-swap can leave a partition parked under
    * `.compact-trash` with its live directory absent (the instant between
    * the two renames). Every run begins by RESTORING any such parked
    * partition before listing, so no crash outcome loses data or leaves a
    * partition invisible beyond the crashed process's lifetime.
    *
    * READER ISOLATION (documented contract): compaction is a MAINTENANCE
    * operation — a reader that lists the table concurrently with the swap
    * can miss the in-flight partition for the duration of the two renames.
    * Readers needing snapshot isolation during compaction should read
    * through [[publishSnapshot]]/[[readTable]]'s versioned layout instead
    * of raw partition paths; CompactionSpec pins this contract.
    *
    * Partition-dir names are derived from `input_file_name()` — the actual
    * on-disk directory each row was read from — NOT re-rendered from the
    * partition column values, so null partitions (__HIVE_DEFAULT_PARTITION__),
    * percent-escaped values (':', '=', '%'), and type-inference drift
    * (month=05 vs month=5) all round-trip byte-exactly. Partition values
    * are read with type inference OFF for the same reason: the staged
    * rewrite re-escapes the parsed string value into the identical dir
    * name. The read also merges schemas across files, so a schema-evolved
    * partition keeps columns present only in newer files (ADVICE r6).
    *
    * Untouched partitions are never read or rewritten — compaction cost is
    * proportional to the fragmented fraction, not the table size.
    */
  /** `partitionsSkipped` surfaces the anomaly case (ADVICE r7): a NON-EMPTY
    * fragmented partition whose staged rewrite produced no replacement is
    * left fully old — defensively correct, but a real rewrite bug (e.g. a
    * __dir join-key mismatch) would otherwise masquerade as a clean run
    * that simply never converges. Operators should treat a non-empty value
    * as a defect to investigate, not a steady state.
    */
  final case class CompactionStats(partitionsCompacted: Int, filesBefore: Long,
                                   filesAfter: Long, bytesRewritten: Long,
                                   partitionsSkipped: Seq[String] = Seq.empty)

  def compactPartitioned(spark: SparkSession, path: String,
                         partitionCols: Seq[String],
                         targetFileBytes: Long = 128L << 20,
                         minFiles: Int = 2): CompactionStats = {
    require(partitionCols.nonEmpty && targetFileBytes > 0 && minFiles >= 2)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    // fully qualify (scheme + authority) so URI relativization against the
    // listing's qualified paths yields partition-relative dirs
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val staging = new org.apache.hadoop.fs.Path(root, ".compact-staging")
    val trash = new org.apache.hadoop.fs.Path(root, ".compact-trash")

    // 0. recovery: a crash between the two swap renames leaves a partition's
    // ONLY copy parked in trash (live dir absent). Restore any such parked
    // partition before listing — trash entries are flat, URL-encoded rel
    // dirs, so the mapping back is exact for every legal dir name. A
    // pre-URL-encoding release parked partitions as rel.replace('/', '~');
    // URLEncoder never EMITS a literal '~' ('~' encodes to %7E), so a trash
    // name containing one is unambiguously legacy and decodes by the old
    // rule — without this, recovering a legacy crash would restore
    // 'year=1996~month=5' as a bogus top-level dir and break partition
    // discovery for the whole table (ADVICE r7).
    if (fs.exists(trash)) {
      fs.listStatus(trash).foreach { st =>
        val name = st.getPath.getName
        val rel =
          if (name.contains("~")) name.replace('~', '/')
          else java.net.URLDecoder.decode(name, "UTF-8")
        val live = new org.apache.hadoop.fs.Path(root, rel)
        if (!fs.exists(live)) {
          val parent = live.getParent
          if (parent != null) fs.mkdirs(parent)
          if (!fs.rename(st.getPath, live))
            throw new java.io.IOException(s"compaction recovery: cannot restore $rel")
        }
      }
    }
    fs.delete(staging, true); fs.delete(trash, true)

    // 1. per-partition-directory (file count, bytes) from one recursive listing
    val byDir = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val rel = root.toUri.relativize(f.getPath.getParent.toUri).getPath
        // a crashed prior run can leave .compact-* dirs — never treat them
        // as partitions (their live twins are still intact, see step 3)
        if (rel.nonEmpty && !rel.startsWith(".")) {
          val (n, b) = byDir.getOrElse(rel, (0L, 0L))
          byDir(rel) = (n + 1, b + f.getLen)
        }
      }
    }
    // rewrite only where it SHRINKS the file count: ≥ minFiles present and
    // more than the size-derived target
    val fragmented = byDir.filter { case (_, (n, bytes)) =>
      n >= minFiles && n > (bytes - 1) / targetFileBytes + 1 }.toMap
    if (fragmented.isEmpty) return CompactionStats(0, byDir.values.map(_._1).sum,
      byDir.values.map(_._1).sum, 0L)

    // 2. read only fragmented partitions; scatter each over its target count.
    // Partition values are parsed WITHOUT type inference (strings round-trip
    // through the staged write into byte-identical dir names) — scoped to a
    // CLONED session so concurrent readers of this SparkSession keep their
    // typed partition columns (ADVICE r7); schemas merge across files so
    // evolved columns survive the rewrite (ADVICE r6).
    val readSession = spark.newSession()
    readSession.conf.set(
      "spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val srcDirs = fragmented.keys.toSeq.sorted.map(rel => s"$path/$rel")
    val salted = {
      val src = readSession.read
        .option("basePath", path).option("mergeSchema", "true")
        .parquet(srcDirs: _*)
      // partition-dir string form (e.g. "year=1996/month=5") ← the actual
      // on-disk directory the row came from (the last |partitionCols| path
      // components above the file name), NOT re-rendered from the column
      // values — exact for nulls, escapes, and leading zeros (ADVICE r6).
      // input_file_name() reports the URI form ('%' in on-disk names
      // double-encodes to %25), so the join keys are the listing's rel
      // dirs re-encoded the same way (Path.toUri).
      val comps = split(input_file_name(), "/")
      val dirExpr = concat_ws("/",
        (partitionCols.length to 1 by -1).map(i => element_at(comps, -(i + 1))): _*)
      def uriRel(rel: String): String =
        root.toUri.relativize(new org.apache.hadoop.fs.Path(root, rel).toUri).toString
      val targets = fragmented.toSeq.map { case (rel, (_, bytes)) =>
        (uriRel(rel), math.max(1L, (bytes - 1) / targetFileBytes + 1)) }
      val targetDf = readSession.createDataFrame(targets).toDF("__dir", "__nfiles")
      val dataCols = src.columns.filterNot(partitionCols.contains)
      src.withColumn("__dir", dirExpr)
        .join(broadcast(targetDf), Seq("__dir"))
        .withColumn("__salt",
          pmod(if (dataCols.isEmpty) lit(0L)
               else xxhash64(dataCols.map(col).toIndexedSeq: _*),
            col("__nfiles")).cast("int"))
        .repartition(partitionCols.map(col) :+ col("__salt"): _*)
        .drop("__dir", "__nfiles", "__salt")
    }

    // 3. staging write + validate + per-directory atomic swap
    salted.write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(staging.toString)
    // validate BEFORE any swap: every partition we're about to move aside
    // must have a staged replacement — never abort after some partitions
    // have already swapped. A fragmented partition that staged NOTHING is
    // either all zero-row files (compact it by removing the dir: zero rows
    // is semantically identical, and otherwise every future run re-reads
    // and re-stages it forever — ADVICE r7) or evidence the rewrite lost
    // rows (verified by re-counting: a non-empty skipped partition stays
    // fully old, the originals are never deleted).
    val (swappable, skipped) = fragmented.keys.toSeq.sorted.partition { rel =>
      fs.exists(new org.apache.hadoop.fs.Path(staging, rel)) }
    val emptied = skipped.filter { rel =>
      readSession.read.option("basePath", path).parquet(s"$path/$rel").isEmpty }
    fs.mkdirs(trash)
    emptied.foreach { rel =>
      val aside = new org.apache.hadoop.fs.Path(trash,
        java.net.URLEncoder.encode(rel, "UTF-8"))
      if (!fs.rename(new org.apache.hadoop.fs.Path(root, rel), aside))
        throw new java.io.IOException(s"compaction: cannot remove empty $rel")
    }
    swappable.foreach { rel =>
      val live = new org.apache.hadoop.fs.Path(root, rel)
      val staged = new org.apache.hadoop.fs.Path(staging, rel)
      val aside = new org.apache.hadoop.fs.Path(trash,
        java.net.URLEncoder.encode(rel, "UTF-8"))
      if (!fs.rename(live, aside))
        throw new java.io.IOException(s"compaction: cannot move $live aside")
      if (!fs.rename(staged, live)) {
        fs.rename(aside, live) // restore — partition stays fully old
        throw new java.io.IOException(s"compaction: cannot publish $staged")
      }
    }
    fs.delete(staging, true); fs.delete(trash, true)
    val compacted = fragmented.view
      .filterKeys(rel => swappable.contains(rel) || emptied.contains(rel)).toMap

    val after = {
      var n = 0L
      val it2 = fs.listFiles(root, true)
      while (it2.hasNext) {
        val f = it2.next()
        if (f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")) n += 1
      }
      n
    }
    CompactionStats(compacted.size, byDir.values.map(_._1).sum, after,
      compacted.values.map(_._2).sum,
      partitionsSkipped = skipped.filterNot(emptied.contains))
  }

  /** P25 — pre-flight: warehouse exists, pointer readable, all required
    * tables present and non-empty (reference src/etl_pipeline.py:65-183).
    */
  final case class PreFlight(ok: Boolean, problems: Seq[String], rowCounts: Map[String, Long])

  def preFlight(spark: SparkSession, root: String, required: Seq[String]): PreFlight = {
    currentVersion(root) match {
      case None => PreFlight(ok = false, Seq(s"no CURRENT snapshot pointer under $root"), Map.empty)
      case Some(v) =>
        val present = tablesIn(root, v).toSet
        val (problems, counts) = required.foldLeft((Seq.empty[String], Map.empty[String, Long])) {
          case ((ps, cs), t) =>
            // presence via the version manifest (a merge-on-read version
            // carries a table as a .base pointer, not a data dir), counts
            // via the resolving read path so tombstones are honored
            if (!present.contains(t)) (ps :+ s"missing table $t in $v", cs)
            else {
              val n = readTable(spark, root, t).count()
              (if (n == 0) ps :+ s"table $t is empty" else ps, cs + (t -> n))
            }
        }
        PreFlight(problems.isEmpty, problems, counts)
    }
  }
}
