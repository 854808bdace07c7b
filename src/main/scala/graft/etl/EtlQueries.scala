package graft.etl

import graft.{QueryDef, Tables}
import graft.functions.Det.{dsum, dsumPartial, dsum6Partial, sqlDsum, sqlDsum6}
import graft.functions.PyTitle.sqlPyTitle
import graft.warehouse.ParquetWarehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ETL-half QueryDefs (SURVEY §2.A) — each pairs a TxnPipeline stage with a
  * DuckDB oracle that recomputes the SAME stage in SQL from the shared
  * deterministic dirty source, so the correctness gate covers the reference's
  * transform/star-build semantics end-to-end (VERDICT r1 "Next round" #1/#3).
  */
object EtlQueries {

  /** ETL stages depend on permissive cast-null coercion (pandas
    * errors='coerce'); Spark 4 defaults ANSI on, which would throw instead.
    * Set per-session at run time so the defs behave under any driver session.
    */
  private def permissive(s: SparkSession): Unit =
    s.conf.set("spark.sql.ansi.enabled", "false")

  private def q(name: String, oracle: String, headline: Boolean = false)(
      f: Tables => DataFrame): QueryDef =
    QueryDef(name, (s: SparkSession, dir: String) => { permissive(s); f(Tables(s, dir)) },
      Some(oracle), headline)

  // ------------------------------------------------------------ oracle CTEs

  private val cats = TxnPipeline.AllowedCategories.map(s => s"'$s'").mkString(", ")
  private val pays = TxnPipeline.AllowedPayments.map(s => s"'$s'").mkString(", ")

  private val dateAttrsSql =
    """CAST(strftime(date, '%Y%m%d') AS INT) AS date_key, date,
       CAST(year(date) AS INT) AS year, CAST(quarter(date) AS INT) AS quarter,
       CAST(month(date) AS INT) AS month, CAST(day(date) AS INT) AS day,
       monthname(date) AS month_name, dayname(date) AS day_name,
       CAST(isodow(date) AS INT) AS day_of_week,
       CAST(weekofyear(date) AS INT) AS week_of_year,
       isodow(date) IN (6, 7) AS is_weekend"""

  /** Shared WITH prefix recomputing the whole pipeline in DuckDB, over a
    * caller-chosen dirty source CTE (the full derivation by default; t26
    * passes a deterministic slice — see [[withPrefixQuarter]]).
    */
  private def mkPrefix(dirtyCte: String): String =
    s"""WITH dirty AS ($dirtyCte),
    dedup AS (
      SELECT * FROM (
        SELECT d.*, ROW_NUMBER() OVER (PARTITION BY transaction_id ORDER BY seq) AS rn
        FROM dirty d) z
      WHERE rn = 1),
    pre AS (
      SELECT seq, transaction_id,
             category AS cat_raw, amount AS amt_raw, merchant AS merch_raw,
             payment_method AS pay_raw, user_id AS user_raw, date AS date_raw,
             trim(category) AS cat_t,
             regexp_replace(trim(merchant), '\\s+', ' ', 'g') AS merch_t,
             trim(payment_method) AS pay_t,
             trim(date) AS date_t, trim(amount) AS amt_t, trim(user_id) AS user_t
      FROM dedup),
    std AS (
      SELECT seq, transaction_id, cat_raw, amt_raw, merch_raw, pay_raw, user_raw, date_raw,
             ${sqlPyTitle("cat_t")} AS category,
             ${sqlPyTitle("merch_t")} AS merchant,
             ${sqlPyTitle("pay_t")} AS payment_method,
             TRY_CAST(date_t AS DATE) AS date,
             TRY_CAST(amt_t AS DECIMAL(10,3)) AS amt3,
             CASE WHEN regexp_matches(user_t, '^-?[0-9]+$$') THEN CAST(user_t AS BIGINT) END AS user_id
      FROM pre),
    std2 AS (
      SELECT * EXCLUDE (ami),
             CASE WHEN amt3 IS NULL THEN NULL ELSE
               (CASE WHEN amt3 < 0 THEN -1.0 ELSE 1.0 END) *
               (CAST(ami // 10 + (CASE WHEN ami % 10 > 5
                                       OR (ami % 10 = 5 AND (ami // 10) % 2 = 1)
                                  THEN 1 ELSE 0 END) AS DOUBLE) / 100.0) END AS amount
      FROM (SELECT *, CAST(abs(amt3) * 1000 AS BIGINT) AS ami FROM std) z),
    flags AS (
      SELECT *,
        (transaction_id IS NULL OR date_raw IS NULL OR cat_raw IS NULL OR amt_raw IS NULL
         OR merch_raw IS NULL OR pay_raw IS NULL OR user_raw IS NULL) AS f_null_required,
        (amount IS NULL OR amount <= 0) AS f_amount_nonpos,
        (amount IS NOT NULL AND amount > 10000.0) AS f_amount_excessive,
        (date IS NULL) AS f_date_unparseable,
        (date IS NOT NULL AND date < DATE '${TxnPipeline.MinValidDate}') AS f_date_old,
        (date IS NOT NULL AND date > DATE '${TxnPipeline.MaxValidDate}') AS f_date_future,
        (category IS NULL OR category NOT IN ($cats)) AS f_category_invalid,
        (payment_method IS NULL OR payment_method NOT IN ($pays)) AS f_payment_invalid,
        (user_id IS NULL) AS f_user_invalid
      FROM std2),
    flags2 AS (
      SELECT *, NOT (f_null_required OR f_amount_nonpos OR f_amount_excessive
                     OR f_date_unparseable OR f_date_old OR f_date_future
                     OR f_category_invalid OR f_payment_invalid OR f_user_invalid) AS is_valid
      FROM flags),
    valid AS (
      SELECT transaction_id, date, category, amount, merchant, payment_method, user_id
      FROM flags2 WHERE is_valid),
    dim_category AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY category_name) AS INT) AS category_key, category_name
      FROM (SELECT DISTINCT category AS category_name FROM valid) z),
    dim_merchant AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY merchant_name) AS INT) AS merchant_key, merchant_name
      FROM (SELECT DISTINCT merchant AS merchant_name FROM valid) z),
    dim_payment_method AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY payment_method_name) AS INT) AS payment_method_key,
             payment_method_name
      FROM (SELECT DISTINCT payment_method AS payment_method_name FROM valid) z),
    dim_user AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY user_id) AS INT) AS user_key, user_id
      FROM (SELECT DISTINCT user_id FROM valid) z),
    dim_date AS (
      SELECT $dateAttrsSql
      FROM (SELECT DISTINCT date FROM valid) z),
    fact AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY v.transaction_id) AS INT) AS transaction_key,
             v.transaction_id, dd.date_key, dc.category_key, dm.merchant_key,
             dp.payment_method_key, du.user_key, v.amount
      FROM valid v
      JOIN dim_category dc ON v.category = dc.category_name
      JOIN dim_merchant dm ON v.merchant = dm.merchant_name
      JOIN dim_payment_method dp ON v.payment_method = dp.payment_method_name
      JOIN dim_user du ON v.user_id = du.user_id
      JOIN dim_date dd ON v.date = dd.date)"""

  private val withPrefix: String = mkPrefix(DirtyTxns.oracleCte)

  /** t26's prefix: the dirty source sliced to every 4th ORDER (seq div 2 is
    * the originating o_orderkey, so a duplicate row rides with its primary
    * and the dedup stage still sees pairs). The WAP def proves the
    * audit/publish protocol, not the star build — a quarter-sized star
    * carries the same proof at a quarter of the bench cost (VERDICT r14 #8).
    */
  private val withPrefixQuarter: String =
    mkPrefix(s"SELECT * FROM (${DirtyTxns.oracleCte}) WHERE (seq // 2) % 4 = 0")

  // -------------------------------------------------------------- QueryDefs

  // t01 — P-source cross-check: the dirty derivation itself must agree
  // between engines before any stage is tested on top of it.
  private val t01 = q("t01_dirty_source",
    s"$withPrefix SELECT * FROM dirty ORDER BY seq") { t =>
    DirtyTxns(t.orders).orderBy("seq")
  }

  // t02 — P5-P11: dedup keep-first + standardize + coerce (headline: this is
  // the reference's transform hot path).
  // (date is exposed as VARCHAR here because this stage legitimately contains
  // NULL dates — unparseable inputs — and NULL dates can't be hash-compared
  // as NaT; valid-only outputs downstream keep DATE type.)
  private val t02 = q("t02_standardized",
    s"""$withPrefix
       SELECT seq, transaction_id, category, merchant, payment_method,
              CAST(date AS VARCHAR) AS date, amount, user_id
       FROM std2 ORDER BY seq""",
    headline = true) { t =>
    TxnPipeline.standardize(TxnPipeline.dedupKeepFirst(DirtyTxns(t.orders)))
      .withColumn("date", col("date").cast("string"))
      .select("seq", "transaction_id", "category", "merchant", "payment_method",
        "date", "amount", "user_id")
      .orderBy("seq")
  }

  // t03 — P12 issue accounting: per-rule violation counts + valid count,
  // mirroring the reference's logged validation summary.
  private val t03 = q("t03_issue_counts",
    s"""$withPrefix
       SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dirty) AS n_raw,
              CAST(COUNT(*) AS BIGINT) AS n_deduped,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM dirty) - CAST(COUNT(*) AS BIGINT) AS n_dup_removed,
              CAST(SUM(CASE WHEN f_null_required THEN 1 ELSE 0 END) AS BIGINT) AS n_null_required,
              CAST(SUM(CASE WHEN f_amount_nonpos THEN 1 ELSE 0 END) AS BIGINT) AS n_amount_nonpos,
              CAST(SUM(CASE WHEN f_amount_excessive THEN 1 ELSE 0 END) AS BIGINT) AS n_amount_excessive,
              CAST(SUM(CASE WHEN f_date_unparseable THEN 1 ELSE 0 END) AS BIGINT) AS n_date_unparseable,
              CAST(SUM(CASE WHEN f_date_old THEN 1 ELSE 0 END) AS BIGINT) AS n_date_old,
              CAST(SUM(CASE WHEN f_date_future THEN 1 ELSE 0 END) AS BIGINT) AS n_date_future,
              CAST(SUM(CASE WHEN f_category_invalid THEN 1 ELSE 0 END) AS BIGINT) AS n_category_invalid,
              CAST(SUM(CASE WHEN f_payment_invalid THEN 1 ELSE 0 END) AS BIGINT) AS n_payment_invalid,
              CAST(SUM(CASE WHEN f_user_invalid THEN 1 ELSE 0 END) AS BIGINT) AS n_user_invalid,
              CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
       FROM flags2""") { t =>
    val raw = DirtyTxns(t.orders)
    val flags = TxnPipeline.withFlags(TxnPipeline.standardize(TxnPipeline.dedupKeepFirst(raw)))
    val flagSums = Seq(
      "f_null_required", "f_amount_nonpos", "f_amount_excessive", "f_date_unparseable",
      "f_date_old", "f_date_future", "f_category_invalid", "f_payment_invalid",
      "f_user_invalid").map(f => sum(col(f).cast("long")).as("n_" + f.stripPrefix("f_")))
    flags.agg(count(lit(1)).as("n_deduped"),
        (flagSums :+ sum(col("is_valid").cast("long")).as("n_valid")): _*)
      .crossJoin(broadcast(raw.agg(count(lit(1)).as("n_raw"))))
      .withColumn("n_dup_removed", col("n_raw") - col("n_deduped"))
  }

  // t04 — the transform output contract: clean, typed, valid transactions.
  private val t04 = q("t04_valid_txns",
    s"$withPrefix SELECT * FROM valid ORDER BY transaction_id",
    headline = true) { t =>
    TxnPipeline.cleanValid(DirtyTxns(t.orders)).orderBy("transaction_id")
  }

  // t05 — P14: dim_date with all 11 attributes from data dates.
  private val t05 = q("t05_dim_date",
    s"$withPrefix SELECT * FROM dim_date ORDER BY date_key") { t =>
    TxnPipeline.dimDate(TxnPipeline.cleanValid(DirtyTxns(t.orders))).orderBy("date_key")
  }

  // t06-t09 — P15+P18: distinct-extract dims with deterministic surrogate keys.
  private val t06 = q("t06_dim_category",
    s"$withPrefix SELECT * FROM dim_category ORDER BY category_key") { t =>
    TxnPipeline.dimCategory(TxnPipeline.cleanValid(DirtyTxns(t.orders))).orderBy("category_key")
  }
  private val t07 = q("t07_dim_merchant",
    s"$withPrefix SELECT * FROM dim_merchant ORDER BY merchant_key") { t =>
    TxnPipeline.dimMerchant(TxnPipeline.cleanValid(DirtyTxns(t.orders))).orderBy("merchant_key")
  }
  private val t08 = q("t08_dim_payment",
    s"$withPrefix SELECT * FROM dim_payment_method ORDER BY payment_method_key") { t =>
    TxnPipeline.dimPayment(TxnPipeline.cleanValid(DirtyTxns(t.orders))).orderBy("payment_method_key")
  }
  private val t09 = q("t09_dim_user",
    s"$withPrefix SELECT * FROM dim_user ORDER BY user_key") { t =>
    TxnPipeline.dimUser(TxnPipeline.cleanValid(DirtyTxns(t.orders))).orderBy("user_key")
  }

  // t10 — P16+P18+P20: the enriched fact with all 5 surrogate keys.
  private val t10 = q("t10_fact_build",
    s"$withPrefix SELECT * FROM fact ORDER BY transaction_key",
    headline = true) { t =>
    // six consumers of the valid set (5 dims + fact) — persist the cut;
    // the two bounded domains collect in ONE fused job (r17, §1.2). The
    // scalable dims stay LAZY here: they are consumed exactly twice (the
    // fact's dense-key offsets job + the output job), and an A/B measured
    // cutting them as a net LOSS for this shape (3 extra checkpoint jobs
    // vs a partial recompute saved — t10 3.2→4.5 s); starDims cuts only
    // the date dim, for the write/read lifecycles (t13/t38/t26).
    val valid = TxnPipeline.cleanValid(DirtyTxns(t.orders))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dc, dp) = TxnPipeline.dimsBoundedFused(valid)
    TxnPipeline.buildFact(valid, dc, TxnPipeline.dimMerchant(valid),
      dp, TxnPipeline.dimUser(valid), TxnPipeline.dimDate(valid))
      .orderBy("transaction_key")
  }

  // t11 — P17/P21: idempotent incremental load = anti-join against the
  // already-loaded key set (reference src/load.py:534-582).
  private val t11 = q("t11_incremental_antijoin",
    s"""$withPrefix
       SELECT transaction_id FROM valid
       WHERE transaction_id NOT IN (SELECT transaction_id FROM valid WHERE user_id % 2 = 0)
       ORDER BY transaction_id""") { t =>
    // both the incoming set and the existing-keys branch read the valid
    // frame — persist so clean+validate runs once
    val valid = TxnPipeline.cleanValid(DirtyTxns(t.orders))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val existing = valid.filter(col("user_id") % 2 === 0).select("transaction_id")
    valid.join(existing, Seq("transaction_id"), "left_anti")
      .select("transaction_id").orderBy("transaction_id")
  }

  // t12 — P24: dim_date pre-population over the fixed calendar range
  // (sequence() + date attrs; reference sql/populate_dim_date.sql).
  private val t12 = q("t12_dim_date_range",
    s"""SELECT $dateAttrsSql
       FROM (SELECT CAST(unnest(generate_series(DATE '${TxnPipeline.MinValidDate}',
                                                DATE '${TxnPipeline.MaxValidDate}',
                                                INTERVAL 1 DAY)) AS DATE) AS date) z
       ORDER BY date_key""") { t =>
    TxnPipeline.dimDateRange(t.spark).orderBy("date_key")
  }

  /** Shared oracle tail for the CSV-ingestion defs: standardize + coerce +
    * validate + final valid projection over a `dedup` CTE the caller
    * provides. `seq` (file order) is only consumed by the caller's dedup.
    */
  private val csvCleanTail: String =
    s""",
       pre AS (
         SELECT transaction_id,
                category AS cat_raw, amount AS amt_raw, merchant AS merch_raw,
                payment_method AS pay_raw, user_id AS user_raw, date AS date_raw,
                trim(category) AS cat_t,
                regexp_replace(trim(merchant), '\\s+', ' ', 'g') AS merch_t,
                trim(payment_method) AS pay_t,
                trim(date) AS date_t, trim(amount) AS amt_t, trim(user_id) AS user_t
         FROM dedup),
       std AS (
         SELECT transaction_id, cat_raw, amt_raw, merch_raw, pay_raw, user_raw, date_raw,
                ${sqlPyTitle("cat_t")} AS category,
                ${sqlPyTitle("merch_t")} AS merchant,
                ${sqlPyTitle("pay_t")} AS payment_method,
                TRY_CAST(date_t AS DATE) AS date,
                TRY_CAST(amt_t AS DECIMAL(10,3)) AS amt3,
                CASE WHEN regexp_matches(user_t, '^-?[0-9]+$$') THEN CAST(user_t AS BIGINT) END AS user_id
         FROM pre),
       std2 AS (
         SELECT * EXCLUDE (ami),
                CASE WHEN amt3 IS NULL THEN NULL ELSE
                  (CASE WHEN amt3 < 0 THEN -1.0 ELSE 1.0 END) *
                  (CAST(ami // 10 + (CASE WHEN ami % 10 > 5
                                          OR (ami % 10 = 5 AND (ami // 10) % 2 = 1)
                                     THEN 1 ELSE 0 END) AS DOUBLE) / 100.0) END AS amount
         FROM (SELECT *, CAST(abs(amt3) * 1000 AS BIGINT) AS ami FROM std) z)
       SELECT transaction_id, date, category, amount, merchant, payment_method, user_id
       FROM std2
       WHERE NOT (transaction_id IS NULL OR date_raw IS NULL OR cat_raw IS NULL
                  OR amt_raw IS NULL OR merch_raw IS NULL OR pay_raw IS NULL OR user_raw IS NULL)
         AND amount IS NOT NULL AND amount > 0 AND amount <= 10000.0
         AND date IS NOT NULL AND date >= DATE '${TxnPipeline.MinValidDate}'
         AND date <= DATE '${TxnPipeline.MaxValidDate}'
         AND category IN ($cats) AND payment_method IN ($pays)
         AND user_id IS NOT NULL
       ORDER BY transaction_id"""

  // t13 — the date-partitioned warehouse layout THROUGH the correctness
  // gate (VERDICT r3 #5): build the star, write the fact through
  // writeFactPartitioned (year=/month= directory layout), read it back with
  // a one-month predicate — answered from partition pruning, not row
  // filters (WarehouseSpec asserts the PartitionFilters plan) — and
  // aggregate. The oracle computes the same month off the UNPARTITIONED
  // star, so a row lost or duplicated by the partitioned write/read cycle
  // hash-fails here.
  private val t13 = q("t13_partitioned_month_scan",
    s"""$withPrefix
       SELECT f.category_key, CAST(COUNT(*) AS BIGINT) AS n_txns,
              ${sqlDsum("f.amount")} AS total_amount
       FROM fact f JOIN dim_date dd ON f.date_key = dd.date_key
       WHERE dd.year = 1996 AND dd.month = 5
       GROUP BY 1 ORDER BY 1""") { t =>
    val valid = TxnPipeline.cleanValid(DirtyTxns(t.orders))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // starDims: fused bounded-dim job, dense-key scalable dims whose
    // shuffles have run, and a cut date dim — the partitioned write and the
    // pruned read-back both consume computed dims instead of re-deriving
    // them (guide §1.2)
    val (dc, dm, dp, du, dimDate) = TxnPipeline.starDims(valid)
    val fact = TxnPipeline.buildFact(valid, dc, dm, dp, du, dimDate)
    val path = graft.TempDirs.scoped("graft-fact-part") + "/fact_by_month"
    try ParquetWarehouse.writeFactPartitioned(fact, dimDate, path)
    finally { valid.unpersist(); () }
    t.spark.read.parquet(path)
      .filter(col("year") === 1996 && col("month") === 5)
      .groupBy("category_key")
      .agg(count(lit(1)).as("n_txns"), dsum(col("amount")).as("total_amount"))
      .orderBy("category_key")
  }

  // t38 — DYNAMIC partition pruning through the gate (t13 proves the
  // STATIC form — a literal year/month filter pruned at planning time;
  // here the selective predicate lives on a DIM attribute, quarter, so
  // no literal partition filter exists until RUNTIME): the broadcast
  // month-dim build is reused as a pruning subquery on the fact scan's
  // (year, month) partition columns, and only the qualifying quarter's
  // month directories are read — the star-schema access path every
  // "rollup where dim-attribute = X" query takes at 100 TB. The oracle
  // recomputes the quarter rollup from the dirty CTE, so a partition
  // wrongly pruned (or wrongly kept) hash-fails on the counts;
  // ScaleOpsSpec pins `dynamicpruning` in the scan's PartitionFilters
  // and the all-partitions fallback when the feature is disabled.
  private val t38 = q("t38_dynamic_partition_pruning",
    s"""$withPrefix
       SELECT CAST(year(date) AS INT) AS year, CAST(month(date) AS INT) AS month,
              CAST(COUNT(*) AS BIGINT) AS n_txns, ${sqlDsum("amount")} AS total_amount
       FROM valid WHERE quarter(date) = 2
       GROUP BY 1, 2 ORDER BY 1, 2""") { t =>
    val valid = TxnPipeline.cleanValid(DirtyTxns(t.orders))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // starDims: the DPP rollup's dim side is the cut (materialized) date
    // dim — the runtime pruning subquery reads dim rows, not a
    // re-derivation of the whole valid pipeline (guide §1.2)
    val (dc, dm, dp, du, dimDate) = TxnPipeline.starDims(valid)
    val fact = TxnPipeline.buildFact(valid, dc, dm, dp, du, dimDate)
    val path = graft.TempDirs.scoped("graft-fact-dpp") + "/fact_by_month"
    try ParquetWarehouse.writeFactPartitioned(fact, dimDate, path)
    finally { valid.unpersist(); () }
    ParquetWarehouse.quarterRollupDpp(t.spark, path, dimDate, quarter = 2)
  }

  // t14 — small-file COMPACTION through the correctness gate: write the
  // valid transactions date-partitioned but deliberately FRAGMENTED (8
  // writer tasks × every year — the incremental-append anti-pattern),
  // compact the table (ParquetWarehouse.compactPartitioned: size-targeted
  // rewrite + atomic per-directory swap), then aggregate the compacted
  // table at month grain. The oracle computes the same rollup from the
  // dirty CTE, so a row lost or duplicated anywhere in the
  // fragment→compact→swap cycle hash-fails; CompactionSpec covers the
  // file-count/no-touch mechanics. (Year-grain partitioning keeps the gate
  // def cheap — the month-grain directory layout is t13's subject.)
  private val t14 = q("t14_compacted_month_rollup",
    s"""$withPrefix
       SELECT CAST(year(date) AS INT) AS year, CAST(month(date) AS INT) AS month,
              CAST(COUNT(*) AS BIGINT) AS n_txns, ${sqlDsum("amount")} AS total_amount
       FROM valid GROUP BY 1, 2 ORDER BY 1, 2""") { t =>
    val valid = TxnPipeline.cleanValid(DirtyTxns(t.orders))
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
    val path = graft.TempDirs.scoped("graft-compact-gate") + "/txns_by_year"
    valid.repartition(8).write.partitionBy("year").parquet(path)
    ParquetWarehouse.compactPartitioned(t.spark, path, Seq("year"))
    t.spark.read.parquet(path)
      .groupBy("year", "month")
      .agg(count(lit(1)).as("n_txns"), dsum(col("amount")).as("total_amount"))
      .orderBy("year", "month")
  }

  // t15 — the salted skew join THROUGH the correctness gate (VERDICT r6
  // #7): a deliberately skewed key (~60% of orders land on grp 0, integer
  // arithmetic like DirtyTxns) joins a 5-row dim via SkewJoin.salted. The
  // dim carries a shuffle-hash hint so the plan takes the shuffled path the
  // operator exists for — the big side exchanges on (grp_id, __salt), i.e.
  // the hot key spreads over `salt` sub-partitions (Round7OpsSpec asserts
  // the salted scatter in the exchange; at a real 100 TB the dim side is
  // the one too big to broadcast). The oracle recomputes the same join +
  // rollup in DuckDB, so a row lost or doubled by the salt/replicate cycle
  // hash-fails here.
  private val t15 = q("t15_skew_salted_join",
    s"""WITH dim AS (SELECT CAST(range AS BIGINT) AS grp_id,
                            'grp_' || CAST(range AS VARCHAR) AS grp_name
                     FROM range(5)),
        o AS (SELECT CASE WHEN o_orderkey % 10 < 6 THEN 0
                          ELSE o_orderkey % 10 - 5 END AS grp_id, o_totalprice
              FROM orders)
        SELECT grp_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
               ${sqlDsum("o_totalprice")} AS total_price
        FROM o JOIN dim USING (grp_id)
        GROUP BY grp_name ORDER BY grp_name""") { t =>
    val big = t.orders.select(
      when(col("o_orderkey") % 10 < 6, lit(0L))
        .otherwise(col("o_orderkey") % 10 - 5).as("grp_id"),
      col("o_totalprice"))
    val dim = t.spark.range(5).select(col("id").as("grp_id"),
      concat(lit("grp_"), col("id")).as("grp_name"))
    graft.operators.SkewJoin.salted(big, dim.hint("shuffle_hash"), "grp_id", salt = 8)
      .groupBy("grp_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("grp_name")
  }

  private val fixtureA = "/root/repo/fixtures/transactions_dirty.csv"
  private val fixtureB = "/root/repo/fixtures/transactions_dirty_b.csv"

  // c01 — P1 through the gate: real CSV extraction of the committed dirty
  // fixture (header-first all-string read, extra column tolerated), then the
  // full clean+validate pipeline. Oracle reads the same file with DuckDB's
  // read_csv; dedup keeps the first in within-file order.
  private val c01 = q("c01_csv_extract_clean",
    s"""WITH dirty AS (
          SELECT ROW_NUMBER() OVER () AS seq, transaction_id, date, category,
                 amount, merchant, payment_method, user_id
          FROM read_csv('$fixtureA', header=true, all_varchar=true)),
        dedup AS (
          SELECT * FROM (
            SELECT d.*, ROW_NUMBER() OVER (PARTITION BY transaction_id ORDER BY seq) AS rn
            FROM dirty d) z WHERE rn = 1)
        $csvCleanTail""") { t =>
    TxnPipeline.cleanValid(CsvExtract.extract(t.spark, fixtureA))
      .orderBy("transaction_id")
  }

  // c02 — P1 over a DIRECTORY BATCH: two files, keep-first dedup across the
  // batch in (file, within-file offset) order. The composite struct `seq`
  // from CsvExtract.readBatch carries exactly that order; the oracle pins
  // the same rule with ROW_NUMBER ordered by (file index, per-file row
  // number). Fixture B repeats TXN-001/TXN-002 with different values —
  // keep-first must keep file A's version.
  private val c02 = q("c02_csv_multifile_clean",
    s"""WITH dirty AS (
          SELECT 0 AS f, ROW_NUMBER() OVER () AS o, transaction_id, date, category,
                 amount, merchant, payment_method, user_id
          FROM read_csv('$fixtureA', header=true, all_varchar=true)
          UNION ALL
          SELECT 1, ROW_NUMBER() OVER (), transaction_id, date, category,
                 amount, merchant, payment_method, user_id
          FROM read_csv('$fixtureB', header=true, all_varchar=true)),
        dedup AS (
          SELECT * FROM (
            SELECT d.*, ROW_NUMBER() OVER (PARTITION BY transaction_id ORDER BY f, o) AS rn
            FROM dirty d) z WHERE rn = 1)
        $csvCleanTail""") { t =>
    TxnPipeline.cleanValid(CsvExtract.readBatch(t.spark, Seq(fixtureA, fixtureB)))
      .orderBy("transaction_id")
  }

  private val fixtureJsonl = "/root/repo/fixtures/documents_a.jsonl"

  // c03 — JSONL document ingestion (the corpus interchange format) with an
  // EXPLICIT schema (no inference scan), missing-field tolerance (lang →
  // 'und', absent meta/url → null), extra-field tolerance (doc 9006 carries
  // an unlisted "score"), nested-provenance flattening, and the derived
  // length fields. The fixture also carries a malformed (truncated) line
  // and a well-formed line missing doc_id: the clean side excludes both
  // (they land in corruptLines / rejectedLines — totality is spec-asserted
  // in JsonlExtractSpec). Oracle reads the same file with DuckDB's
  // read_json under an identical explicit column spec; ignore_errors skips
  // the malformed line and the doc_id filter mirrors the key requirement.
  private val c03 = q("c03_jsonl_extract",
    s"""SELECT doc_id, text, coalesce(lang, 'und') AS lang, source,
          meta.url AS url, meta.crawl AS crawl,
          CAST(length(text) AS INT) AS n_chars,
          CAST(len(string_split_regex(lower(text), '\\s+')) AS INT) AS n_tokens
        FROM read_json('$fixtureJsonl', format='newline_delimited', ignore_errors=true,
             columns={doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
                      source: 'VARCHAR', meta: 'STRUCT(url VARCHAR, crawl VARCHAR)'})
        WHERE doc_id IS NOT NULL
        ORDER BY doc_id""") { t =>
    JsonlExtract.normalizeDocuments(JsonlExtract.readDocuments(t.spark, fixtureJsonl))
      .orderBy("doc_id")
  }

  // c06 — COMPRESSED ingestion: the same JSONL corpus gzipped (the wire
  // format crawl dumps actually arrive in). Spark's text source
  // auto-decompresses by extension through the identical extract path —
  // same schema, quarantine, and normalization as c03 — and the oracle
  // reads the same .gz with DuckDB's transparent decompression, so a
  // codec-path divergence (truncated stream, wrong charset) hash-fails.
  // Gzip is NOT splittable — one file = one task however large — so at
  // 100 TB the layout contract is many shard files (or zstd/bzip2);
  // noted here because the plumbing, not the codec, is the operator.
  private val fixtureJsonlGz = "/root/repo/fixtures/documents_a.jsonl.gz"
  private val c06 = q("c06_jsonl_gz_extract",
    s"""SELECT doc_id, text, coalesce(lang, 'und') AS lang, source,
          meta.url AS url, meta.crawl AS crawl,
          CAST(length(text) AS INT) AS n_chars,
          CAST(len(string_split_regex(lower(text), '\\s+')) AS INT) AS n_tokens
        FROM read_json('$fixtureJsonlGz', format='newline_delimited', ignore_errors=true,
             columns={doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
                      source: 'VARCHAR', meta: 'STRUCT(url VARCHAR, crawl VARCHAR)'})
        WHERE doc_id IS NOT NULL
        ORDER BY doc_id""") { t =>
    JsonlExtract.normalizeDocuments(JsonlExtract.readDocuments(t.spark, fixtureJsonlGz))
      .orderBy("doc_id")
  }

  // c07 — RAW TEXT-LINE ingestion (the crawl .txt shard reader — the one
  // source shape left after CSV/JSONL/gzip/parquet/ORC): spark.read.text
  // through a content-keyed line profile (per distinct line: occurrences
  // and length; blank interior lines are data). Content-keyed because the
  // text source guarantees no row ORDER across partitions — a positional
  // output would be partitioning-dependent. The newline contract is
  // pinned cross-engine: Hadoop's reader strips a trailing \r (CRLF
  // files) and emits no empty row for the final \n; the oracle rtrims
  // chr(13) and drops the trailing empty split element to match — so a
  // codec or line-split divergence hash-fails.
  private val fixtureLines = "/root/repo/fixtures/corpus_lines.txt"
  private val c07 = q("c07_text_lines",
    s"""WITH raw AS (SELECT content FROM read_text('$fixtureLines')),
        parts AS (SELECT string_split(content, chr(10)) AS p FROM raw),
        lines AS (
          SELECT rtrim(unnest(CASE WHEN p[-1] = '' THEN p[1:len(p)-1] ELSE p END),
                       chr(13)) AS line
          FROM parts)
        SELECT line, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(length(line) AS INT) AS n_chars
        FROM lines GROUP BY line ORDER BY line""") { t =>
    t.spark.read.text(fixtureLines)
      .groupBy(col("value").as("line"))
      .agg(count(lit(1)).as("n_occurrences"))
      .select(col("line"), col("n_occurrences"),
        length(col("line")).as("n_chars"))
      .orderBy("line")
  }

  private val fixtureQuoted = "/root/repo/fixtures/transactions_quoted.csv"

  // c04 — RFC-4180 CSV ingestion: quoted delimiters, doubled-quote
  // escapes, EMBEDDED NEWLINES, and quote-preserved padding, parsed
  // field-for-field identically to DuckDB's conforming reader (Spark needs
  // multiLine + escape='"' pinned — its defaults silently mis-parse all
  // three). The oracle reads the same committed fixture, so one
  // mis-split record or mangled escape hash-fails.
  private val c04 = q("c04_csv_quoted_extract",
    s"""SELECT transaction_id, date, category, amount, merchant,
               payment_method, user_id
        FROM read_csv('$fixtureQuoted', header=true, all_varchar=true)
        ORDER BY transaction_id""") { t =>
    CsvExtract.readRobust(t.spark, fixtureQuoted)
      .select("transaction_id", "date", "category", "amount", "merchant",
        "payment_method", "user_id")
      .orderBy("transaction_id")
  }

  // t16 — the BUCKETED warehouse layout through the correctness gate
  // (scale layout #2; t13 covers layout #1): write orders bucketed+sorted by
  // o_custkey (the one-time shuffle that amortizes across every downstream
  // keyed operation), then run the per-customer rollup FROM THE BUCKETED
  // TABLE — the bucketing satisfies the aggregation's required distribution,
  // so the plan has no exchange (WarehouseSpec asserts it, with the
  // unbucketed contrast). The oracle recomputes the rollup from raw orders,
  // so a row lost or duplicated by the bucketed write/read cycle hash-fails.
  // t17 — the Z-ORDERED warehouse layout through the correctness gate
  // (scale layout #3; t13 = date partitioning, t16 = bucketing): write
  // orders Morton-ordered on (o_custkey, day-grain o_date), then run a
  // TWO-DIMENSIONAL range rollup FROM THE Z-ORDERED TABLE — the layout
  // whose row groups skip on either predicate column (ZOrderSpec measures
  // the skipping against a linear layout; this def proves the re-layout
  // loses/duplicates nothing, since the oracle recomputes from raw
  // orders). The time dimension rides a derived DATE key: parquet stats
  // skipping does not fire on timestamp_ntz in Spark 4.1's reader
  // (measured in ZOrderSpec), and the day-grain key is standard
  // warehouse practice anyway. Predicates sit directly on columns so
  // they push to parquet.
  private val t17 = q("t17_zorder_scan",
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("o_totalprice")} AS total_spent,
        CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM orders
        WHERE o_custkey BETWEEN 100 AND 400
          AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'""") { t =>
    val dir = graft.TempDirs.scoped("graft-zorder")
    val withDay = t.orders.withColumn("o_date", to_date(col("o_orderdate")))
    graft.operators.ZOrder.writeZOrdered(
      withDay, dir, col("o_custkey"), col("o_date"), numFiles = 32)
    t.spark.read.parquet(dir)
      .filter(col("o_custkey").between(100, 400) &&
        col("o_date").between(
          lit("1996-01-01").cast("date"), lit("1996-12-31").cast("date")))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  // t18 — copy-on-write MERGE/upsert through the correctness gate: publish
  // orders as snapshot v1, upsert every 10th order with a doubled price
  // (an UPDATE, which t11's idempotent append can never express), read the
  // CURRENT snapshot back and roll it up. The oracle recomputes the
  // post-merge state from raw orders, so a lost, duplicated, or
  // un-replaced row hash-fails; v1 stays on disk untouched (time travel —
  // WarehouseSpec pins it).
  private val t18 = q("t18_snapshot_upsert",
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END")}
          AS total_spent,
        CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
        FROM orders""") { t =>
    val root = graft.TempDirs.scoped("graft-upsert")
    ParquetWarehouse.publishSnapshot(root, Map("orders" -> t.orders))
    val updates = t.orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    ParquetWarehouse.upsertSnapshot(root, "orders", updates, "o_orderkey")
    ParquetWarehouse.readTable(t.spark, root, "orders")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_spent"),
        sum(when(col("o_orderkey") % 10 === 0, 1L).otherwise(0L)).as("n_updated"))
  }

  // t19 — SCHEMA EVOLUTION through the correctness gate: a real warehouse
  // accretes files across schema versions (a column added years in — at
  // 100 TB nobody rewrites history), so the read side must reconcile.
  // Even-key orders are written WITHOUT o_orderpriority (the "old" files),
  // odd-key orders with it (the "new" files), appended into one table;
  // a mergeSchema read reconciles the union schema with nulls for the
  // missing column, and the rollup groups on it — the oracle recomputes
  // the same null-group semantics from raw orders, so a dropped or
  // misattributed row hash-fails.
  private val t19 = q("t19_schema_evolution",
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END AS priority,
        CAST(COUNT(*) AS BIGINT) AS n_orders, ${sqlDsum("o_totalprice")} AS total_spent
        FROM orders GROUP BY 1 ORDER BY priority ASC NULLS FIRST""") { t =>
    val dir = graft.TempDirs.scoped("graft-evolve")
    t.orders.filter(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
      .write.mode("overwrite").parquet(dir)
    t.orders.filter(col("o_orderkey") % 2 === 1)
      .write.mode("append").parquet(dir)
    t.spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy(col("priority").asc_nulls_first)
  }

  // t20 — MERGE-ON-READ delete through the correctness gate (the
  // complementary mutation to t18's copy-on-write): publish orders as v1,
  // then two delete rounds (every 7th key, then every 11th) that write ONLY
  // tombstones + a base pointer — the v1 data files are never rewritten
  // (WarehouseSpec pins that v2/v3 hold no data dir) — and read the CURRENT
  // snapshot back through the tombstone anti-join. Two rounds prove the
  // tombstones are CUMULATIVE across versions. The oracle recomputes the
  // post-delete state from raw orders, so a row that survives deletion,
  // vanishes wrongly, or duplicates hash-fails. At 100 TB this is the
  // GDPR-delete shape: a few thousand keys cost one tiny parquet write
  // instead of a full-table rewrite, and compaction folds the tombstones
  // in later (the spec covers compact + vacuum equivalence).
  private val t20 = q("t20_mor_delete",
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("o_totalprice")} AS total_spent,
        CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0""") { t =>
    val root = graft.TempDirs.scoped("graft-mor")
    ParquetWarehouse.publishSnapshot(root, Map("orders" -> t.orders))
    ParquetWarehouse.deleteFromSnapshot(root, "orders",
      t.orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"), "o_orderkey")
    ParquetWarehouse.deleteFromSnapshot(root, "orders",
      t.orders.filter(col("o_orderkey") % 11 === 0).select("o_orderkey"), "o_orderkey")
    ParquetWarehouse.readTable(t.spark, root, "orders")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_spent"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  // t21 — PARTITION-SCOPED copy-on-write merge through the correctness
  // gate (the slicing t18's whole-table merge defers to the caller): orders
  // land month-partitioned, then one month's orders update (doubled price)
  // and ONLY that month's directory is read back, merged, and rewritten —
  // dynamic partition overwrite replaces exactly the touched partition;
  // every other month's files are never opened (WarehouseSpec pins
  // untouched-file immutability and the single-partition rewrite count).
  // The oracle recomputes the post-merge table from raw orders, so a row
  // lost in the rewritten month or disturbed in an untouched one
  // hash-fails. At 100 TB this rewrites ~1/84th of the fact per monthly
  // correction batch instead of the whole table.
  private val t21 = q("t21_partition_upsert",
    s"""SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
        CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS o_month,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996 AND month(CAST(o_orderdate AS DATE)) = 3 THEN o_totalprice * 2 ELSE o_totalprice END")}
          AS total_spent
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2""") { t =>
    val dir = graft.TempDirs.scoped("graft-partup") + "/orders"
    val base = t.orders
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))
    base.hint("rebalance", col("o_year"), col("o_month"))
      .write.partitionBy("o_year", "o_month").parquet(dir)
    val updates = base
      .filter(col("o_year") === 1996 && col("o_month") === 3)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val nParts = ParquetWarehouse.upsertPartitioned(
      t.spark, dir, updates, "o_orderkey", Seq("o_year", "o_month"))
    require(nParts == 1, s"expected exactly one touched partition, got $nParts")
    t.spark.read.parquet(dir)
      .groupBy("o_year", "o_month")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("o_year", "o_month")
  }

  // t22 — SNAPSHOT DIFF through the correctness gate (the audit twin of
  // time travel): publish orders v1, double every 10th price (CoW upsert →
  // v2), merge-on-read delete every 13th key (→ v3), then diff v1 → v3.
  // The oracle recomputes the expected change set from raw orders — a key
  // misclassified (a deleted key reported changed, an untouched key
  // surfacing at all) hash-fails. Keys divisible by both 10 and 13 must
  // come out 'removed' with their ORIGINAL price (the upsert's doubling is
  // superseded by the delete).
  private val t22 = q("t22_snapshot_diff",
    """SELECT o_orderkey,
       CASE WHEN o_orderkey % 13 = 0 THEN 'removed' ELSE 'changed' END AS change,
       o_totalprice AS old_price,
       CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_totalprice * 2 END AS new_price
       FROM orders WHERE o_orderkey % 13 = 0 OR o_orderkey % 10 = 0
       ORDER BY o_orderkey""") { t =>
    val root = graft.TempDirs.scoped("graft-snapdiff")
    val base = t.orders.select("o_orderkey", "o_totalprice")
    ParquetWarehouse.publishSnapshot(root, Map("orders" -> base))
    ParquetWarehouse.upsertSnapshot(root, "orders",
      base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      "o_orderkey")
    ParquetWarehouse.deleteFromSnapshot(root, "orders",
      base.filter(col("o_orderkey") % 13 === 0).select("o_orderkey"), "o_orderkey")
    ParquetWarehouse.snapshotDiff(t.spark, root, "orders", "v1", "v3", "o_orderkey")
      .select(col("o_orderkey"), col("change"),
        col("old_row.o_totalprice").as("old_price"),
        col("new_row.o_totalprice").as("new_price"))
      .orderBy("o_orderkey")
  }

  // t23 — edit-distance entity resolution over the dirty merchant strings
  // (the fuzzy twin of P8's rule-based merchant standardization): every
  // unordered pair of distinct raw merchants within levenshtein ≤ 2, found
  // via the sound q-gram inverted-index blocking (FuzzyMatch scaladoc has
  // the pigeonhole argument) + exact codegen'd verify. The oracle brute-
  // forces ALL pairs, so a pair the blocking missed — not just a mis-scored
  // one — hash-fails.
  private val t23 = q("t23_merchant_fuzzy_pairs",
    s"""WITH dirty AS (${DirtyTxns.oracleCte}),
        m AS (SELECT DISTINCT merchant AS s FROM dirty WHERE merchant IS NOT NULL)
        SELECT a.s AS s_a, b.s AS s_b, CAST(levenshtein(a.s, b.s) AS INT) AS dist
        FROM m a JOIN m b ON a.s < b.s
        WHERE levenshtein(a.s, b.s) <= 2
        ORDER BY s_a, s_b""") { t =>
    graft.operators.FuzzyMatch.editDistancePairs(
      DirtyTxns(t.orders), "merchant", maxDist = 2)
      .orderBy("s_a", "s_b")
  }

  // t24 — SCD TYPE 2 dimension maintenance through the correctness gate
  // (the versioned-dim semantics the reference's rebuild-from-scratch dims
  // drop every run): customer publishes as a Type-2 dim, then two dated
  // batches apply — batch 1 (2026-02-01) re-segments every 7th key and
  // bumps its balance (a real change), re-delivers every 5th key UNCHANGED
  // (a no-op that must create ZERO versions), and lands every 11th key
  // under a brand-new business key (an insert); batch 2 (2026-03-01)
  // rebrands every 3rd ORIGINAL key at its original balance — so keys
  // divisible by 21 chain THREE versions with abutting half-open
  // intervals. The oracle enumerates the expected version set per
  // residue class from raw customer, so a lost version, an unclosed
  // interval, a phantom no-op version, or a wrong is_current flag
  // hash-fails. Scale shape: one full-outer shuffle join per batch on the
  // business key; history rows bypass the join; no windows anywhere.
  // (Open intervals project as the conventional 9999-12-31 high date at
  // the gate boundary — the driver's cell compare can't equate null dates.)
  private val t24 = q("t24_scd2_dim",
    """WITH base AS (
         SELECT c_custkey AS bk, c_mktsegment AS segment, c_acctbal AS acctbal
         FROM customer),
       v AS (
         SELECT bk, segment, acctbal,
                DATE '2026-01-01' AS effective_from,
                CAST(NULL AS DATE) AS effective_to, TRUE AS is_current
         FROM base WHERE bk % 7 <> 0 AND bk % 3 <> 0
         UNION ALL
         SELECT bk, segment, acctbal, DATE '2026-01-01', DATE '2026-02-01', FALSE
         FROM base WHERE bk % 7 = 0
         UNION ALL
         SELECT bk, 'UPDATED', acctbal + 100, DATE '2026-02-01',
                CASE WHEN bk % 3 = 0 THEN DATE '2026-03-01' END, bk % 3 <> 0
         FROM base WHERE bk % 7 = 0
         UNION ALL
         SELECT bk, segment, acctbal, DATE '2026-01-01', DATE '2026-03-01', FALSE
         FROM base WHERE bk % 3 = 0 AND bk % 7 <> 0
         UNION ALL
         SELECT bk, 'REBRANDED', acctbal, DATE '2026-03-01', NULL, TRUE
         FROM base WHERE bk % 3 = 0
         UNION ALL
         SELECT bk + 10000000, segment, acctbal, DATE '2026-02-01', NULL, TRUE
         FROM base WHERE bk % 11 = 0)
       SELECT bk, segment, acctbal, effective_from,
              COALESCE(effective_to, DATE '9999-12-31') AS effective_to, is_current
       FROM v ORDER BY bk, effective_from""") { t =>
    import graft.warehouse.ScdDim
    val base = t.customer.select(col("c_custkey").as("bk"),
      col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"))
    val dim0 = ScdDim.initial(base, lit("2026-01-01"))
    val b1 = base.filter(col("bk") % 7 === 0)
      .withColumn("segment", lit("UPDATED"))
      .withColumn("acctbal", col("acctbal") + 100)
      .unionByName(base.filter(col("bk") % 5 === 0 && col("bk") % 7 =!= 0))
      .unionByName(base.filter(col("bk") % 11 === 0)
        .withColumn("bk", col("bk") + 10000000L))
    val dim1 = ScdDim.applyBatch(dim0, b1,
      Seq("bk"), Seq("segment", "acctbal"), lit("2026-02-01"))
    val b2 = base.filter(col("bk") % 3 === 0).withColumn("segment", lit("REBRANDED"))
    val dim2 = ScdDim.applyBatch(dim1, b2,
      Seq("bk"), Seq("segment", "acctbal"), lit("2026-03-01"))
    dim2.withColumn("effective_to",
        coalesce(col("effective_to"), lit("9999-12-31").cast("date")))
      .orderBy("bk", "effective_from")
  }

  // t25 — POINT-IN-TIME fact enrichment through the correctness gate (the
  // consumer SCD2 exists for): customers publish as an SCD2 dim effective
  // 1990-01-01, every 4th key re-segments to 'PROMO' effective 1995-01-01,
  // and each order joins the dim VERSION VALID AT ITS OWN ORDER DATE — so
  // pre-1995 orders of re-segmented customers roll up under the ORIGINAL
  // segment and post-1995 orders under 'PROMO'. The oracle recomputes the
  // temporal attribution directly from raw tables, so a fact enriched with
  // the wrong-era version hash-fails. The interval predicate rides on the
  // business-key equi-join (no inequality-only join).
  private val t25 = q("t25_scd2_pit_join",
    s"""SELECT CASE WHEN c_custkey % 4 = 0
               AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
               THEN 'PROMO' ELSE c_mktsegment END AS segment,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("o_totalprice")} AS total_spent
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY segment""") { t =>
    import graft.warehouse.ScdDim
    val base = t.customer.select(col("c_custkey").as("bk"),
      col("c_mktsegment").as("segment"))
    val dim0 = ScdDim.initial(base, lit("1990-01-01"))
    val dim = ScdDim.applyBatch(dim0,
      base.filter(col("bk") % 4 === 0).withColumn("segment", lit("PROMO")),
      Seq("bk"), Seq("segment"), lit("1995-01-01"))
    val facts = t.orders.select("o_custkey", "o_orderdate", "o_totalprice")
    ScdDim.pointInTimeJoin(facts, dim, "o_custkey", "bk",
      to_date(facts("o_orderdate")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("segment")
  }

  // t26 — WRITE-AUDIT-PUBLISH through the correctness gate: the full star
  // stages as an unpublished version, the StarIntegrity audit runs ON THE
  // STAGED FILES, and only a clean audit swaps the pointer; a poisoned
  // second batch (every category key orphaned) stages INCREMENTALLY —
  // only the fact is written, the five dims carry forward by .base
  // pointer (the 100 TB WAP shape: re-publishing a fact never rewrites
  // unchanged dims) — FAILS the audit (which must see the carried dims to
  // catch the orphaned keys), and must leave the good version live. The
  // def reads the CURRENT snapshot after both attempts, so a premature
  // pointer swap (serving the corrupt batch) hash-fails against the
  // clean-star oracle. Input is the quarter slice (every 4th order, dup
  // rows riding with their primaries): the def proves WAP's audit/swap
  // protocol, which is star-size-independent — the full-size star build
  // is already gated by t01–t10 (VERDICT r14 #8: t26 was the single
  // heaviest bench def at 12.4 s, most of it re-building the full star).
  private val t26 = q("t26_wap_publish",
    s"""$withPrefixQuarter
       SELECT CAST(COUNT(*) AS BIGINT) AS n_facts,
              ${sqlDsum("amount")} AS total_amount,
              CAST(COUNT(DISTINCT category_key) AS BIGINT) AS n_categories
       FROM fact""") { t =>
    import graft.warehouse.StarIntegrity
    val valid = TxnPipeline.cleanValid(
        DirtyTxns(t.orders).filter(expr("(seq div 2) % 4 = 0")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // starDims: each dim feeds its own publish write AND the fact build —
    // dims are computed once, not once per consumer (§1.2): the date dim
    // is cut, the dense-key dims re-read their already-run shuffles
    val (dc, dm, dp, du, dd) = TxnPipeline.starDims(valid)
    val dims = Map(
      "dim_category" -> dc, "dim_merchant" -> dm,
      "dim_payment_method" -> dp, "dim_user" -> du, "dim_date" -> dd)
    val fact = TxnPipeline.buildFact(valid, dc, dm, dp, du, dd)
    val star = dims + ("fact_transactions" -> fact)
    val root = graft.TempDirs.scoped("graft-wap")
    val good = ParquetWarehouse.publishAudited(root, star, StarIntegrity.allClean)
    require(good.isRight, s"clean star must publish, got $good")
    valid.unpersist()
    // poison batch: every fact category key orphaned — must NOT publish.
    // Staged incrementally: ONLY the fact writes; the audit catches the
    // orphans against the CARRIED dims. The batch derives from the
    // PUBLISHED fact's bytes, not the fact's build lineage (r16, guide
    // §1.2: don't recompute what is already materialized): re-publishing
    // reads the current table — the realistic incremental-republish shape
    // — instead of re-running the five dim builds + star join a second
    // time. Rows are identical to the staged fact by the publish contract.
    val bad = ParquetWarehouse.publishAuditedIncremental(root,
      Map("fact_transactions" ->
        ParquetWarehouse.readTable(t.spark, root, "fact_transactions")
          .withColumn("category_key", col("category_key") + 999999)),
      StarIntegrity.allClean)
    require(bad.isLeft, "poisoned star must fail the audit")
    require(ParquetWarehouse.currentVersion(root) == good.toOption,
      "failed audit must leave the good version live")
    ParquetWarehouse.readTable(t.spark, root, "fact_transactions")
      .agg(count(lit(1)).as("n_facts"),
        dsum(col("amount")).as("total_amount"),
        countDistinct("category_key").as("n_categories"))
  }

  // t27 — CDC changelog apply through the correctness gate: a base
  // snapshot (keys ending 0–7) plus one multi-op Debezium-shaped batch —
  // inserts (…8 new, …9 insert-then-DELETE in the same batch), two
  // successive updates of …3 (the seq-2 after-image must win), and deletes
  // of …5. The netting is one max_by aggregation on the key (no window, no
  // per-key sort) and the merge one anti-join + union (Cdc.scala). The
  // oracle recomputes the net state from raw orders: a stale after-image
  // (seq-1 winning), a surviving …5/…9, or a lost untouched row hash-fails.
  private val t27 = q("t27_cdc_apply",
    """SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2 ELSE o_totalprice END
         AS o_totalprice
       FROM orders
       WHERE o_orderkey % 10 <> 5 AND o_orderkey % 10 <> 9
       ORDER BY o_orderkey""") { t =>
    val o = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    val k = col("o_orderkey") % 10
    val base = o.filter(k <= 7)
    def change(df: DataFrame, op: String, seq: Long): DataFrame =
      df.withColumn("op", lit(op)).withColumn("seq", lit(seq))
    def tombstone(df: DataFrame, seq: Long): DataFrame =
      change(df.select(col("o_orderkey"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice")), "D", seq)
    val changes = change(o.filter(k === 8), "I", 1L)
      .unionByName(change(o.filter(k === 9), "I", 1L))
      .unionByName(tombstone(o.filter(k === 9).select("o_orderkey"), 2L))
      .unionByName(change(o.filter(k === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 10), "U", 1L))
      .unionByName(change(o.filter(k === 3)
        .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 2L))
      .unionByName(tombstone(o.filter(k === 5).select("o_orderkey"), 1L))
    graft.warehouse.Cdc.applyChangeLog(base, changes,
      keyCols = Seq("o_orderkey"), seqCol = "seq", opCol = "op")
      .orderBy("o_orderkey")
  }

  // t28 — incremental materialized-aggregate maintenance through the
  // correctness gate: the monthly revenue rollup is STORED as partial
  // aggregates (count + exact-decimal sums) for history before 1997, the
  // 1997+ delta aggregates alone, and IncrementalAgg.mergePartials folds
  // the two |groups|-sized frames — no historical raw row is re-read. The
  // oracle is DuckDB's FULL recompute over all of lineitem: any drift
  // between incremental maintenance and from-scratch aggregation
  // hash-fails (decimal partials make the two bit-equal).
  private val t28 = q("t28_incremental_rollup",
    s"""SELECT CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS ship_year,
        CAST(month(CAST(l_shipdate AS DATE)) AS INT) AS ship_month,
        l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum6("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""") { t =>
    def partial(pred: org.apache.spark.sql.Column): DataFrame =
      t.lineitem.filter(pred)
        .groupBy(year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"), col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          dsumPartial(col("l_quantity")).as("qty_dec"),
          dsum6Partial(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("rev_dec"))
    val cutoff = lit("1997-01-01").cast("date")
    val dir = graft.TempDirs.scoped("graft-iagg")
    partial(col("l_shipdate") < cutoff).write.mode("overwrite").parquet(dir)
    val stored = t.spark.read.parquet(dir)
    val delta = partial(col("l_shipdate") >= cutoff)
    graft.warehouse.IncrementalAgg.mergePartials(stored, delta,
      Seq("ship_year", "ship_month", "l_returnflag"))
      .select(col("ship_year"), col("ship_month"), col("l_returnflag"),
        col("n_items"),
        col("qty_dec").cast("double").as("sum_qty"),
        col("rev_dec").cast("double").as("revenue"))
      .orderBy("ship_year", "ship_month", "l_returnflag")
  }

  private val t16 = q("t16_bucketed_cust_rollup",
    s"""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("o_totalprice")} AS total_spent,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
        FROM orders GROUP BY 1 ORDER BY o_custkey""") { t =>
    val dir = graft.TempDirs.scoped("graft-bucketed")
    graft.warehouse.ParquetWarehouse.writeFactBucketed(
      t.orders.select("o_custkey", "o_totalprice", "o_orderstatus"),
      "graft_t16_orders_by_cust", "o_custkey", nBuckets = 16,
      path = Some(s"$dir/orders_by_cust"))
    t.spark.table("graft_t16_orders_by_cust")
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_spent"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"))
      .orderBy("o_custkey")
  }

  // t29 — snapshot RETENTION through the correctness gate: publish v1,
  // upsert to v2 (t18's mutation), then vacuum — exactly one version (the
  // unreachable v1) must be reclaimed, and the SERVED state must come
  // through the maintenance bit-identical (same rollup oracle as t18, plus
  // the pinned reclaim count). The def fails fast if vacuum deletes too
  // much (current would break), too little (n_vacuumed ≠ 1), or if the
  // time-travel contract leaks into the vacuumed dir (readTableAt(v1) must
  // now refuse). Completes the snapshot lifecycle in the gate:
  // publish (t18) → audit (t26) → diff (t22) → EXPIRE (here).
  private val t29 = q("t29_snapshot_vacuum",
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END")}
          AS total_spent,
        CAST(1 AS BIGINT) AS n_vacuumed
        FROM orders""") { t =>
    val root = graft.TempDirs.scoped("graft-vacuum")
    ParquetWarehouse.publishSnapshot(root, Map("orders" -> t.orders))
    val updates = t.orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    ParquetWarehouse.upsertSnapshot(root, "orders", updates, "o_orderkey")
    val n = ParquetWarehouse.vacuumSnapshots(root)
    val v1Gone =
      try { ParquetWarehouse.readTableAt(t.spark, root, "orders", "v1"); false }
      catch { case _: IllegalArgumentException => true }
    require(v1Gone, "t29: vacuumed v1 still readable")
    ParquetWarehouse.readTable(t.spark, root, "orders")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_spent"))
      .withColumn("n_vacuumed", lit(n.toLong))
  }

  // t30 — CO-BUCKETED JOIN through the correctness gate (t16 proves the
  // bucketed AGGREGATION plans exchange-free; this proves the join): both
  // orders and customer land bucketed+sorted on custkey, the per-customer
  // enriched rollup joins them with auto-broadcast disabled — the layout,
  // not the optimizer's size estimate, eliminates both exchanges
  // (ScaleOpsSpec pins the zero-exchange plan; at 100 TB this is the
  // fact⋈fact shape where neither side broadcasts and a runtime shuffle
  // of either is the job's dominant cost). The oracle recomputes the
  // join+rollup from raw parquet, so a row misrouted by either bucketed
  // write hash-fails.
  private val t30 = q("t30_cobucketed_join",
    s"""SELECT c.c_custkey, ANY_VALUE(c.c_name) AS c_name,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               ${sqlDsum("o.o_totalprice")} AS total_spent
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1 ORDER BY c_custkey""") { t =>
    val owner = s"graft_t30_${java.lang.Long.toHexString(System.nanoTime())}"
    val dir = graft.TempDirs.scoped("graft-cobkt")
    ParquetWarehouse.writeFactBucketed(
      t.orders, s"${owner}_orders", "o_custkey", 16, Some(s"$dir/orders"))
    ParquetWarehouse.writeFactBucketed(
      t.customer, s"${owner}_cust", "c_custkey", 16, Some(s"$dir/cust"))
    // the def proves the bucketed write/read cycle loses nothing through
    // the join; the zero-exchange PLAN (with auto-broadcast disabled at
    // action time) is pinned in ScaleOpsSpec, where the conf scope can
    // bracket the action rather than this lazily-executed frame
    t.spark.table(s"${owner}_cust")
      .join(t.spark.table(s"${owner}_orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey")
      .agg(first(col("c_name")).as("c_name"),
        count(col("o_orderkey")).as("n_orders"),
        dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("c_custkey")
  }

  // c05 — ORC source/sink round-trip: orders written as ORC partitioned by
  // o_orderstatus, read back through the partition-pruned path (only the
  // status='F' directory is listed — plan-pinned in Round12OpsSpec), rolled
  // up per month. The oracle recomputes from the raw parquet, so a row
  // lost, duplicated, or type-mangled by the ORC writer/reader cycle
  // hash-fails. Widens the source matrix to the second columnar format
  // Spark ships natively (CSV c01/c02/c04, JSONL c03, parquet throughout,
  // ORC here).
  private val c05 = q("c05_orc_roundtrip",
    s"""SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ${sqlDsum("o_totalprice")} AS total_spent
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY 1, 2 ORDER BY year, month""") { t =>
    val dir = graft.TempDirs.scoped("graft-orc")
    t.orders.write.mode("overwrite").partitionBy("o_orderstatus").orc(dir)
    t.spark.read.orc(dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy(year(col("o_orderdate")).as("year"), month(col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("year", "month")
  }

  // t31 — incremental publish SUCCESS path through the gate (t26 proves
  // the failing incremental attempt leaves the prior version live; this
  // proves a CLEAN partial correction publishes and SERVES): orders +
  // customer publish as v1, a corrected orders batch (every %10=4 price
  // doubled) stages incrementally — customer carries by .base pointer,
  // zero dim bytes rewritten — the orphan audit re-checks against the
  // CARRIED dim, v2 publishes, and the served rollup joins the new orders
  // with the carried customer. The oracle recomputes from raw parquet, so
  // a broken base pointer, a stale CURRENT, or a lost correction
  // hash-fails.
  private val t31 = q("t31_incremental_publish",
    s"""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        ${sqlDsum("CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 2 ELSE o_totalprice END")}
          AS total_spent
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY segment""") { t =>
    val root = graft.TempDirs.scoped("graft-incpub")
    def noOrphans(s: Map[String, org.apache.spark.sql.DataFrame]): Boolean =
      s("orders").select("o_custkey")
        .join(s("customer").select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti").isEmpty
    val v1 = ParquetWarehouse.publishAudited(root,
      Map("orders" -> t.orders, "customer" -> t.customer), noOrphans)
    require(v1.isRight, s"base star must publish, got $v1")
    val corrected = t.orders.withColumn("o_totalprice",
      when(col("o_orderkey") % 10 === 4, col("o_totalprice") * 2)
        .otherwise(col("o_totalprice")))
    val v2 = ParquetWarehouse.publishAuditedIncremental(root,
      Map("orders" -> corrected), noOrphans)
    require(v2.isRight, s"clean incremental correction must publish, got $v2")
    ParquetWarehouse.readTable(t.spark, root, "orders")
      .join(ParquetWarehouse.readTable(t.spark, root, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("segment")
  }

  // t32 — PARTITION-SPEC EVOLUTION (Iceberg's spec-evolution capability;
  // scale layout #4 after partitioning/bucketing/Z-order): pre-1998 orders
  // sit under the ORIGINAL year= spec, 1998+ under the EVOLVED
  // year=/o_orderstatus= spec — history is never rewritten; one logical
  // read prunes each generation at its own granularity (year at listing
  // time on both; status at listing time on the new files, as a pushed
  // parquet data filter on the old — Round12OpsSpec pins both plans).
  // The oracle recomputes from raw orders, so a row lost, duplicated, or
  // double-read across the generation boundary hash-fails.
  private val t32 = q("t32_partition_evolution",
    s"""SELECT CAST(year(o_orderdate) AS INT) AS year, o_orderstatus AS status,
        CAST(COUNT(*) AS BIGINT) AS n_orders, ${sqlDsum("o_totalprice")} AS total_spent
        FROM orders
        WHERE year(o_orderdate) IN (1996, 1999) AND o_orderstatus IN ('F', 'O')
        GROUP BY 1, 2 ORDER BY 1, 2""") { t =>
    val path = graft.TempDirs.scoped("graft-spec-evo") + "/orders_evolved"
    val o = t.orders.withColumn("year", year(col("o_orderdate")).cast("int"))
    ParquetWarehouse.writeSpecEvolved(Seq(
      (o.filter(col("year") < 1998), Seq("year")),
      (o.filter(col("year") >= 1998), Seq("year", "o_orderstatus"))), path)
    ParquetWarehouse.readSpecEvolved(t.spark, path)
      .filter(col("year").isin(1996, 1999) &&
        col("o_orderstatus").isin("F", "O"))
      .groupBy(col("year"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("year", "status")
  }

  // t33 — POINT LOOKUP through the KEY-INDEXED flat layout (scale layout
  // #5): orders sorted-by-key with parquet bloom filters, probed by a
  // small literal IN on o_orderkey — the "find one order in 100 TB"
  // query, pruned by row-group stats + bloom instead of a per-key
  // directory listing disaster. The probe keys derive from the data (min
  // and max orderkey — present at any sf) the same way on both engines;
  // the oracle recomputes from raw orders, so a row lost or mangled by
  // the indexed round-trip hash-fails. Round12OpsSpec measures the
  // skipping itself (indexed scan materializes a fraction of the rows an
  // unsorted layout scans for the same probe).
  private val t33 = q("t33_point_lookup_indexed",
    """WITH ks AS (SELECT MIN(o_orderkey) AS k1, MAX(o_orderkey) AS k2 FROM orders)
       SELECT o_orderkey AS orderkey, o_custkey AS custkey,
              o_orderstatus AS status, CAST(o_totalprice AS DOUBLE) AS total
       FROM orders, ks WHERE o_orderkey IN (ks.k1, ks.k2)
       ORDER BY orderkey""") { t =>
    val path = graft.TempDirs.scoped("graft-key-idx") + "/orders_keyed"
    ParquetWarehouse.writeKeyIndexed(t.orders, path, "o_orderkey", files = 8)
    val r = t.orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    t.spark.read.parquet(path)
      .filter(col("o_orderkey").isin(r.getLong(0), r.getLong(1)))
      .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .orderBy("orderkey")
  }

  // t34 — POINT LOOKUP through the MANIFESTED layout (scale layout #6):
  // same probe story as t33, but the per-file [min,max] manifest is
  // consulted BEFORE the scan, so only the files that can contain the key
  // are PLANNED into the read — at 100 TB the listing/footer traffic t33
  // still pays per probe is gone (ManifestSpec measures planned-file
  // counts: 1 of 8 vs all 8). The probe key is the largest orderkey at or
  // below the keyspace midpoint — data-derived identically on both
  // engines, guaranteed non-empty, and mid-range so boundary-file luck
  // can't fake the pruning. The oracle recomputes from raw orders, so a
  // row lost or mangled through the manifest path hash-fails.
  private val t34 = q("t34_point_lookup_manifested",
    """WITH mid AS (SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS m FROM orders),
       k AS (SELECT MAX(o_orderkey) AS key FROM orders, mid WHERE o_orderkey <= mid.m)
       SELECT o_orderkey AS orderkey, o_custkey AS custkey,
              o_orderstatus AS status, CAST(o_totalprice AS DOUBLE) AS total
       FROM orders, k WHERE o_orderkey = k.key
       ORDER BY orderkey""") { t =>
    val path = graft.TempDirs.scoped("graft-manifest") + "/orders_manifested"
    ParquetWarehouse.writeManifested(t.orders, path, "o_orderkey", files = 8)
    val r = t.orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val key = t.orders.filter(col("o_orderkey") <= mid)
      .agg(max("o_orderkey")).head().getLong(0)
    ParquetWarehouse.manifestProbe(t.spark, path, "o_orderkey", Seq(key))
      .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .orderBy("orderkey")
  }

  // t35 — transactional APPEND to the manifested layout (t34's write
  // path; the Iceberg snapshot-commit shape without a catalog): the lower
  // keyspace half publishes as manifest v1, the upper half appends — new
  // data files land first, their intervals (computed from ONLY the new
  // files) union into manifest v2, and the pointer swaps LAST, so a crash
  // anywhere leaves the appended files invisible rather than half-served
  // (ManifestSpec fault-injects the crash window and the orphan-retry
  // case). The def probes the global min (v1 file) and max (appended
  // file) through the committed manifest; the oracle recomputes from raw
  // orders, so a row lost, doubled, or mis-intervaled by the append
  // hash-fails.
  private val t35 = q("t35_manifested_append",
    """WITH ks AS (SELECT MIN(o_orderkey) AS k1, MAX(o_orderkey) AS k2 FROM orders)
       SELECT o_orderkey AS orderkey, o_custkey AS custkey,
              o_orderstatus AS status, CAST(o_totalprice AS DOUBLE) AS total
       FROM orders, ks WHERE o_orderkey IN (ks.k1, ks.k2)
       ORDER BY orderkey""") { t =>
    val path = graft.TempDirs.scoped("graft-manifest-app") + "/orders_manifested"
    val r = t.orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val mid = (lo + hi) / 2
    ParquetWarehouse.writeManifested(
      t.orders.filter(col("o_orderkey") <= mid), path, "o_orderkey", files = 4)
    ParquetWarehouse.appendManifested(
      t.orders.filter(col("o_orderkey") > mid), path, "o_orderkey", files = 4)
    ParquetWarehouse.manifestProbe(t.spark, path, "o_orderkey", Seq(lo, hi))
      .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .orderBy("orderkey")
  }

  // t36 — COMPACTION of the manifested layout (the maintenance pass that
  // closes scale layout #6's lifecycle: write → append → probe → compact →
  // vacuum): three overlapping-keyspan generations (base + two appends
  // split by key mod 3, each spanning the whole key range — the realistic
  // shape where probe fan-out decays toward one file per generation) are
  // rewritten into ONE fresh range-sorted generation; the new manifest
  // names only the fresh files, the pointer swap is the commit, and
  // vacuum afterwards reclaims the superseded generations (ManifestSpec
  // measures the fan-out decay + restore and fault-injects the crash
  // window). The def probes min, mid, and max through the compacted +
  // vacuumed table; the oracle recomputes from raw orders, so a row
  // lost, doubled, or mis-intervaled by the rewrite hash-fails.
  private val t36 = q("t36_manifested_compaction",
    """WITH mid AS (SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS m FROM orders),
       ks AS (SELECT MIN(o_orderkey) AS k1,
                     (SELECT MAX(o_orderkey) FROM orders, mid WHERE o_orderkey <= mid.m) AS k2,
                     MAX(o_orderkey) AS k3 FROM orders)
       SELECT o_orderkey AS orderkey, o_custkey AS custkey,
              o_orderstatus AS status, CAST(o_totalprice AS DOUBLE) AS total
       FROM orders, ks WHERE o_orderkey IN (ks.k1, ks.k2, ks.k3)
       ORDER BY orderkey""") { t =>
    val path = graft.TempDirs.scoped("graft-manifest-cpt") + "/orders_manifested"
    ParquetWarehouse.writeManifested(
      t.orders.filter(col("o_orderkey") % 3 === 0), path, "o_orderkey", files = 2)
    (1 to 2).foreach { i =>
      ParquetWarehouse.appendManifested(
        t.orders.filter(col("o_orderkey") % 3 === i), path, "o_orderkey", files = 2)
    }
    ParquetWarehouse.compactManifested(t.spark, path, "o_orderkey", files = 4)
    ParquetWarehouse.vacuumManifested(t.spark, path)
    val r = t.orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val midKey = t.orders.filter(col("o_orderkey") <= (lo + hi) / 2)
      .agg(max("o_orderkey")).head().getLong(0)
    ParquetWarehouse.manifestProbe(t.spark, path, "o_orderkey", Seq(lo, midKey, hi))
      .select(col("o_orderkey").as("orderkey"), col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("total"))
      .orderBy("orderkey")
  }

  // t37 — RANGE SCAN through the manifest (the probe surface's interval
  // form: t34 point, t35's min/max IN, now a keyspace band — the "scan
  // one day of a year" shape at 100 TB): files whose [min,max] interval
  // overlaps the band are planned, everything else never opens; because
  // the data files are range-partitioned the planned count is
  // proportional to band width, not table size (ManifestSpec measures
  // 3-of-8 planned for a 25% band). The band bounds derive from the
  // keyspace min/max in INTEGER arithmetic identical on both engines;
  // the def aggregates the band by status so a row leaked, lost, or
  // double-planned across a file boundary hash-fails vs the raw-orders
  // oracle.
  private val t37 = q("t37_manifested_range_scan",
    s"""WITH mm AS (SELECT MIN(o_orderkey) AS klo, MAX(o_orderkey) AS khi FROM orders),
       b AS (SELECT klo + (khi - klo) // 4 AS lo,
                    klo + (khi - klo) // 2 AS hi FROM mm)
       SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_orders,
              ${sqlDsum("o_totalprice")} AS total_spent
       FROM orders, b WHERE o_orderkey BETWEEN b.lo AND b.hi
       GROUP BY 1 ORDER BY 1""") { t =>
    val path = graft.TempDirs.scoped("graft-manifest-rng") + "/orders_manifested"
    ParquetWarehouse.writeManifested(t.orders, path, "o_orderkey", files = 8)
    val r = t.orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (klo, khi) = (r.getLong(0), r.getLong(1))
    val (lo, hi) = (klo + (khi - klo) / 4, klo + (khi - klo) / 2)
    ParquetWarehouse.manifestRangeScan(t.spark, path, "o_orderkey", lo, hi)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("status")
  }

  val all: Seq[QueryDef] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13, t14,
      t15, t16, t17, t18, t19, t20, t21, t22, t23, t24, t25, t26, t27, t28, t29, t30,
      t31, t32, t33, t34, t35, t36, t37, t38, c01, c02, c03, c04, c05, c06, c07)
}
