package graft.etl

import graft.functions.DateFns._
import graft.functions.PyTitle.pyTitle
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Error raised when fact enrichment meets a natural key with no dimension row
  * — the reference ABORTS the load rather than dropping rows
  * (/root/reference/src/load.py:427-527, FactLoadError). */
final class FactLoadError(msg: String) extends RuntimeException(msg)

/** A clean, validated transaction — the typed contract of the transform
  * output (SURVEY §1.3: typed Dataset where the schema is fixed; untyped
  * DataFrame everywhere schemas are dynamic).
  */
final case class Transaction(
    transaction_id: String,
    date: java.sql.Date,
    category: String,
    amount: Double,
    merchant: String,
    payment_method: String,
    user_id: Long)

/** The transform half of the engine: SURVEY §2.A P5-P16/P18/P20/P24
  * re-expressed as declarative DataFrame stages (reference semantics from
  * /root/reference/src/transform.py:122-626).
  *
  * Every stage is a pure DataFrame→DataFrame function with no driver-side
  * row iteration — at 100 TB each is a narrow map (standardize/validate) or
  * a keyed shuffle (dedup) that AQE sizes.
  */
object TxnPipeline {

  // Validation constants — the reference's src/config.py:45-89 matrix with the
  // date window adapted to the testdata's 1995-2001 order dates. MAX_VALID_DATE
  // is injected (not wall-clock now()) per SURVEY §7.4 #4.
  val MinValidDate = "1995-01-01"
  val MaxValidDate = "2001-12-31"
  val MaxAmount = 10000.0
  /** Allowed values AFTER standardization (reference validates post-clean). */
  val AllowedCategories: Seq[String] = Seq(
    "Groceries", "Dining", "Transport", "Entertainment",
    "Utilities", "Healthcare", "Shopping", "Travel")
  val AllowedPayments: Seq[String] = Seq("Credit Card", "Debit Card", "Cash", "Digital Wallet")

  /** P5 — dedup by transaction_id keeping FIRST in file order. Spark's
    * dropDuplicates keeps an arbitrary row; the reference keeps first
    * (src/transform.py:139-144), so this is an explicit row_number over the
    * file-order column. NULL ids form one group in both engines.
    */
  def dedupKeepFirst(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy("transaction_id").orderBy("seq")
    raw.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** P6-P11 — trim, standardize (Python-exact title-case), coerce-with-null.
    * Keeps the raw columns (suffix _raw) because the null-required validation
    * rule inspects pre-coercion values. Amount goes string → DECIMAL(10,3) →
    * bround HALF_EVEN to 2dp (pandas .round() is banker's rounding —
    * reference tests/test_transform.py:366-377) → double.
    */
  def standardize(deduped: DataFrame): DataFrame =
    deduped.select(
      col("seq"),
      col("transaction_id"),
      col("category").as("cat_raw"),
      col("amount").as("amt_raw"),
      col("merchant").as("merch_raw"),
      col("payment_method").as("pay_raw"),
      col("user_id").as("user_raw"),
      col("date").as("date_raw"),
      pyTitle(trim(col("category"))).as("category"),
      pyTitle(regexp_replace(trim(col("merchant")), "\\s+", " ")).as("merchant"),
      pyTitle(trim(col("payment_method"))).as("payment_method"),
      trim(col("date")).cast("date").as("date"),
      bround(trim(col("amount")).cast("decimal(10,3)"), 2)
        .cast("decimal(10,2)").cast("double").as("amount"),
      when(trim(col("user_id")).rlike("^-?[0-9]+$"), trim(col("user_id")).cast("long"))
        .as("user_id"))

  /** P12 — the reference's 9-rule validation matrix
    * (src/transform.py:174-337) as independent boolean flags. A row can fail
    * several rules; `is_valid` requires none.
    */
  def withFlags(std: DataFrame): DataFrame = {
    val flags = Seq(
      "f_null_required" -> (col("transaction_id").isNull || col("date_raw").isNull ||
        col("cat_raw").isNull || col("amt_raw").isNull || col("merch_raw").isNull ||
        col("pay_raw").isNull || col("user_raw").isNull),
      "f_amount_nonpos" -> (col("amount").isNull || col("amount") <= 0),
      "f_amount_excessive" -> (col("amount").isNotNull && col("amount") > MaxAmount),
      "f_date_unparseable" -> col("date").isNull,
      "f_date_old" -> (col("date").isNotNull && col("date") < lit(MinValidDate).cast("date")),
      "f_date_future" -> (col("date").isNotNull && col("date") > lit(MaxValidDate).cast("date")),
      "f_category_invalid" -> (col("category").isNull || !col("category").isin(AllowedCategories: _*)),
      "f_payment_invalid" -> (col("payment_method").isNull || !col("payment_method").isin(AllowedPayments: _*)),
      "f_user_invalid" -> col("user_id").isNull)
    val withF = flags.foldLeft(std) { case (df, (n, c)) => df.withColumn(n, c) }
    withF.withColumn("is_valid", !flags.map(f => col(f._1)).reduce(_ || _))
  }

  /** The filtered, typed, clean transaction set (reference transform output). */
  def validTxns(flags: DataFrame): DataFrame =
    flags.filter(col("is_valid")).select(
      "transaction_id", "date", "category", "amount",
      "merchant", "payment_method", "user_id")

  /** Full raw→valid chain. */
  def cleanValid(raw: DataFrame): DataFrame =
    validTxns(withFlags(standardize(dedupKeepFirst(raw))))

  /** Typed view of the transform output. */
  def cleanValidTyped(raw: DataFrame): org.apache.spark.sql.Dataset[Transaction] = {
    val df = cleanValid(raw)
    import df.sparkSession.implicits._
    df.as[Transaction]
  }

  // ------------------------------------------------------------- dimensions

  /** P15+P18 — distinct-extract a dimension with a dense surrogate key
    * assigned in natural-key order (the reference reads back PostgreSQL
    * SERIAL keys; deterministic ordering replaces the database sequence —
    * SURVEY §7.3).
    *
    * Two paths, chosen by a DOMAIN bound, not a row-count guess:
    * [[dimFromBounded]] when the value domain is capped by construction
    * (the validation allowlist), [[dimFromScalable]] (range+zipWithIndex,
    * no WindowExec) when cardinality grows with the data.
    */
  def dimFrom(valid: DataFrame, natCol: String, keyName: String, nameCol: String): DataFrame =
    dimFromScalable(valid, natCol, keyName, nameCol)

  /** Bounded-domain fast path (VERDICT r3 #9): when the dim's domain is
    * capped BY CONSTRUCTION — validation restricts the column to a fixed
    * allowlist — the distinct set is ≤ `cap` values, so it collects to the
    * driver and ranks there: one partial-aggregated distinct job instead of
    * the three jobs (range sample + offsets + emit) of the zipWithIndex
    * path, and the resulting dim is a LocalTableScan that broadcasts for
    * free into the fact build. The cap is enforced, not assumed: domain
    * growth past it throws rather than silently funneling an unbounded
    * column through the driver. ASCII natural keys sort identically under
    * JVM string order, Spark UTF8String order, and DuckDB's binary
    * collation, so the ranks match the oracle's ROW_NUMBER.
    */
  def dimFromBounded(valid: DataFrame, natCol: String, keyName: String,
                     nameCol: String, cap: Int): DataFrame = {
    val spark = valid.sparkSession
    import spark.implicits._
    val vals = valid.select(col(natCol).cast("string")).distinct()
      .limit(cap + 1).collect().map(_.getString(0))
    require(vals.length <= cap,
      s"dimFromBounded($natCol): domain exceeds cap=$cap — use dimFromScalable")
    vals.sorted.zipWithIndex
      .map { case (v, i) => (i + 1, v) }.toSeq
      .toDF(keyName, nameCol)
  }

  /** Dense surrogate keys at scale: prepend `keyName` = the row's 1-based
    * global rank in `orderCol` order WITHOUT a global single-partition
    * window. Range-partition by the order column (partitions then hold
    * disjoint, ordered key ranges), sort within partitions, and assign
    * global indices via zipWithIndex (one extra job computes per-partition
    * offsets; every partition then numbers its rows independently). The
    * resulting (key, row) pairing is independent of partition boundaries —
    * range partitions are globally ordered — so the output is deterministic
    * even though the range sampler's split points are not part of the
    * contract. The one justified RDD use in the engine: per-partition
    * imperative indexing.
    *
    * Key type is INT to match the reference's SERIAL keys (and the DuckDB
    * oracle's CAST AS INT); past 2^31 rows the same pattern widens to LONG
    * verbatim (`idx + 1` without `.toInt`).
    *
    * `orderCol` must be duplicate-free (natural keys here), else the rank
    * among equal values is partition-placement-dependent.
    */
  def withDenseKey(df: DataFrame, keyName: String, orderCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
    val fieldTypes = sorted.schema.fields.map(_.dataType)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(keyName,
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
        sorted.schema.fields.toSeq)
    // InternalRows straight off the physical plan — the public
    // createDataFrame path would box every row through the Row converters
    // twice (InternalRow→Row→InternalRow), which dominates the cost of this
    // operator. UnsafeRow buffers are reused by the partition iterator, so
    // copy before values outlive the current element. zipWithIndex's count
    // job re-reads only the post-shuffle stage (shuffle files are reused
    // across the two jobs of the shared lineage).
    val indexed = sorted.queryExecution.toRdd.zipWithIndex().map { case (row, idx) =>
      val r = row.copy()
      val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        fieldTypes.length + 1)
      out.update(0, (idx + 1).toInt)
      var i = 0
      while (i < fieldTypes.length) { out.update(i + 1, r.get(i, fieldTypes(i))); i += 1 }
      (out: org.apache.spark.sql.catalyst.InternalRow)
    }
    org.apache.spark.sql.graftx.Bridge.fromInternalRows(spark, indexed, schema)
  }

  /** The scale variant of [[dimFrom]] for UNBOUNDED dims (users, merchants
    * at 100 TB): identical output contract — dense 1..N keys in natural-key
    * order — without serializing through one window task (see
    * [[withDenseKey]]).
    */
  def dimFromScalable(valid: DataFrame, natCol: String, keyName: String, nameCol: String): DataFrame =
    withDenseKey(valid.select(col(natCol).as(nameCol)).distinct(), keyName, nameCol)

  /** BOTH bounded-domain dims in ONE job (r17, guide §1.2 — don't scan the
    * valid set twice for two ≤cap-value domains): a single partial-combined
    * aggregation collects the category AND payment-method domains together
    * (`collect_set` buffers are bounded by the validation allowlists — the
    * same by-construction cap [[dimFromBounded]] enforces, re-checked
    * here), then each domain ranks on the driver exactly as
    * [[dimFromBounded]] does. Output is bit-identical to calling
    * [[dimCategory]] + [[dimPayment]] (same distinct sets, same sort, same
    * 1-based ranks) at half the valid-set scans.
    */
  def dimsBoundedFused(valid: DataFrame): (DataFrame, DataFrame) = {
    val spark = valid.sparkSession
    import spark.implicits._
    val row = valid.agg(
      collect_set(col("category").cast("string")).as("cats"),
      collect_set(col("payment_method").cast("string")).as("pays")).head()
    def mk(vals: Seq[String], cap: Int, natCol: String,
           keyName: String, nameCol: String): DataFrame = {
      require(vals.length <= cap,
        s"dimsBoundedFused($natCol): domain exceeds cap=$cap — use dimFromScalable")
      vals.sorted.zipWithIndex.map { case (v, i) => (i + 1, v) }.toSeq
        .toDF(keyName, nameCol)
    }
    (mk(row.getSeq[String](0), AllowedCategories.size,
        "category", "category_key", "category_name"),
      mk(row.getSeq[String](1), AllowedPayments.size,
        "payment_method", "payment_method_key", "payment_method_name"))
  }

  /** The five star dims shaped for MULTI-CONSUMER fact builds (r17, guide
    * §1.2/§6 — VERDICT r16 #4): bounded dims from the fused single-job
    * collect above; the merchant and user dims are [[withDenseKey]]
    * leaves, RDD-backed with their distinct and range-shuffle stages
    * already run, so every consumer (the fact build's dense-key offsets
    * job, the fact write, any post-write read-back such as t13/t38's
    * partitioned publish and DPP rollups) re-reads their shuffle output
    * rather than re-deriving them — a cut would add only a job and a block
    * copy per dim. The date dim is a plain lazy plan and is lineage-CUT
    * once (a dim-sized materialization). Rows are identical to the
    * per-dim builders' (the builders are deterministic).
    */
  def starDims(valid: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (dc, dp) = dimsBoundedFused(valid)
    val dd = graft.operators.Materialize.cut(dimDate(valid))
    (dc, dimMerchant(valid), dp, dimUser(valid), dd)
  }

  /** Category/payment pass validation only if they are IN the allowlist —
    * the domain bound the fast path's cap enforces. */
  def dimCategory(valid: DataFrame): DataFrame =
    dimFromBounded(valid, "category", "category_key", "category_name",
      cap = AllowedCategories.size)
  /** Merchant cardinality grows linearly with data size (the reference's own
    * sample has 8.6k merchants per 10k rows) — scale path by default. */
  def dimMerchant(valid: DataFrame): DataFrame =
    dimFromScalable(valid, "merchant", "merchant_key", "merchant_name")
  def dimPayment(valid: DataFrame): DataFrame =
    dimFromBounded(valid, "payment_method", "payment_method_key", "payment_method_name",
      cap = AllowedPayments.size)
  /** User dim is unbounded for the same reason — scale path by default. */
  def dimUser(valid: DataFrame): DataFrame =
    dimFromScalable(valid, "user_id", "user_key", "user_id")

  /** P14 — dim_date with all 11 attributes from the distinct dates present
    * in the data (reference src/transform.py:344-403).
    */
  def dimDate(valid: DataFrame): DataFrame =
    dateAttrs(valid.select(col("date")).distinct())

  /** P24 — dim_date pre-population over a fixed calendar range
    * (reference sql/populate_dim_date.sql:20-76, GENERATE_SERIES).
    */
  def dimDateRange(spark: org.apache.spark.sql.SparkSession,
                   from: String = MinValidDate, to: String = MaxValidDate): DataFrame =
    dateAttrs(spark.range(1).select(
      explode(sequence(lit(from).cast("date"), lit(to).cast("date"),
        expr("interval 1 day"))).as("date")))

  private def dateAttrs(dates: DataFrame): DataFrame =
    dates.select(
      dateKey(col("date")).as("date_key"),
      col("date"),
      year(col("date")).as("year"),
      quarter(col("date")).as("quarter"),
      month(col("date")).as("month"),
      dayofmonth(col("date")).as("day"),
      monthName(col("date")).as("month_name"),
      dayName(col("date")).as("day_name"),
      isoDayOfWeek(col("date")).as("day_of_week"),
      weekofyear(col("date")).as("week_of_year"),
      isWeekend(col("date")).as("is_weekend"))

  // ------------------------------------------------------------------- fact

  /** P16+P20 — fact build: project natural keys, resolve all 5 surrogate
    * keys. Enum dims (category/payment) are bounded → broadcast hint; the
    * others are left to AQE. `abortOnUnmapped` reproduces the reference's
    * error-not-filter semantics: a natural key missing from a dim kills the
    * load instead of silently dropping rows (src/load.py:460-508).
    */
  def buildFact(valid: DataFrame,
                dCat: DataFrame, dMerch: DataFrame, dPay: DataFrame,
                dUser: DataFrame, dDate: DataFrame,
                abortOnUnmapped: Boolean = false): DataFrame = {
    val enriched = valid
      .join(broadcast(dCat), valid("category") === dCat("category_name"), "left")
      .join(dMerch, valid("merchant") === dMerch("merchant_name"), "left")
      .join(broadcast(dPay), valid("payment_method") === dPay("payment_method_name"), "left")
      .join(dUser.withColumnRenamed("user_id", "u_natural"),
        valid("user_id") === col("u_natural"), "left")
      .join(dDate.select(col("date_key"), col("date").as("d_natural")),
        valid("date") === col("d_natural"), "left")
    if (abortOnUnmapped) {
      val missing = enriched.filter(
        col("category_key").isNull || col("merchant_key").isNull ||
        col("payment_method_key").isNull || col("user_key").isNull ||
        col("date_key").isNull).count()
      if (missing > 0)
        throw new FactLoadError(s"$missing fact rows reference unmapped dimension keys")
    }
    // the FACT table is the one guaranteed-huge table: its surrogate key
    // must never serialize through a single-partition window (row_number
    // over a global ORDER BY = every fact row through ONE task). Same dense
    // 1..N-in-transaction_id-order contract via the range+zipWithIndex path.
    withDenseKey(
      enriched.select(
        col("transaction_id"), col("date_key"), col("category_key"),
        col("merchant_key"), col("payment_method_key"), col("user_key"),
        col("amount")),
      "transaction_key", "transaction_id")
  }

  /** Convenience: full star build from the raw dirty frame. The valid set
    * feeds SIX consumers (5 dims + fact) — persist it once instead of
    * re-running extract+clean+validate per consumer. (At 100 TB the same
    * cut-point would be a checkpoint to storage; MEMORY_AND_DISK is right
    * for the per-file batch sizes this pipeline targets.)
    */
  def buildStar(raw: DataFrame): Map[String, DataFrame] = {
    val valid = cleanValid(raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dc, dm, dp, du, dd) = starDims(valid)
    Map(
      "valid" -> valid, "dim_category" -> dc, "dim_merchant" -> dm,
      "dim_payment_method" -> dp, "dim_user" -> du, "dim_date" -> dd,
      "fact_transactions" -> buildFact(valid, dc, dm, dp, du, dd))
  }
}
