package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's compute surface re-expressed Spark-first (SURVEY.md §2).
  *
  * Layering mirrors the reference's zones: raw (typed reads, Tables) →
  * staging (lazy, view-like projections/casts) → marts (aggregated tables).
  * dbt `ref()` dependency resolution (reference
  * dbt_project/models/marts/mart_financial_summary.sql:2) becomes the plain
  * Scala value graph: `martFinancialSummary(stgFinancialData(raw))`.
  */
object FinanceOps {

  /** Money type used everywhere; matches the reference's NUMERIC(18,2)
    * (README.md:258-264). Decimal (not double) keeps every aggregation
    * exact and order-insensitive — which is also what makes results
    * bit-reproducible across partitionings at 100 TB.
    */
  val Money: DecimalType = DecimalType(18, 2)

  /** Cast a raw measure to money. Reference staging does `value::numeric`
    * (dbt_project/models/staging/stg_financial_data.sql:7). Postgres throws
    * on unparseable input; we keep lenient NULL semantics for the raw zone
    * per SURVEY.md §7.3.1 — `try_cast`, because Spark 4 runs ANSI mode by
    * default and a plain cast now throws like Postgres does. (DuckDB oracle
    * equivalent: TRY_CAST.)
    */
  def toMoney(c: Column): Column = c.try_cast(Money)

  /** Deterministic cross-engine average: decimal sum (exact, any order)
    * then a single IEEE double division, rounded for oracle hashing. Plain
    * avg(double) is accumulation-order-dependent and won't hash-match.
    */
  def avgMoney(c: Column): Column =
    round(sum(toMoney(c)).cast(DoubleType) / count(toMoney(c)), 6) // AVG skips NULLs

  /** NULLIF-guarded ratio — the dbt macro surface (reference README.md:488-493:
    * profit margin, ROA, ROE are all `num / NULLIF(den, 0)`). A dbt macro is
    * just a Column-builder function here (SURVEY.md §2.7 F4).
    */
  def ratio(num: Column, den: Column): Column =
    num.cast(DoubleType) / nullif(den.cast(DoubleType), lit(0.0))

  /** Reference's only checked-in helper: normalize_string = strip().lower()
    * (/root/reference/utils/helpers.py:1-2).
    */
  def normalizeString(c: Column): Column = lower(trim(c))

  // ------------------------------------------------------------------
  // E1/E3: the FRED pipeline (checked-in reference path)
  // ------------------------------------------------------------------

  /** S4: flatten the nested FRED payload (observations array-of-structs) to
    * the raw.financial_data shape — the Spark analog of
    * `pd.DataFrame(data['annualReports'])` (README.md:347-348).
    */
  def flattenFredPayload(payload: DataFrame, seriesId: String): DataFrame =
    payload
      .filter(col("observations").isNotNull) // P7 key-presence guard
      .select(explode(col("observations")).as("o"))
      .select(
        lit(seriesId).as("series_id"),
        col("o.date").cast(DateType).as("observation_date"),
        col("o.value").as("value"))

  /** Staging model — stg_financial_data.sql:1-8: project + cast value. */
  def stgFinancialData(raw: DataFrame): DataFrame =
    raw.select(
      col("series_id"),
      col("observation_date"),
      toMoney(col("value")).as("value"))

  /** Mart — mart_financial_summary.sql:4-8:
    * SELECT DATE_TRUNC('year', observation_date), AVG(value) GROUP BY 1.
    * Group key cast to DATE (Postgres date_trunc returns timestamp; the
    * oracle-parity canonical form is DATE, SURVEY.md §7.3.3) and columns
    * exactly (year, avg_value) to match the reference mart's shape.
    */
  def martFinancialSummary(stg: DataFrame, valueCol: String = "value",
                           dateCol: String = "observation_date"): DataFrame =
    stg
      .groupBy(date_trunc("year", col(dateCol)).cast(DateType).as("year"))
      .agg(avgMoney(col(valueCol)).as("avg_value"))

  // ------------------------------------------------------------------
  // E2: fundamentals pipeline (README surface)
  // ------------------------------------------------------------------

  /** J2: the long→wide pivot of report types, idiomatic form. The reference
    * does this as a self-join of `raw_financial_data` filtered by
    * report_type (README.md:425-448); groupBy().pivot() is the
    * one-shuffle Spark equivalent.
    */
  def pivotReportTypes(raw: DataFrame, pivotCol: String, values: Seq[String],
                       keys: Seq[String], measure: Column): DataFrame =
    raw.groupBy(keys.map(col): _*)
      .pivot(pivotCol, values)
      .agg(first(measure, ignoreNulls = true))

  /** J1: the reference's own formulation — LEFT JOIN on the composite
    * (symbol, fiscal_date) key (README.md:461-464). Kept for exact parity;
    * duplicates keys exactly like the reference would (SURVEY.md §7.3.4).
    * Right-side value columns get a `_<rightType>` suffix, the Spark
    * spelling of the reference's `b.total_assets`-style aliases.
    */
  def joinReportTypes(raw: DataFrame, leftType: String, rightType: String,
                      keys: Seq[String]): DataFrame = {
    val l = raw.filter(col("report_type") === leftType)
    val r0 = raw.filter(col("report_type") === rightType).drop("report_type")
    val r = r0.columns.foldLeft(r0) { (df, c) =>
      if (keys.contains(c)) df else df.withColumnRenamed(c, s"${c}_$rightType")
    }
    l.join(r, keys, "left")
  }

  /** E2 composed: staging model for the fundamentals pipeline — the
    * README's join/pivot staging model (reference README.md:421-465):
    * income-statement rows LEFT JOINed to balance-sheet rows of the same
    * (symbol, fiscal_date). Output column names follow the reference's
    * staging aliases.
    */
  def stgFundamentals(raw: DataFrame): DataFrame =
    joinReportTypes(raw, "income_statement", "balance_sheet", Seq("symbol", "fiscal_date"))
      .select(
        col("symbol"), col("fiscal_date"), col("currency"),
        col("total_revenue"), col("gross_profit"), col("operating_income"),
        col("net_income"),
        col("total_assets_balance_sheet").as("total_assets"),
        col("total_liabilities_balance_sheet").as("total_liabilities"),
        col("total_equity_balance_sheet").as("total_equity"))

  /** Deterministic fundamentals rows derived from the orders fixture — the
    * stand-in for the Alpha-Vantage payload that lets the whole E2 pipeline
    * (CSV raw zone → staging join → KPI mart) run driver-gated against a
    * DuckDB oracle on the same parquet tables. Two report rows per
    * (symbol, fiscal_year): the income statement carries status-split order
    * totals as revenue/profit lines, the balance sheet re-derives
    * assets/liabilities/equity from the same sums. All money stays
    * DECIMAL(18,2)-exact so the CSV round-trip is lossless.
    */
  def fundamentalsFromOrders(orders: DataFrame): DataFrame = {
    def statusSum(status: String): Column =
      sum(when(col("o_orderstatus") === status, col("o_totalprice").cast(Money))
        .otherwise(lit(0).cast(Money))).cast(Money)
    val base = orders
      .groupBy(
        concat(lit("SYM"), (col("o_custkey") % 20).cast(StringType)).as("symbol"),
        date_trunc("year", col("o_orderdate")).cast(DateType).as("fiscal_date"))
      .agg(
        sum(col("o_totalprice").cast(Money)).cast(Money).as("revenue"),
        statusSum("O").as("open_sum"),
        statusSum("F").as("finished_sum"),
        statusSum("P").as("pending_sum"))
    val nullMoney = lit(null).cast(Money)
    val income = base.select(
      col("symbol"), lit("income_statement").as("report_type"),
      col("fiscal_date"), lit("USD").as("currency"),
      col("revenue").as("total_revenue"),
      col("open_sum").as("gross_profit"),
      col("finished_sum").as("operating_income"),
      col("pending_sum").as("net_income"),
      nullMoney.as("total_assets"), nullMoney.as("total_liabilities"),
      nullMoney.as("total_equity"))
    val balance = base.select(
      col("symbol"), lit("balance_sheet").as("report_type"),
      col("fiscal_date"), lit("USD").as("currency"),
      nullMoney.as("total_revenue"), nullMoney.as("gross_profit"),
      nullMoney.as("operating_income"), nullMoney.as("net_income"),
      col("revenue").as("total_assets"),
      col("finished_sum").as("total_liabilities"),
      (col("revenue") - col("finished_sum")).cast(Money).as("total_equity"))
    income.unionByName(balance)
  }

  /** E2 composed: the KPI mart — the five ratio macros of the reference's
    * mart_financial_kpis (README.md:467-495): gross/operating/net margin,
    * ROA, ROE, all NULLIF-guarded (F3/F4). `ref()` lineage is the Scala
    * val graph: financialKpis(stgFundamentals(raw)).
    */
  def financialKpis(stg: DataFrame): DataFrame =
    stg.select(
      col("symbol"), col("fiscal_date"),
      ratio(col("gross_profit"), col("total_revenue")).as("gross_margin"),
      ratio(col("operating_income"), col("total_revenue")).as("operating_margin"),
      ratio(col("net_income"), col("total_revenue")).as("net_margin"),
      ratio(col("net_income"), col("total_assets")).as("return_on_assets"),
      ratio(col("net_income"), col("total_equity")).as("return_on_equity"))

  // ------------------------------------------------------------------
  // Materialization (S9/S10)
  /** Calendar gap-fill + forward-fill — the TimescaleDB
    * `time_bucket_gapfill` + `locf` analog (the reference's warehouse is
    * TimescaleDB, README.md:268): densify each key's [min, max] date range
    * to daily grain and carry the last observed value across the gaps.
    * Plan: per-key bounds aggregate → sequence() explode (the calendar is
    * generated distributed, rows ∝ keys × days, never collected) → left
    * join observations → one ordered window for the fill. Missing days get
    * NULL in the raw column and the carried value in `<valueCol>_filled`.
    */
  def gapFillDaily(df: DataFrame, key: String, dateCol: String,
                   valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = df.groupBy(col(key))
      .agg(min(col(dateCol)).as("d0"), max(col(dateCol)).as("d1"))
    val calendar = bounds.select(col(key),
      explode(expr("sequence(d0, d1, interval 1 day)")).as(dateCol))
    val w = Window.partitionBy(col(key)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar
      .join(df.select(col(key), col(dateCol), col(valueCol)), Seq(key, dateCol), "left")
      .withColumn(s"${valueCol}_filled", last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Calendar gap-fill + LINEAR interpolation — the TimescaleDB
    * `time_bucket_gapfill` + `interpolate` analog next to
    * [[gapFillDaily]]'s locf: each missing day gets the straight-line
    * value between its nearest observed neighbors; leading/trailing gaps
    * carry the nearest edge observation. `valueCol` must be an integer
    * measure (cents/micros — the repo's money discipline) and the
    * interpolated value is computed in pure integer arithmetic,
    * round-half-up: v = pv + ⌊(2·(nv−pv)·(d−pd) + (nd−pd)) / (2·(nd−pd))⌋
    * with FLOOR division (sign-safe via pmod — Spark's `div` truncates
    * toward zero, which diverges from floor on the negative slopes a
    * falling series produces). Plan: the same distributed calendar
    * explode as gapFillDaily, then two per-key ordered windows (one
    * forward, one reverse) to locate the bracketing observations — rows
    * ∝ keys × days, windows partitioned by key, nothing global.
    */
  def interpFillDaily(df: DataFrame, key: String, dateCol: String,
                      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = df.groupBy(col(key))
      .agg(min(col(dateCol)).as("d0"), max(col(dateCol)).as("d1"))
    val calendar = bounds.select(col(key),
      explode(expr("sequence(d0, d1, interval 1 day)")).as(dateCol))
    val wPrev = Window.partitionBy(col(key)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col(key)).orderBy(col(dateCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col(valueCol).isNotNull, col(dateCol))
    calendar
      .join(df.select(col(key), col(dateCol), col(valueCol)), Seq(key, dateCol), "left")
      .withColumn("__pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("__pv", last(col(valueCol), ignoreNulls = true).over(wPrev))
      .withColumn("__nd", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn("__nv", first(col(valueCol), ignoreNulls = true).over(wNext))
      .withColumn("__num", lit(2L) * (col("__nv") - col("__pv")) *
        datediff(col(dateCol), col("__pd")) + datediff(col("__nd"), col("__pd")))
      .withColumn("__den", lit(2L) * datediff(col("__nd"), col("__pd")))
      .withColumn(s"${valueCol}_interp",
        when(col(valueCol).isNotNull, col(valueCol))
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          // exact multiple of __den after the pmod subtraction, so `div`'s
          // truncation can't differ from floor — integer end-to-end
          .otherwise(expr("__pv + (__num - pmod(__num, __den)) div __den")))
      .drop("__pd", "__pv", "__nd", "__nv", "__num", "__den")
  }

  // ------------------------------------------------------------------

  /** dbt `materialized='view'` → temp view (lazy, recomputed). */
  def materializeView(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** dbt `materialized='table'` → physical table. Partition by a time
    * column when given — the hypertable analog (S8, README.md:268), which
    * buys partition pruning at scale.
    */
  def materializeTable(df: DataFrame, name: String, partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    // The orphan-cleanup below derives the data path as
    // warehouse_dir/<name.toLowerCase> — valid ONLY for a managed table in
    // the default database. A qualified `db.table` would resolve under
    // <db>.db/<table> and the hand-built path would delete the wrong
    // directory (r6 advice); reject it rather than guess.
    require(!name.contains('.'),
      s"materializeTable takes an unqualified table name in the default database; got '$name'")
    // If the catalog knows the table, trust ITS location (an external or
    // custom-location table does not live under the warehouse dir). Resolve
    // before the DROP — dropping a managed table deletes its data anyway,
    // but an external table's files survive the DROP and must be cleared at
    // their real path or CTAS refuses the non-empty location.
    val catalogLoc: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(name))
        Some(new org.apache.hadoop.fs.Path(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name)).location))
      else None
    // A managed-table dir left by a previous session is not in this
    // (in-memory) catalog, and CTAS refuses a non-empty location — drop
    // both the catalog entry and any orphaned location so re-runs are
    // idempotent across sessions. Hadoop FS API keeps this portable to an
    // object-store warehouse.
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = catalogLoc.getOrElse(new org.apache.hadoop.fs.Path(wh, name.toLowerCase))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).saveAsTable(name)
  }
}
