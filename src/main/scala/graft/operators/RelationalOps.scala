package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The [GAP] relational surface from SURVEY.md §2.3–§2.6: windows, top-k,
  * sorts/limits, set ops, semi/anti joins, rollup/cube, as-of and range
  * joins. The reference delegates all of this to Postgres/Metabase
  * (reference readme.md:255-261); here each is a declarative Spark plan so
  * Catalyst keeps pushdown/pruning/broadcast decisions.
  *
  * Determinism discipline (SURVEY.md §7.3.2): every money aggregate casts
  * double → DECIMAL(18,2) *before* summing (exact, order-insensitive —
  * required both for the DuckDB-oracle hash gate and for bit-stable results
  * across partitionings at 100 TB), and every ordering carries a unique
  * tiebreak key so limits/windows are reproducible.
  */
object RelationalOps {

  val Money: DecimalType = DecimalType(18, 2)

  /** Exact, order-insensitive money sum: cast-then-sum, pinned back to
    * DECIMAL(18,2) (Spark widens sums to (28,2); DuckDB to (38,2) — pinning
    * makes the schemas agree).
    */
  def moneySum(c: Column): Column = sum(c.cast(Money)).cast(Money)

  /** Deterministic cross-engine average: exact decimal sum, one IEEE double
    * division, rounded. Plain avg(double) is accumulation-order-dependent.
    */
  def moneyAvg(c: Column): Column =
    round(moneySum(c).cast(DoubleType) / count(c.cast(Money)), 6) // AVG skips NULLs

  // --- §2.5 windows -------------------------------------------------------

  /** Year-over-year spend delta per customer — the `lag` idiom the finance
    * user asks for first (VERDICT round-1 #3). One shuffle for the yearly
    * rollup; the window reuses that partitioning clustered by customer.
    */
  def yoySpend(orders: DataFrame): DataFrame = {
    val yearly = orders
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .agg(moneySum(col("o_totalprice")).as("spend"))
    val w = Window.partitionBy("o_custkey").orderBy("yr")
    yearly.select(
      col("o_custkey"), col("yr"), col("spend"),
      (col("spend") - lag("spend", 1).over(w)).cast(Money).as("yoy_delta"))
  }

  /** Top-k rows per group via row_number — the scalable top-k idiom (no
    * global sort; one hash partition per group key). Tiebreak on the unique
    * key keeps it deterministic.
    */
  def topKOrdersPerCustomer(orders: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(Money).as("price"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= k)
  }

  /** Rolling 3-order average spend per customer (frame ROWS BETWEEN 2
    * PRECEDING AND CURRENT ROW). Sum/count inside the frame instead of
    * avg(decimal) because Spark and DuckDB disagree on avg(decimal) result
    * types.
    */
  def rollingAvgSpend(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, 0)
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      round(sum(col("o_totalprice").cast(Money)).over(w).cast(DoubleType)
        / count(lit(1)).over(w), 6).as("rolling_avg"))
  }

  // --- §2.6 sort / limit / set ops ---------------------------------------

  def topNBySpend(orders: DataFrame, n: Int): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_totalprice").cast(Money).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(n)

  /** Customers with open orders but no finished orders (EXCEPT = distinct
    * set difference in both Spark and ANSI SQL).
    */
  def openNotFinishedCustomers(orders: DataFrame): DataFrame = {
    val open = orders.filter(col("o_orderstatus") === "O").select("o_custkey")
    val fin  = orders.filter(col("o_orderstatus") === "F").select("o_custkey")
    open.except(fin)
  }

  def openAndFinishedCustomers(orders: DataFrame): DataFrame = {
    val open = orders.filter(col("o_orderstatus") === "O").select("o_custkey")
    val fin  = orders.filter(col("o_orderstatus") === "F").select("o_custkey")
    open.intersect(fin)
  }

  // --- §2.3 join surface --------------------------------------------------

  /** Semi join: customers that have at least one order. Catalyst plans a
    * broadcast/shuffled hash LeftSemi — no row duplication, no wide output.
    */
  def customersWithOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** Anti join: customers with no orders at all. */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** Range join: lineitems shipped within 90 days of their order's date.
    * Equi-key (orderkey) + range predicate — Catalyst executes the equi part
    * as a hash join and evaluates the range residual inline, so this stays
    * a single shuffle at any scale (never a cartesian).
    */
  def shippedWithin90Days(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(
        lineitem,
        orders("o_orderkey") === lineitem("l_orderkey") &&
          lineitem("l_shipdate") >= orders("o_orderdate") &&
          lineitem("l_shipdate") < orders("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(orders("o_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_shipped_90d"))

  /** Generic as-of join: for each left row, the most recent right values
    * (per `keys`) at-or-before the left row's `tsCol`. Union-sort-ffill
    * (SURVEY.md §2.3): one shuffle on the key, then a running
    * `last(ignoreNulls)` — O(n log n) per key vs O(n·m) for a naive
    * inequality join; this is the formulation that survives 100 TB. Right
    * rows sort before left rows at equal ts, making the bound inclusive.
    * Right value columns come back as `asof_<name>`.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, rightVals: Seq[String]): DataFrame = {
    val r = right.select(
      (keys :+ tsCol).map(col) ++ rightVals.map(c => col(c).as(s"asof_$c")): _*)
      .withColumn("__side", lit(0))
    val l = left.withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    // (ts, side) alone leaves two right rows sharing (key, ts) tie-broken
    // by physical partition order (r10 advice: layout-nondeterministic).
    // Ordering additionally by the carried values makes the greatest value
    // tuple win under ANY partitioning; left rows carry only nulls, so
    // their mutual ties are harmless.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol) +: col("__side") +: rightVals.map(c => col(s"asof_$c")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same window spec for every column → Catalyst fuses into one WindowExec
    val filled = rightVals.foldLeft(u) { (df, c) =>
      df.withColumn(s"asof_$c", last(col(s"asof_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).drop("__side")
  }

  /** Skew-mitigated as-of join (SCALE.md §joins): identical semantics to
    * `asOfJoin`, but the running-fill window partitions on (keys, band)
    * instead of keys alone, so one pathological key (a user with 10⁸
    * events) sorts in |bands| parallel slices instead of one straggler
    * task. `band` maps the ts column to a time slice and MUST be monotone
    * non-decreasing in ts (e.g. `date_trunc("month", _)`) — banding by
    * hash would scatter a fill's prefix across tasks and break carry-over.
    *
    * Carry across band boundaries: each (keys, band) computes its final
    * filled value (one extra windowed pass over the same banded
    * partition), those finals collapse to a |keys| × |bands| frame, and a
    * per-key running `last(ignoreNulls)` over STRICTLY EARLIER bands gives
    * each band its carry-in — the per-key window that remains is over
    * band-cardinality rows, never row-cardinality. A left row's value is
    * its within-band fill when the band has already seen a right row, else
    * the carry-in.
    */
  def asOfJoinBanded(left: DataFrame, right: DataFrame, keys: Seq[String],
                     tsCol: String, rightVals: Seq[String],
                     band: Column => Column): DataFrame = {
    val r = right.select(
      (keys :+ tsCol).map(col) ++ rightVals.map(c => col(c).as(s"asof_$c")): _*)
      .withColumn("__side", lit(0))
    val l = left.withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__band", band(col(tsCol)))
    val keyB = (keys :+ "__band").map(col)
    // deterministic (ts, side, values) ordering — see asOfJoin
    val ord = col(tsCol) +: col("__side") +: rightVals.map(c => col(s"asof_$c"))
    val wIn = Window.partitionBy(keyB: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFin = Window.partitionBy(keyB: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val filled = rightVals.foldLeft(u) { (df, c) =>
      df.withColumn(s"__in_$c", last(col(s"asof_$c"), ignoreNulls = true).over(wIn))
        .withColumn(s"__fin_$c", last(col(s"asof_$c"), ignoreNulls = true).over(wFin))
    }
    // every row of a (keys, band) slice carries the same __fin_* → first()
    // collapses exactly; the result is the tiny per-band frame
    val bandFinals = filled.groupBy(keyB: _*).agg(
      first(col(s"__fin_${rightVals.head}")).as(s"__fin_${rightVals.head}"),
      rightVals.tail.map(c => first(col(s"__fin_$c")).as(s"__fin_$c")): _*)
    val wCarry = Window.partitionBy(keys.map(col): _*).orderBy(col("__band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = rightVals.foldLeft(bandFinals) { (df, c) =>
      df.withColumn(s"__carry_$c", last(col(s"__fin_$c"), ignoreNulls = true).over(wCarry))
    }.select(keyB ++ rightVals.map(c => col(s"__carry_$c")): _*)
    val out = rightVals.foldLeft(filled.join(carries, keys :+ "__band")) { (df, c) =>
      df.withColumn(s"asof_$c", coalesce(col(s"__in_$c"), col(s"__carry_$c")))
    }
    out.filter(col("__side") === 1)
      .drop("__side" +: "__band" +:
        rightVals.flatMap(c => Seq(s"__in_$c", s"__fin_$c", s"__carry_$c")): _*)
  }

  /** As-of join specialization: for each purchase event, the most recent
    * signup ts of the same user at-or-before the purchase.
    */
  def asOfLastSignup(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
    asOfJoin(purchases, signups, Seq("user_id"), "ts", Seq("signup_ts"))
      .select(col("event_id"), col("user_id"),
        col("asof_signup_ts").as("last_signup_ts"))
  }

  /** As-of join with a STALENESS TOLERANCE — the finance-reporting refinement
    * of `asOfJoin`: a quote/dimension older than `toleranceDays` is not a
    * usable match (marking a position against a week-old price is worse
    * than marking it unmatched). Same one-shuffle union-sort-ffill plan;
    * the matched right-row timestamp rides the fill window alongside the
    * values, so staleness is a per-row arithmetic check after the fill —
    * no second join. Emits `asof_age_days` (the observed staleness, NULL
    * when no earlier right row exists) next to the tolerance-nulled
    * values, so the audit of HOW stale matches are comes free.
    */
  def asOfJoinTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
                        tsCol: String, rightVals: Seq[String],
                        toleranceDays: Int): DataFrame = {
    val r = right.select(
      (keys :+ tsCol).map(col) ++ rightVals.map(c => col(c).as(s"asof_$c")): _*)
      .withColumn("__side", lit(0))
      .withColumn("__rts", col(tsCol))
    val l = left.withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    // deterministic (ts, side, values) ordering — see asOfJoin. __rts is
    // constant (= ts) within a tie group, so it needs no ordering role.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol) +: col("__side") +: rightVals.map(c => col(s"asof_$c")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = (rightVals.map(c => s"asof_$c") :+ "__rts").foldLeft(u) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    val age = datediff(col(tsCol), col("__rts"))
    val out = filled.filter(col("__side") === 1)
      .withColumn("asof_age_days", age.cast(IntegerType))
    rightVals.foldLeft(out) { (df, c) =>
      df.withColumn(s"asof_$c",
        when(col("asof_age_days") <= toleranceDays, col(s"asof_$c")))
    }.drop("__side", "__rts")
  }

  /** The tolerance variant on the events fixture: purchases matched to the
    * last signup within 7 days — older signups surface as age-only rows.
    */
  def asOfLastSignupTolerant(events: DataFrame, toleranceDays: Int = 7): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
    asOfJoinTolerance(purchases, signups, Seq("user_id"), "ts", Seq("signup_ts"),
      toleranceDays)
      .select(col("event_id"), col("user_id"),
        col("asof_signup_ts").as("last_signup_ts"), col("asof_age_days"))
  }

  /** The same as-of specialization through the banded (skew-mitigated)
    * path, day-banded — registered as its own driver-gated query so the
    * band/carry machinery is oracled against the identical SQL, not just
    * spec-checked for equivalence.
    */
  def asOfLastSignupBanded(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("ts").as("signup_ts"))
    asOfJoinBanded(purchases, signups, Seq("user_id"), "ts", Seq("signup_ts"),
      c => date_trunc("day", c))
      .select(col("event_id"), col("user_id"),
        col("asof_signup_ts").as("last_signup_ts"))
  }

  // --- §2.4 grouping sets -------------------------------------------------

  /** ROLLUP over the region→nation hierarchy: customer counts and balances
    * at leaf, subtotal, and grand-total levels. nation/region are tiny —
    * Catalyst broadcasts both; the only shuffle is the rollup itself.
    */
  def customerRollup(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), moneySum(col("c_acctbal")).as("total_bal"))

  /** CUBE over order status × priority. */
  def orderCube(orders: DataFrame): DataFrame =
    orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total_price"))

  /** Distinct aggregate: per-status distinct customers + order count. */
  def distinctCustomersPerStatus(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))

  // --- P6 conditional mapping --------------------------------------------

  /** CASE WHEN indicator mapping — the series_id → indicator_name idiom
    * (reference readme.md:368-372) over the events fixture.
    */
  def eventIndicator(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      when(col("event_type") === "purchase", "Revenue")
        .when(col("event_type") === "signup", "Acquisition")
        .when(col("event_type") === "error", "Reliability")
        .otherwise("Engagement").as("indicator"))

  /** Data-quality audit: null count per column + total rows, in one pass.
    * One partial→final aggregate whose shuffle is a single row regardless
    * of input size — the cheapest possible full-table profile.
    */
  def nullAudit(df: DataFrame): DataFrame =
    df.select(
      df.columns.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")).toSeq :+
        count(lit(1)).as("n_rows"): _*)

  /** Column-level table profile in ONE pass: per column, null count and
    * exact distinct-value count next to the row total — the deequ/
    * dbt-utils "describe this table" read that extends `nullAudit` with
    * cardinality (the input to join-strategy and bucketing decisions).
    * All metrics compute in a single aggregate (Catalyst plans the
    * multi-distinct via Expand — one pass over the data, #columns× rows
    * into the shuffle, each narrowed to one column); the long output
    * frame is #columns rows. At 100 TB swap exact distincts for
    * `approx_count_distinct` or the KMV sketch — same frame, bounded
    * buffers; exact is kept here because the oracle gates exact values.
    * n_distinct counts non-null values (SQL COUNT DISTINCT semantics).
    */
  def tableProfile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    // Backtick-quoted input references and POSITIONAL intermediate names:
    // raw names spliced into expr("stack('name', ...)") would mis-parse on
    // a quote/space/reserved token (r10 advice). The long frame is built
    // with typed Columns (array-of-structs + explode) — same single wide
    // aggregate, one codegen'd projection, no SQL-string surface at all.
    def bq(n: String) = "`" + n.replace("`", "``") + "`"
    val aggs = count(lit(1)).as("n_rows") +: cols.zipWithIndex.flatMap { case (c, i) => Seq(
      sum(when(col(bq(c)).isNull, 1L).otherwise(0L)).as(s"__nulls_$i"),
      countDistinct(col(bq(c))).as(s"__dist_$i")) }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col_name"), col(s"__nulls_$i").as("n_nulls"),
        col(s"__dist_$i").as("n_distinct"))
    }
    wide.select(col("n_rows"), explode(array(structs: _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("n_rows"),
        col("kv.n_nulls").as("n_nulls"), col("kv.n_distinct").as("n_distinct"))
  }

  /** Shuffle-skew pre-flight for a join/group key: bucket the key through
    * the PORTABLE md5 hash (the repo's engine-independent lottery — not
    * Spark's internal murmur, so the oracle replays it bit-for-bit) into
    * `buckets` cells and report the skew summary: bucket count, row
    * count, min/max bucket, and max/mean in half-up ppm. A ratio near
    * 1e6 means the shuffle balances; 5e6 means one reducer does 5× the
    * work — the straggler bound priced BEFORE the job runs, for the cost
    * of one keyed partial-agg pass.
    */
  def hashPartitionBalance(df: DataFrame, keyCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets out of range: $buckets")
    val b = df.select(expr(
        s"cast(conv(substr(md5(cast(`$keyCol` as string)), 1, 8), 16, 10) as bigint) % $buckets")
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    b.agg(count(lit(1)).as("n_buckets"),
        expr("cast(sum(n) as bigint)").as("n_rows"),
        min(col("n")).as("min_bucket"),
        max(col("n")).as("max_bucket"))
      // ratio against the CONFIGURED bucket count, not the occupied one:
      // a single hot key fills one bucket and must read `buckets`× the
      // ideal share, not 1× (empty buckets are the skew, not noise)
      .select(col("n_buckets"), col("n_rows"), col("min_bucket"), col("max_bucket"),
        expr(s"""cast((max_bucket * ${buckets}L * 1000000 + n_rows div 2)
          | div n_rows as bigint)""".stripMargin).as("max_mean_ratio_ppm"))
  }

  /** Z-order layout effectiveness audit — the data-skipping read behind
    * the Z-order writer: quantize two keys to 16 bits, interleave them
    * through the NATIVE Morton expression
    * ([[graft.functions.GraftFunctions.interleaveBits]], codegen'd), cut
    * the curve into `1 << bucketBits` equal z-ranges (what row groups
    * would see under a z-sorted write), and report each bucket's
    * bounding box as per-dimension span ppm of the full 16-bit range.
    * Small spans on BOTH dimensions are the whole point of Z-order — a
    * min/max-pruned scan skips a bucket when either predicate misses its
    * box; the single-key-sorted alternative gives span ≈ 0 on one
    * dimension and ≈ 1e6 on the other. Pure integer end-to-end: one
    * map-side expression + one partial aggregate over ≤ 2^bucketBits
    * groups.
    */
  def zorderSpanAudit(df: DataFrame, aCol: String, bCol: String,
                      bucketBits: Int = 6): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 16, s"bucketBits out of range: $bucketBits")
    // sign-safe 16-bit quantization (the weekday-seasonality lesson:
    // % is sign-preserving on both engines; negative keys must not reach
    // the bit spread)
    val q = df.select(
      expr(s"((cast($aCol as bigint) % 65536) + 65536) % 65536").as("a"),
      expr(s"((cast($bCol as bigint) % 65536) + 65536) % 65536").as("b"))
    q.select(col("a"), col("b"),
        graft.functions.GraftFunctions.interleaveBits(col("a"), col("b")).as("z"))
      .select(col("a"), col("b"),
        expr(s"z div ${1L << (32 - bucketBits)}").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"))
      .select(col("bucket"), col("n"),
        expr("((max_a - min_a + 1) * 1000000 + 32768) div 65536").as("span_a_ppm"),
        expr("((max_b - min_b + 1) * 1000000 + 32768) div 65536").as("span_b_ppm"))
  }

  /** Hilbert-layout effectiveness audit — [[zorderSpanAudit]]'s read with
    * the Hilbert index ([[graft.functions.GraftFunctions.hilbertIndex]],
    * codegen'd) as the clustering key. Same quantization, same equal
    * curve-range bucketing, same per-bucket bounding-box spans — so the
    * two audits are row-for-row comparable, and the comparison is the
    * point: the Hilbert walk has no quadrant-boundary diagonal jumps —
    * see [[curveSpanCompare]] for the measured trade (balanced boxes vs
    * Morton's axis-aligned slabs; Hilbert's edge shows at equal-count
    * file ranges, the writer path).
    */
  def hilbertSpanAudit(df: DataFrame, aCol: String, bCol: String,
                       bucketBits: Int = 6): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 16, s"bucketBits out of range: $bucketBits")
    val q = df.select(
      expr(s"((cast($aCol as bigint) % 65536) + 65536) % 65536").as("a"),
      expr(s"((cast($bCol as bigint) % 65536) + 65536) % 65536").as("b"))
    q.select(col("a"), col("b"),
        graft.functions.GraftFunctions.hilbertIndex(col("a"), col("b")).as("h"))
      .select(col("a"), col("b"),
        expr(s"h div ${1L << (32 - bucketBits)}").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"))
      .select(col("bucket"), col("n"),
        expr("((max_a - min_a + 1) * 1000000 + 32768) div 65536").as("span_a_ppm"),
        expr("((max_b - min_b + 1) * 1000000 + 32768) div 65536").as("span_b_ppm"))
  }

  /** The layout decision row: both curve audits rolled to one row per
    * curve — mean per-bucket span on each dimension, the mean
    * worst-dimension span, and the mean bounding-box area (ppm²).
    * What it MEASURES (sf0.001 orders): at equal-curve-range cuts the
    * two curves are near-equivalent on worst-dimension span (Morton
    * 101725 vs Hilbert 103490 ppm) — Morton's odd-depth buckets are
    * axis-aligned slabs (one dim ~2× the other: 101680/51204), Hilbert's
    * are balanced L-walks (75743/78585) with a slightly larger box for
    * the same area. The decision is therefore WORKLOAD-shaped: Morton
    * when predicates concentrate on the slab-thin dimension, Hilbert
    * when both dimensions are queried symmetrically — and Hilbert's
    * measured edge is at equal-COUNT ranges (file writes: the
    * `writeHilbertOrdered` spec shows fewer slice-touching files and
    * box area ≤ Morton's). An honest tie is the finding; the row exists
    * so the layout choice is made on numbers, not folklore.
    */
  def curveSpanCompare(df: DataFrame, aCol: String, bCol: String,
                       bucketBits: Int = 7): DataFrame = {
    // bucketBits is ODD by default and must stay so for the comparison
    // to discriminate: at even depths an equal-curve-range bucket is
    // exactly a quadtree cell under BOTH curves (same cells, different
    // numbering → identical spans); the odd half-step is where Morton
    // cuts a quadrant into two disjoint-slab halves and Hilbert keeps a
    // contiguous half-walk.
    //
    // Cells use the WRITER's quantization, not the audits' sign-safe
    // mod: min/max range normalization onto the full 16-bit grid (exact
    // integer ((v−mn)·65536) div (range+1)), so the comparison is
    // scale-free — under mod, a small key domain collapses every row
    // into one curve bucket and the comparison degenerates
    val v = df.select(col(aCol).cast(LongType).as("va"),
      col(bCol).cast(LongType).as("vb"))
    val mm = v.agg(min(col("va")).as("mna"), max(col("va")).as("mxa"),
      min(col("vb")).as("mnb"), max(col("vb")).as("mxb"))
    // DECIMAL(38,0)-widened PER OPERAND: a column domain wider than ~2^47
    // would wrap the ×65536 silently under LONG (DuckDB raises instead),
    // and `cast(va - mna as decimal)` still evaluates the subtraction in
    // LONG first — a domain spanning more than Long.MaxValue (min near
    // -2^62, max near 2^62) wraps BEFORE the cast, as does the
    // `mxa - mna + 1` range width (r14 ADVICE). Widening each operand
    // before any arithmetic keeps the whole expression exact on any LONG
    // domain; DuckDB raises rather than wraps on such domains, so the
    // engines can never silently disagree.
    val cells = v.crossJoin(broadcast(mm))
      .select(
        expr("cast(((cast(va as decimal(38,0)) - mna) * 65536) div (cast(mxa as decimal(38,0)) - mna + 1) as bigint)").as("ca"),
        expr("cast(((cast(vb as decimal(38,0)) - mnb) * 65536) div (cast(mxb as decimal(38,0)) - mnb + 1) as bigint)").as("cb"))
    def roll(audit: DataFrame, name: String): DataFrame =
      audit.agg(count(lit(1)).as("n_buckets"),
        expr("(sum(span_a_ppm) + count(1) div 2) div count(1)").as("mean_span_a_ppm"),
        expr("(sum(span_b_ppm) + count(1) div 2) div count(1)").as("mean_span_b_ppm"),
        expr("(sum(greatest(span_a_ppm, span_b_ppm)) + count(1) div 2) div count(1)")
          .as("mean_max_span_ppm"),
        expr("(sum(span_a_ppm * span_b_ppm) + count(1) div 2) div count(1)")
          .as("mean_box_ppm2"))
        .select(lit(name).as("curve"), col("n_buckets"),
          col("mean_span_a_ppm"), col("mean_span_b_ppm"),
          col("mean_max_span_ppm"), col("mean_box_ppm2"))
    roll(zorderSpanAudit(cells, "ca", "cb", bucketBits), "morton")
      .unionByName(roll(hilbertSpanAudit(cells, "ca", "cb", bucketBits), "hilbert"))
  }

  /** 2-D Pareto frontier (skyline): the rows no other row dominates on
    * (x, y) — "who is on the efficient edge" (biggest spenders for their
    * order count, best quality for their length, …). Dominance: q beats p
    * when q.x ≥ p.x ∧ q.y ≥ p.y with at least one strict; exact
    * duplicates survive together. The naive skyline is an O(n²)
    * all-pairs NOT EXISTS (the oracle's spelling); the engine exploits
    * the 2-D structure: a point is on the frontier iff its y (a) equals
    * the max y of its own x slice and (b) strictly beats the max y over
    * every larger x — one per-x partial aggregate (corpus-scale) + one
    * [[ShardedOrder.withRunningMax]] dominance scan over DISTINCT x in
    * descending order (fact-scale-safe: range-sharded, never one
    * reducer) + one join back. Ties anywhere are exact integer compares.
    */
  def paretoFrontier(df: DataFrame, idCol: String, xCol: String,
                     yCol: String, shards: Int = 32): DataFrame = {
    val pts = df.select(col(idCol).as("id"),
      col(xCol).cast(LongType).as("x"), col(yCol).cast(LongType).as("y"))
    val gx = pts.groupBy(col("x")).agg(max(col("y")).as("gy"))
    val scanned = ShardedOrder.withRunningMax(gx, col("gy"), "ce", shards,
      col("x").desc)
    pts.join(scanned, Seq("x"))
      .filter(col("y") === col("gy") && (col("ce").isNull || col("ce") < col("y")))
      .select(col("id").as(idCol), col("x").as(xCol), col("y").as(yCol))
  }

  /** First-seen novelty audit: per day, how many active entities are NEW
    * (their first-ever appearance). The per-snapshot freshness signal a
    * recurring ingest watches — a collapsing new-rate means the source is
    * re-crawling known material; a spike means a new shard came online.
    * Shape: distinct (user, day) pairs, a min-over-user window to tag each
    * user's first day, then a per-day aggregate. Two keyed shuffles
    * (user_id, then day), both partial-aggregated map-side; no join and no
    * driver-side state, so the plan is the same at 100 TB — the window
    * partitions by user_id, which is high-cardinality and unskewed by
    * construction. Rate uses the engine-stable quantize-at-integer form
    * (see quality_classifier): scale-0 rounding of an exact-integer ratio.
    */
  def firstSeenRate(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id")
    userDays
      .withColumn("first_day", min(col("day")).over(w))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("active_users"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"))
      .withColumn("new_rate_ppm",
        expr("(cast(new_users as decimal(38,0)) * 1000000 + active_users div 2) div active_users"))
  }

  /** SCD2 point-in-time join: enrich facts with THE dimension version
    * that was valid at each fact's timestamp — equi-join on the business
    * key plus the half-open validity residual `from ≤ ts < to`. The
    * warehouse pattern behind every "as it was then" report (what tier
    * was this customer in WHEN they ordered, not today); a join on key
    * alone silently fans out one row per version and double-counts every
    * aggregate downstream.
    *
    * Plan shape: the key equi-condition drives a hash/sort-merge join;
    * the validity window is a residual filter inside it — never a
    * nested-loop (same discipline as J5 range joins). Non-overlapping
    * version windows per key (the SCD2 invariant) guarantee at most one
    * match per fact; `expectComplete` tightens that to exactly-one by
    * inner-joining (a fact outside all windows drops — make it LEFT at
    * the call site when orphans must surface for audit).
    */
  def pointInTimeJoin(facts: DataFrame, dim: DataFrame, keys: Seq[String],
                      tsCol: String, fromCol: String = "valid_from",
                      toCol: String = "valid_to"): DataFrame =
    keys.map(dim(_)).foldLeft(
      facts.join(dim,
        keys.map(k => facts(k) === dim(k)).reduce(_ && _) &&
          facts(tsCol) >= dim(fromCol) && facts(tsCol) < dim(toCol))
        .drop(dim(fromCol)).drop(dim(toCol)))((df, c) => df.drop(c))

  /** dbt-style schema expectations — the `dbt test` surface the reference
    * documents (reference readme.md:517-520; its template config reserves
    * `test-paths`) as a first-class operator: `unique`, `not_null`,
    * `accepted_values`, and `relationships` rules evaluated over a table,
    * one audit row per rule: (rule, column, n_violations, passed). This is
    * the contract gate a warehouse runs after every load; emitting an
    * audit FRAME (not an exception) lets pipelines route failures to
    * quarantine/alerting while clean loads proceed.
    *
    * Scale shape: each rule family is one aggregate or one keyed
    * anti-join over the child table — no rule multiplies table passes
    * (uniqueness groups by the column; relationships anti-join the
    * parent's distinct keys); the per-rule single-row results union into
    * a frame of #rules rows.
    */
  def dqExpectations(df: DataFrame,
                     unique: Seq[String] = Nil,
                     notNull: Seq[String] = Nil,
                     accepted: Seq[(String, Seq[String])] = Nil,
                     relationships: Seq[(String, DataFrame, String)] = Nil): DataFrame = {
    def audit(rule: String, column: String, violations: DataFrame): DataFrame =
      violations.agg(coalesce(sum(col("n")), lit(0L)).as("n_violations"))
        .select(lit(rule).as("rule"), lit(column).as("column"),
          col("n_violations"), (col("n_violations") === 0L).as("passed"))
    val checks =
      unique.map { c =>
        audit("unique", c, df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1).select(lit(1L).as("n")))
      } ++
      notNull.map { c =>
        audit("not_null", c, df.filter(col(c).isNull).select(lit(1L).as("n")))
      } ++
      accepted.map { case (c, values) =>
        audit("accepted_values", c,
          df.filter(!col(c).isin(values: _*) || col(c).isNull).select(lit(1L).as("n")))
      } ++
      relationships.map { case (c, parent, parentKey) =>
        audit("relationships", c,
          df.filter(col(c).isNotNull)
            .join(parent.select(col(parentKey).as(c)).distinct(), Seq(c), "left_anti")
            .select(lit(1L).as("n")))
      }
    require(checks.nonEmpty, "no expectations given")
    checks.reduce(_ unionByName _)
  }

  /** Severity-aware expectations ([EXT] — the `dbt test` severity +
    * `--store-failures` surface): rules carry `warn` | `error` severity,
    * the audit frame reports it, and `dqQuarantine` lands the VIOLATING
    * ROWS for error-severity rules in a quarantine table — so a pipeline
    * can block on errors, alert on warns, and hand the quarantined rows
    * to triage without re-running the audit. Rule evaluation is the same
    * one-aggregate/one-anti-join-per-rule shape as `dqExpectations`;
    * the violations pass tags full table rows per rule, so its cost is
    * one extra filter/semi-join per rule over the (normally tiny) dirty
    * subset. For `unique`, the audit counts duplicate GROUPS (the dbt
    * convention) while quarantine stores every MEMBER row of a duplicate
    * group — the rows a triage actually inspects.
    */
  sealed trait DqRule { def column: String; def severity: String }
  object DqRule {
    final case class Unique(column: String, severity: String = "error") extends DqRule
    final case class NotNull(column: String, severity: String = "error") extends DqRule
    final case class AcceptedValues(column: String, values: Seq[String],
                                    severity: String = "warn") extends DqRule
    final case class Relationship(column: String, parent: DataFrame, parentKey: String,
                                  severity: String = "error") extends DqRule
  }

  def dqAudit(df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    require(rules.nonEmpty, "no expectations given")
    def audit(rule: String, r: DqRule, violations: DataFrame): DataFrame =
      violations.agg(coalesce(sum(col("n")), lit(0L)).as("n_violations"))
        .select(lit(rule).as("rule"), lit(r.column).as("column"),
          lit(r.severity).as("severity"), col("n_violations"),
          (col("n_violations") === 0L).as("passed"))
    rules.map {
      case r @ DqRule.Unique(c, _) =>
        audit("unique", r, df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1).select(lit(1L).as("n")))
      case r @ DqRule.NotNull(c, _) =>
        audit("not_null", r, df.filter(col(c).isNull).select(lit(1L).as("n")))
      case r @ DqRule.AcceptedValues(c, values, _) =>
        audit("accepted_values", r,
          df.filter(!col(c).isin(values: _*) || col(c).isNull).select(lit(1L).as("n")))
      case r @ DqRule.Relationship(c, parent, parentKey, _) =>
        audit("relationships", r,
          df.filter(col(c).isNotNull)
            .join(parent.select(col(parentKey).as(c)).distinct(), Seq(c), "left_anti")
            .select(lit(1L).as("n")))
    }.reduce(_ unionByName _)
  }

  /** The violating ROWS, tagged (dq_rule, dq_column, dq_severity) — full
    * table schema preserved so triage sees the record, not a key.
    */
  def dqViolations(df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    require(rules.nonEmpty, "no expectations given")
    def tagged(rule: String, r: DqRule, rows: DataFrame): DataFrame =
      rows.withColumn("dq_rule", lit(rule))
        .withColumn("dq_column", lit(r.column))
        .withColumn("dq_severity", lit(r.severity))
    rules.map {
      case r @ DqRule.Unique(c, _) =>
        tagged("unique", r, df.join(
          df.groupBy(col(c)).agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
            .select(col(c)), Seq(c), "left_semi"))
      case r @ DqRule.NotNull(c, _) =>
        tagged("not_null", r, df.filter(col(c).isNull))
      case r @ DqRule.AcceptedValues(c, values, _) =>
        tagged("accepted_values", r,
          df.filter(!col(c).isin(values: _*) || col(c).isNull))
      case r @ DqRule.Relationship(c, parent, parentKey, _) =>
        tagged("relationships", r,
          df.filter(col(c).isNotNull)
            .join(parent.select(col(parentKey).as(c)).distinct(), Seq(c), "left_anti"))
    }.reduce(_ unionByName _)
  }

  /** Evaluate rules, quarantine error-severity violating rows to `dir`
    * (partitioned by rule — each rule's failures are one prunable
    * directory), and return the audit frame. Warn-severity rows alert via
    * the audit but do NOT quarantine — the load proceeds.
    */
  def dqQuarantine(df: DataFrame, rules: Seq[DqRule], dir: String): DataFrame = {
    val errorRules = rules.filter(_.severity == "error")
    if (errorRules.nonEmpty)
      dqViolations(df, errorRules)
        .write.mode("overwrite").partitionBy("dq_rule").parquet(dir)
    dqAudit(df, rules)
  }

  /** MERGE-style upsert as a pure transformation: the new snapshot is
    * `updates` plus every `existing` row whose key is not updated —
    * update-wins, insert-new, untouched-preserved. Spark on plain parquet
    * has no MERGE INTO; this is the relational core of one, composed with
    * the write side a 100 TB table actually uses: route the merged frame
    * through `IngestOps.appendRunPartition` (dynamic partition overwrite)
    * so only partitions CONTAINING updated keys rewrite, never the table.
    * One keyed anti-join — co-partitioned with the union that follows.
    */
  def upsertByKey(existing: DataFrame, updates: DataFrame,
                  keys: Seq[String]): DataFrame =
    updates.unionByName(existing.join(updates, keys, "left_anti"))

  /** CDC apply (the Debezium/MERGE-with-deletes shape `upsertByKey`
    * lacks): `changes` carries (op ∈ I/U/D, sequence, key, payload);
    * per key the HIGHEST-sequence change wins — an upsert lands the new
    * row, a delete tombstone removes it — and stale out-of-order changes
    * are ignored, so the apply is correct under the at-least-once,
    * arrival-order-free delivery every log-based CDC feed actually has.
    * One keyed window over the (small) change batch + one anti-join
    * against the snapshot: O(|changes| + |table|) with the table side
    * routed through dynamic partition overwrite at rest, same as upsert.
    * Deterministic: the window orders by (sequence DESC, op) so a
    * same-sequence pathological tie resolves identically everywhere.
    */
  def applyCdc(existing: DataFrame, changes: DataFrame,
               keys: Seq[String], seqCol: String = "cdc_seq",
               opCol: String = "cdc_op"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol))
    val last = changes
      .withColumn("cdc_rn", row_number().over(w))
      .filter(col("cdc_rn") === 1)
    existing.join(last, keys, "left_anti")
      .unionByName(last.filter(col(opCol) =!= "D")
        .drop("cdc_rn", seqCol, opCol))
  }

  /** Keyed diff between two snapshots of a table — the audit a warehouse
    * runs across loads ("what did yesterday's batch actually change") and
    * the building block for data-versioning diffs. One FULL OUTER
    * co-partitioned join on the key classifies every row as
    * added / removed / changed; unchanged rows are filtered out BEFORE
    * anything widens, so output is O(|delta|), not O(|table|). Column
    * comparison is null-safe (`<=>`): a NULL→value flip is a change, a
    * NULL→NULL pair is not; presence is tracked by explicit markers, so
    * an all-NULL row is still distinguishable from an absent one. At
    * 100 TB both snapshots bucket by the key (`ScaleOps.writeBucketed`)
    * and the diff is shuffle-free; the join itself is the minimum
    * possible work for an exact diff.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val cmp = oldDf.columns.filterNot(keys.contains).toSeq
    require(cmp.nonEmpty, "snapshotDiff needs at least one non-key column")
    require(newDf.columns.sorted.sameElements(oldDf.columns.sorted),
      s"snapshot schemas differ: ${oldDf.columns.mkString(",")} vs ${newDf.columns.mkString(",")}")
    val o = oldDf.select(keys.map(col) ++ cmp.map(c => col(c).as(s"old_$c"))
      :+ lit(1).as("_old_present"): _*)
    val n = newDf.select(keys.map(col) ++ cmp.map(c => col(c).as(s"new_$c"))
      :+ lit(1).as("_new_present"): _*)
    val anyDiff = cmp.map(c => !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn("diff_type",
        when(col("_old_present").isNull, lit("added"))
          .when(col("_new_present").isNull, lit("removed"))
          .when(anyDiff, lit("changed")))
      .filter(col("diff_type").isNotNull)
      .select(keys.map(col) ++ Seq(col("diff_type"))
        ++ cmp.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Root/depth flattening of a parent-pointer hierarchy — the
    * WITH RECURSIVE surface Spark SQL lacks (org charts, BOM explosions,
    * category trees), built the scale-correct way: POINTER DOUBLING.
    * Convention: a root points at itself. Each round composes the
    * current 2^r-step ancestor map with itself (anc' = anc∘anc,
    * depth' = d + d_anc), so `rounds` rounds resolve any hierarchy of
    * depth ≤ 2^rounds in O(log depth) co-partitioned self-joins — vs one
    * round PER LEVEL for naive frontier descent (a 1 000-deep BOM is 10
    * doubling rounds, not 1 000). Root self-loops carry depth 0, so
    * composition past convergence is the identity — extra rounds are
    * harmless, and the fixed count keeps the result a pure function of
    * the edge set (oracle-replayable). Late rounds concentrate join keys
    * on the roots; AQE's skew split handles exactly that hub shape, and
    * lineage is checkpoint-bounded on the collapse cadence.
    */
  def hierarchyRoots(edges: DataFrame, rounds: Int = 16): DataFrame = {
    require(rounds >= 1 && rounds <= 40, s"rounds out of range: $rounds")
    var st = edges.select(col("node"), col("parent").as("anc"),
      when(col("parent") === col("node"), lit(0)).otherwise(lit(1)).as("depth"))
    for (i <- 1 to rounds) {
      st = st.as("a").join(
          st.select(col("node").as("anc"), col("anc").as("anc2"),
            col("depth").as("d2")), Seq("anc"))
        .select(col("node"), col("anc2").as("anc"),
          (col("depth") + col("d2")).as("depth"))
      // Checkpoint EVERY round (kCore cadence, r10 advice): the self-join
      // references the prior frame twice, so an uncheckpointed plan
      // re-expands shared subtrees 2^k-fold between checkpoints. The
      // frame is three narrow columns — materialization is cheap.
      if (i < rounds) st = st.localCheckpoint()
    }
    st.select(col("node"), col("anc").as("root"), col("depth"))
  }

  // --- Incremental materialized-view maintenance (algebraic state) ---

  /** Partial-aggregate MV state for the monthly-revenue-by-status rollup:
    * group keys + the ALGEBRAIC accumulators (count, exact decimal sum).
    * AVG is deliberately absent from the state — it is not mergeable; it
    * derives at read time from sum/count (`mvRead`). This is the classic
    * incremental-view-maintenance contract: every stored measure must be
    * a commutative monoid (count/sum/min/max), so states merge by pure
    * addition in any order.
    */
  def mvState(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderstatus").as("status"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Money)).cast(Money).as("total"))

  /** Merge a delta's partial state into the stored state: union + one
    * keyed re-aggregate. The 100 TB point: a daily load touches
    * O(|state| + |delta groups|) narrow rows — never the fact table — so
    * maintaining the view costs the same whether the base holds a week
    * or a decade of history. Re-partition state by the group key at rest
    * (`IngestOps.writeRangeClustered`) and the merge shuffle moves only
    * the delta side.
    */
  def mvMerge(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("status"), col("month"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("total")).cast(Money).as("total"))

  /** Read face of the MV: derived measures (avg) computed from the
    * algebraic state, one double division per group row.
    */
  def mvRead(state: DataFrame): DataFrame =
    state.select(col("status"), col("month"), col("n_orders"), col("total"),
      round(col("total").cast(DoubleType) / col("n_orders"), 6).as("avg_price"))

  /** Distribution-shape profile per group: mean (integer micros),
    * skewness and excess kurtosis from EXACT integer power sums. The
    * cross-engine trap with higher moments is float accumulation order —
    * avg/stddev chains never hash-match — so everything up to the last
    * step is integer: per-row x,x²,x³,x⁴ (long), DECIMAL(38,0) sums
    * (order-free), then the central-moment numerators as closed-form
    * integer polynomials
    *   B = n·s2 − s1²         (n²·m2)
    *   A = n²·s3 − 3n·s1·s2 + 2s1³   (n³·m3)
    *   C = n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3s1⁴  (n⁴·m4)
    * so g1 = A/B^1.5 and g2 = C/B² − 3 each reduce to ONE double
    * division of two exactly-agreed integers (sqrt of an exact cast for
    * g1) — deterministic on any engine, any partitioning. Bounds:
    * |x| ≤ ~3·10⁴ keeps x⁴ in a long; per-group Σ terms stay well under
    * DECIMAL(38,0) (checked against DuckDB's HUGEINT on the oracle
    * side) — PROVIDED the group stays under ~10⁵ rows: the kurtosis
    * numerator C carries n⁴·m4, and with m4 ≤ x⁴ ≈ 10¹⁸ the 38-digit
    * capacity runs out at n ≈ 10⁵ (the r14 decimal-overflow audit's
    * finding; under Spark 4's default ANSI mode, which graft keeps, the
    * job would fail there with NUMERIC_VALUE_OUT_OF_RANGE — with ANSI
    * off the moment would NULL silently).
    * Corpus-scale groups must pre-aggregate (profile per stratum or
    * sample) — the n⁴ growth is intrinsic to the exact closed form.
    * Constant groups (B = 0) yield NULL moments, not NaN — NaN
    * repr is not portable across engines. One shuffle: the group-by.
    *
    * The bound is ENFORCED, not advisory (r14 verdict task 3 — the
    * decimal audit's one real finding was this operator's kurtosis
    * numerator, which past its cap fails the whole job with an opaque
    * NUMERIC_VALUE_OUT_OF_RANGE under the default ANSI mode, or NULLs
    * silently with ANSI off):
    * the aggregate also lands max|x| per group, and the moment columns
    * `raise_error` when max|x| > 3·10⁴ (the per-row x⁴ long-wrap bound)
    * or n·max|x| > 1.5·10⁹. The latter is the data-adaptive DECIMAL(38,0)
    * capacity line: every term of C is ≤ (n·max|x|)⁴ in magnitude and
    * their absolute sum ≤ 14·(n·max|x|)⁴, so n·max|x| ≤ 1.5e9 keeps the
    * worst intermediate at 7.1·10³⁷ < 10³⁸ — at max|x| = 3e4 that is the
    * documented n ≈ 10⁵ knee, and a small-valued column buys
    * proportionally larger groups. The guard lives INSIDE the skewness/
    * kurtosis expressions (not a separate audit pass) so no plan rewrite
    * or column pruning can drop it while a moment is being read.
    */
  def momentsProfile(df: DataFrame, valCol: String, keyCol: String): DataFrame = {
    val D = DecimalType(38, 0)
    val x = col(valCol).cast(LongType)
    val sums = df
      .select(col(keyCol), x.as("x"), (x * x).as("x2"),
        (x * x * x).as("x3"), (x * x * x * x).as("x4"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(D)).as("s1"), sum(col("x2").cast(D)).as("s2"),
        sum(col("x3").cast(D)).as("s3"), sum(col("x4").cast(D)).as("s4"),
        max(abs(col("x"))).as("mx"))
    // n·mx compared in DECIMAL — the product itself would wrap LONG for
    // exactly the groups the guard exists to catch
    val violated = col("mx") > lit(30000L) ||
      (col("n").cast(D) * col("mx")) > lit(1500000000L)
    val boundsError = raise_error(concat(
      lit("momentsProfile: group "), col(keyCol).cast(StringType),
      lit(" exceeds the exact-moment bounds (n="), col("n").cast(StringType),
      lit(", max|x|="), col("mx").cast(StringType),
      lit("): requires max|x| <= 3e4 and n*max|x| <= 1.5e9 or the "),
      lit("DECIMAL(38,0) moment numerators overflow — "),
      lit("pre-aggregate per stratum or profile a sample")))
    def guarded(c: Column): Column =
      when(violated, boundsError.cast(DoubleType)).otherwise(c)
    sums
      .select(col(keyCol), col("n"), col("mx"),
        expr("cast((s1 * 1000000 + n div 2) div n as bigint)").as("mean_micros"),
        expr("n * s2 - s1 * s1").as("B"),
        expr("n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1").as("A"),
        expr("n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1").as("C"))
      .select(col(keyCol), col("n"), col("mean_micros"),
        guarded(when(col("B") =!= 0,
          round(col("A").cast(DoubleType) /
            (col("B").cast(DoubleType) * sqrt(col("B").cast(DoubleType))), 6)))
          .as("skewness"),
        guarded(when(col("B") =!= 0,
          round(col("C").cast(DoubleType) /
            (col("B").cast(DoubleType) * col("B").cast(DoubleType)) - 3, 6)))
          .as("kurtosis"))
  }

  /** Governance view rewrite ([EXT] — the column-masking / data-minimizing
    * face a warehouse serves to non-privileged principals): direct
    * identifiers are PSEUDONYMIZED (sha-256 — deterministic, so joins and
    * group-bys on the masked column still work, unlike redaction),
    * quasi-identifiers are GENERALIZED (balance banded to $100 buckets —
    * k-anonymity-style coarsening), and non-identifying analytics columns
    * pass through. Pure per-row projection: zero shuffle, pushes into the
    * scan, and composes under any downstream query exactly like the raw
    * table — which is the point of masking-as-view over masking-at-copy.
    */
  def maskedCustomers(customer: DataFrame): DataFrame =
    customer.select(
      col("c_custkey"),
      sha2(col("c_name"), 256).as("name_pseudo"),
      expr("cast(round(c_acctbal * 100) as bigint) div 10000 * 100")
        .as("acctbal_band"),
      col("c_mktsegment"))

  /** k-anonymity audit of a masked view: group the quasi-identifier
    * columns into equivalence classes and profile their sizes — a class
    * smaller than k means those rows are re-identifiable by linking the
    * quasi-identifiers alone, which is the precise failure masking
    * exists to prevent (pseudonymizing the name is worthless if
    * (acctbal_band, mktsegment) is unique). Output: one row per class
    * size with the class count, rows covered, and the at-risk flag for
    * sizes < k — the histogram a privacy review reads before a masked
    * view ships. One keyed partial-agg shuffle + a size rollup; class
    * cardinality bounds the output.
    */
  def kAnonymityAudit(masked: DataFrame, quasiCols: Seq[String], k: Int = 5): DataFrame =
    masked.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("class_size"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"),
        (count(lit(1)) * col("class_size")).as("n_rows"))
      .select(col("class_size"), col("n_classes"), col("n_rows"),
        (col("class_size") < k).as("at_risk"))

  /** l-diversity audit — k-anonymity's stronger sibling (Machanavajjhala
    * et al.): a quasi-identifier class can be large (k-anonymous) yet
    * still leak if every member shares the SAME sensitive value
    * (homogeneity attack: "everyone in that class has nation 7"). Per
    * class, count DISTINCT sensitive values l, then histogram the
    * classes by l with rows covered and the l < lMin at-risk flag. One
    * (quasi, sensitive) partial aggregate + one class rollup — both
    * map-side combined; output bounded by the l range.
    */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, lMin: Int = 3): DataFrame =
    df.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("n"))
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("l_distinct"), sum(col("n")).as("class_rows"))
      .groupBy(col("l_distinct"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_rows")).as("n_rows"))
      .select(col("l_distinct"), col("n_classes"), col("n_rows"),
        (col("l_distinct") < lMin).as("at_risk"))

  /** Portable 32-bit hash shared by the KMV sketch paths: the same
    * md5-prefix both DuckDB and any other engine replay bit-exactly.
    */
  private def hash32(c: Column): Column =
    expr(s"cast(conv(substr(md5(cast(${c.toString} as string)), 1, 8), 16, 10) as bigint)")

  /** KMV estimate from a sorted-distinct sketch array: exact distinct
    * count while the sketch is partial (|sketch| < k), else
    * (k-1)·2^32 div v_k — all BIGINT arithmetic, zero float surface.
    */
  private def kmvEstimate(arr: String, k: Int): Column =
    expr(s"""cast(case when size($arr) < $k then size($arr)
            |  else cast(${k - 1} as bigint) * cast(4294967296 as bigint)
            |       div greatest(element_at($arr, $k), cast(1 as bigint)) end as bigint)""".stripMargin)

  /** Per-group distinct-cardinality audit via the mergeable KMV sketch
    * (`functions.KmvAggregator`): distinct users per event type, exact vs
    * estimated. Unlike the HLL audit (`approxDistinctWithinTol`, gated as
    * a within-tolerance boolean), the KMV estimate is DETERMINISTIC
    * integer arithmetic over the portable hash — the oracle replays the
    * estimate itself, bit-exact. Scale shape: the sketch aggregate
    * carries ≤ k longs per partial buffer with map-side combine; the
    * exact side exists only for the audit and drops at production scale.
    */
  def kmvDistinctUsers(events: DataFrame, k: Int = 128): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"), hash32(col("user_id")).as("h"))
      .groupBy(col("event_type"))
      .agg(
        graft.functions.KmvAggregator.column(k)(col("h")).as("sketch"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        kmvEstimate("sketch", k).as("kmv_estimate"))

  /** Trailing 7-day distinct users from composed KMV sketches — the
    * sketch answer to `stickiness`'s exact 7× fan-out: ONE sketch per
    * (day) is built from the corpus, and every trailing window is a
    * UNION of ≤ 7 bounded arrays (k smallest of the merged value sets),
    * so at 100 TB the corpus is scanned once and the window algebra runs
    * over #days × k longs. The fan-out join carries k-value sketches,
    * not user ids — at a billion users/day the exact formulation
    * shuffles the user universe 7×, this shuffles 7 KB rows. Estimates
    * are the same replayed BIGINT arithmetic as `kmvDistinctUsers`.
    */
  def kmvRollingDistinct(events: DataFrame, k: Int = 128, windowDays: Int = 7): DataFrame = {
    val daily = events
      .filter(col("user_id").isNotNull)
      .select(date_trunc("day", col("ts")).cast(DateType).as("day"),
        hash32(col("user_id")).as("h"))
      .groupBy(col("day"))
      .agg(graft.functions.KmvAggregator.column(k)(col("h")).as("sketch"))
    val days = daily.select(col("day").as("target"))
    daily
      .select(explode(expr(s"sequence(0, ${windowDays - 1})")).as("i"),
        col("day"), col("sketch"))
      .select(date_add(col("day"), col("i")).as("target"), col("sketch"))
      .join(days, Seq("target"), "left_semi")
      .groupBy(col("target").as("day"))
      .agg(count(lit(1)).as("n_days"), collect_list(col("sketch")).as("sketches"))
      .withColumn("merged", expr(s"slice(array_sort(array_distinct(flatten(sketches))), 1, $k)"))
      .select(col("day"), col("n_days"), kmvEstimate("merged", k).as("wau_est"))
  }

  /** Sketch-based equi-join key-overlap estimation — the CBO primitive:
    * how many distinct join keys do two tables share? Each side collapses
    * to a k-value KMV sketch; the k smallest of the merged value sets
    * estimate the UNION cardinality, and the fraction of that union
    * sketch present in BOTH sides scales it down to the intersection
    * (Beyer et al., "On synopses for distinct-value estimation under
    * multiset operations"). At stats-collection time each table lands its
    * per-column sketch once; any pairwise join's distinct-key selectivity
    * is then estimable from two k-row artifacts without re-scanning
    * either table. The exact sides (distinct semi-join / union counts)
    * are the audit and drop at production scale.
    *
    * All set algebra runs as HOFs over the two bounded arrays (1-row
    * broadcast anchors); estimates are pure BIGINT arithmetic replayed
    * exactly by the oracle.
    */
  def kmvJoinEstimate(a: DataFrame, aKey: String,
                      b: DataFrame, bKey: String, k: Int = 128): DataFrame = {
    val aKeys = a.filter(col(aKey).isNotNull).select(col(aKey).cast(LongType).as("key")).distinct()
    val bKeys = b.filter(col(bKey).isNotNull).select(col(bKey).cast(LongType).as("key")).distinct()
    val sa = aKeys.agg(graft.functions.KmvAggregator.column(k)(hash32(col("key"))).as("a_arr"))
    val sb = bKeys.agg(graft.functions.KmvAggregator.column(k)(hash32(col("key"))).as("b_arr"))
    val exactOverlap = aKeys.join(bKeys, Seq("key"), "left_semi")
      .agg(count(lit(1)).as("exact_overlap"))
    val exactUnion = aKeys.union(bKeys).distinct()
      .agg(count(lit(1)).as("exact_union"))
    sa.crossJoin(broadcast(sb))
      .crossJoin(broadcast(exactOverlap))
      .crossJoin(broadcast(exactUnion))
      .withColumn("u", expr(s"slice(array_sort(array_distinct(concat(a_arr, b_arr))), 1, $k)"))
      .withColumn("both_in_k",
        expr("cast(size(filter(u, v -> array_contains(a_arr, v) and array_contains(b_arr, v))) as bigint)"))
      .withColumn("kmv_union_est", kmvEstimate("u", k))
      .select(
        col("exact_union"), col("kmv_union_est"),
        col("exact_overlap"), col("both_in_k"),
        expr("cast(both_in_k * kmv_union_est div greatest(size(u), 1) as bigint)")
          .as("kmv_overlap_est"))
  }

  /** Event-sourced open-order balance per day — the operational backlog
    * series (orders opened minus orders fully shipped, cumulatively):
    * open events come from `o_orderdate`, close events from each
    * order's LAST lineitem ship date, and the balance is the difference
    * of the two cumulative counts over the unioned day grid. The
    * corpus-scale work is two aggregates (per-day opens; per-order max
    * shipdate then per-day closes); the cumulative runs on the day grid
    * — time-dimension scale, constant-key window idiom. Orders with no
    * lineitems never close (reported in the standing tail, the honest
    * read).
    */
  def openOrdersDaily(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val opened = orders
      .groupBy(date_trunc("day", col("o_orderdate")).cast(DateType).as("day"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = lineitem
      .groupBy(col("l_orderkey"))
      .agg(max(date_trunc("day", col("l_shipdate")).cast(DateType)).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_closed"))
    val grid = opened.join(closed, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_opened"), lit(0L)).as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
    val w = Window.partitionBy(pmod(col("n_opened"), lit(1))).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("open_balance",
        sum(col("n_opened")).over(w) - sum(col("n_closed")).over(w))
      .select(col("day"), col("n_opened"), col("n_closed"), col("open_balance"))
  }

  /** Pricing waterfall per ship month — gross → discount → tax → net,
    * the margin-bridge mart every finance review opens with. Per-row
    * discount/tax amounts quantize to cents ONCE (fixed-shape double
    * over the row's own values — the q1 discipline) and the rollup is
    * pure integer sums, so partitioning can't drift a cent. One
    * map-side-combined aggregate.
    */
  def pricingWaterfall(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(date_trunc("month", col("l_shipdate")).cast(DateType).as("month"))
      .agg(
        sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("gross_cents"),
        sum(expr("cast(round(l_extendedprice * l_discount * 100) as bigint)"))
          .as("discount_cents"),
        sum(expr("cast(round(l_extendedprice * (1.0d - l_discount) * l_tax * 100) as bigint)"))
          .as("tax_cents"))
      .withColumn("net_cents",
        col("gross_cents") - col("discount_cents") + col("tax_cents"))

  /** Laspeyres price index per ship month — the inflation read over the
    * catalog: base-month quantities price every month's unit prices,
    * L(t) = Σ p_t·q₀ / Σ p₀·q₀ over parts present in BOTH months (the
    * matched basket). Unit prices are half-up integer centi-cents
    * (extended cents ×100 / qty); the index division rides
    * DECIMAL(38,0)/HUGEINT and quantizes once to ppm. Two partial-agg
    * shuffles to the (part, month) grid + one broadcast-scale base join.
    */
  def priceIndexMonthly(lineitem: DataFrame): DataFrame = {
    val D = DecimalType(38, 0)
    val pm = lineitem
      .groupBy(col("l_partkey").as("partkey"),
        date_trunc("month", col("l_shipdate")).cast(DateType).as("month"))
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("ext_cents"),
        sum(expr("cast(l_quantity as bigint)")).as("qty"))
      .filter(col("qty") > 0)
      .withColumn("up_cc", expr("(cast(ext_cents as decimal(38,0)) * 100 + qty div 2) div qty"))
    val base = pm.crossJoin(broadcast(pm.agg(min(col("month")).as("m0"))))
      .filter(col("month") === col("m0"))
      .select(col("partkey"), col("up_cc").as("up0"), col("qty").as("q0"))
    pm.join(base, Seq("partkey"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_parts"),
        sum((col("up_cc").cast(D) * col("q0")).cast(D)).as("num"),
        sum((col("up0").cast(D) * col("q0")).cast(D)).as("den"))
      .select(col("month"), col("n_parts"),
        expr("cast((num * 1000000 + den div 2) div den as bigint)").as("index_ppm"))
  }

  /** Priority SLA attainment — per order priority, the share of orders
    * whose FIRST shipment left within `slaDays` of the order date: the
    * promise-keeping read that q4's late-order count only hints at
    * (does URGENT actually ship faster than LOW?). Orders with no
    * shipments are excluded (no lag exists — same convention as
    * [[fulfillmentLagProfile]]). Integer days and ppm; one per-order
    * reduction + a |priorities|-row rollup.
    */
  def prioritySla(orders: DataFrame, lineitem: DataFrame, slaDays: Int = 7): DataFrame =
    orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .join(lineitem.groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(min(col("l_shipdate")).as("first_ship")), Seq("o_orderkey"))
      .select(col("o_orderpriority"),
        (datediff(date_trunc("day", col("first_ship")).cast(DateType),
          date_trunc("day", col("o_orderdate")).cast(DateType)) <= slaDays)
          .as("met"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(met as bigint)")).as("n_met"))
      .withColumn("sla_met_ppm",
        expr("(cast(n_met as decimal(38,0)) * 1000000 + n_orders div 2) div n_orders"))

  /** Fulfillment-lag profile — exact p50/p90/p99 of order-date → last
    * lineitem ship-date lag in days: the operational SLO one-number
    * next to [[openOrdersDaily]]'s balance series. Orders are
    * fact-scale, so the exact type-1 quantiles run through
    * [[ShardedOrder]]'s global rank (rank thresholds, (lag, orderkey)
    * total order). Unshipped orders are excluded (no lag exists).
    */
  def fulfillmentLagProfile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lag = orders.select(col("o_orderkey"), col("o_orderdate"))
      .join(lineitem.groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(max(col("l_shipdate")).as("shipped")), Seq("o_orderkey"))
      .select(col("o_orderkey"),
        datediff(date_trunc("day", col("shipped")).cast(DateType),
          date_trunc("day", col("o_orderdate")).cast(DateType)).cast(LongType)
          .as("lag_d"))
    val ranked = ShardedOrder.withGlobalRank(lag, "rk", 32,
      col("lag_d"), col("o_orderkey"))
    val n = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .groupBy(col("n"))
      .agg(
        max(when(col("rk") === expr("(n + 1) div 2"), col("lag_d"))).as("p50_d"),
        max(when(col("rk") === expr("(9 * n + 9) div 10"), col("lag_d"))).as("p90_d"),
        max(when(col("rk") === expr("(99 * n + 99) div 100"), col("lag_d"))).as("p99_d"))
      .select(col("n").as("n_orders"), col("p50_d"), col("p90_d"), col("p99_d"))
  }

  /** Demand-volatility shortlist — the safety-stock read per part: the
    * coefficient of variation of WEEKLY shipped quantity, from exact
    * integer moments over the (part, week) grid (n, Σq, Σq² — one
    * fixed-shape double per part quantized to ppm), with a minimum
    * active-weeks guard so one-week wonders don't top the list. High CV
    * = lumpy demand = the parts whose reorder policy needs buffer; the
    * k most volatile surface (TakeOrdered, (cv desc, partkey)
    * tiebreak). Two partial-agg shuffles, both keyed by part.
    */
  def demandVolatility(lineitem: DataFrame, minWeeks: Int = 8, k: Int = 20): DataFrame =
    lineitem
      .groupBy(col("l_partkey").as("partkey"),
        date_trunc("week", col("l_shipdate")).cast(DateType).as("week"))
      .agg(sum(expr("cast(l_quantity as bigint)")).as("q"))
      .groupBy(col("partkey"))
      .agg(count(lit(1)).as("n_weeks"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"))
      .filter(col("n_weeks") >= minWeeks && col("sq") > 0)
      .select(col("partkey"), col("n_weeks"), col("sq").as("total_qty"),
        // cv = sqrt(n*Sqq - Sq^2) / Sq (population form, n cancels), ppm
        expr("""cast(round(sqrt(cast(n_weeks * sqq - sq * sq as double))
          | / cast(sq as double) * 1000000) as bigint)""".stripMargin)
          .as("cv_ppm"))
      .orderBy(col("cv_ppm").desc, col("partkey"))
      .limit(k)

  /** Supplier return-rate scorecard — per supplier: shipped lines,
    * revenue, and the share of lines flagged RETURNED (ppm): the vendor
    * quality read next to q21's "who blocked an order". One partial-agg
    * shuffle on suppkey; pure integer cents/ppm.
    */
  def supplierReturns(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("revenue_cents"),
        expr("""(cast(sum(cast(l_returnflag = 'R' as bigint)) as decimal(38,0)) * 1000000
          | + count(1) div 2) div count(1)""".stripMargin).as("return_ppm"))

  /** Revenue concentration (the 80/20 read) — the share of total spend
    * held by the top 20% of customers, the one-number pairing to
    * `gini_spend`'s full-curve summary. Customers rank by (spend desc,
    * key) through the EXACT sharded global rank ([[ShardedOrder]] — the
    * customer dimension is fact-scale at 100 TB, never one reducer);
    * k = ⌈n/5⌉ and the share is one half-up ppm division over exact
    * cents sums.
    */
  def concentration8020(orders: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
    val ranked = ShardedOrder.withGlobalRank(spend, "rk", 32,
      col("cents").desc, col("o_custkey"))
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("cents")).as("s_tot"))
    ranked.crossJoin(broadcast(tot))
      .filter(col("rk") <= expr("(n + 4) div 5"))
      .groupBy(col("n"), col("s_tot"))
      .agg(count(lit(1)).as("k_top"), sum(col("cents")).as("s_top"))
      .select(col("n").as("n_customers"), col("k_top"),
        expr("(cast(s_top as decimal(38,0)) * 1000000 + s_tot div 2) div s_tot")
          .as("top_share_ppm"))
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010) between consecutive
    * months' top-k part leaderboards — the leaderboard-churn monitor: how
    * stable is "what sells" month over month, weighted so that swaps near
    * rank 1 cost more than swaps near rank k. Truncated RBO@k with p = 0.9:
    * Σ_d (1−p)p^{d−1}·|S_d ∩ T_d|/d over d ≤ k. The depth weights are
    * PINNED integer ppb constants (the repo's Shapley/MMR discipline —
    * no pow() at eval time), agreements are exact integers from the
    * month-pair × depth grid, every per-depth term half-up integer-divides
    * by d: the whole statistic is integer arithmetic end to end. Scale
    * shape: facts collapse to (month × part) partial aggs, ranks are
    * per-month windows, and everything after runs on k-row-bounded frames.
    */
  def rboTopkStability(lineitem: DataFrame, k: Int = 10): DataFrame = {
    require(k == 10, "depth-weight table is pinned for k = 10")
    val weightsPpb = Seq(100000000L, 90000000L, 81000000L, 72900000L, 65610000L,
      59049000L, 53144100L, 47829690L, 43046721L, 38742049L)
    val monthly = lineitem
      .groupBy(date_trunc("month", col("l_shipdate")).cast(DateType).as("month"),
        col("l_partkey"))
      .agg(sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
        .as("cents"))
    val wm = Window.partitionBy(col("month")).orderBy(col("cents").desc, col("l_partkey"))
    val ranked = monthly.withColumn("rk", row_number().over(wm)).filter(col("rk") <= k)
      .select(col("month"), col("l_partkey"), col("rk"))
    val pairs = ranked.select(col("month").as("month_a")).distinct()
      .join(ranked.select(col("month").as("month_b")).distinct(),
        col("month_b") === add_months(col("month_a"), 1))
    val agree = ranked.select(col("month").as("month_a"), col("l_partkey").as("pka"),
        col("rk").as("ra"))
      .join(ranked.select(col("month").as("month_b"), col("l_partkey").as("pkb"),
        col("rk").as("rb")),
        col("month_b") === add_months(col("month_a"), 1) && col("pka") === col("pkb"))
      .select(col("month_a"), col("month_b"), greatest(col("ra"), col("rb")).as("depth_in"))
    val depths = pairs.select(col("month_a"), col("month_b"),
      explode(sequence(lit(1), lit(k))).as("d"))
    val wArr = array(weightsPpb.map(lit): _*)
    depths
      .join(agree, Seq("month_a", "month_b"), "left")
      .groupBy(col("month_a"), col("month_b"), col("d"))
      .agg(sum(when(col("depth_in") <= col("d"), 1L).otherwise(0L)).as("a_d"))
      .select(col("month_a"), col("month_b"), col("d"),
        coalesce(col("a_d"), lit(0L)).as("a_d"),
        element_at(wArr, col("d")).as("w_ppb"))
      .groupBy(col("month_a"), col("month_b"))
      .agg(max(when(col("d") === k, col("a_d"))).as("overlap_k"),
        sum(expr("(w_ppb * a_d + d div 2) div d")).as("rbo_ppb"))
  }

  /** ABC/XYZ inventory classification matrix — the planner's two-axis
    * segmentation: ABC = cumulative revenue share (A ≤ 80%, B ≤ 95%,
    * C beyond — Pareto cut on the exact sharded cumulative, never a
    * one-reducer rank), XYZ = demand regularity from the monthly-quantity
    * CV, decided by EXACT INTEGER predicates (cv ≤ 0.5 ⟺ 4·m·Σq² ≤
    * 5·(Σq)²; cv ≤ 1 ⟺ m·Σq² ≤ 2·(Σq)²) so no float threshold can
    * straddle engines. Output: the 3×3 cell census with revenue share.
    */
  def abcXyzMatrix(lineitem: DataFrame): DataFrame = {
    val D = DecimalType(38, 0)
    val base = lineitem.select(col("l_partkey"),
      date_trunc("month", col("l_shipdate")).cast(DateType).as("month"),
      expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)").as("rev"),
      expr("cast(round(l_quantity * 100) as bigint)").as("q"))
    val perMonth = base.groupBy(col("l_partkey"), col("month"))
      .agg(sum(col("rev")).as("rev_m"), sum(col("q")).as("q_m"))
    val perPart = perMonth.groupBy(col("l_partkey"))
      .agg(sum(col("rev_m")).as("rev_cents"), count(lit(1)).as("m"),
        sum(col("q_m").cast(D)).as("sq"),
        sum((col("q_m").cast(D) * col("q_m")).cast(D)).as("sqq"))
    val tot = perPart.agg(sum(col("rev_cents")).as("tot"))
    val cum = ShardedOrder.withRunningSum(perPart, col("rev_cents"), "cum_rev", 32,
      col("rev_cents").desc, col("l_partkey"))
    cum.crossJoin(broadcast(tot))
      // ppm share over DECIMAL(38,0): cum_rev*1e6 overflows LONG once the
      // corpus-wide cents sum passes ~9.2e12 (measured: sf1 ladder threw
      // ARITHMETIC_OVERFLOW at ~1.8e13 total cents). 20-digit numerators
      // stay far under the 28-digit IntegralDivide precision cliff.
      .select(col("l_partkey"), col("rev_cents"), col("m"), col("sq"), col("sqq"),
        expr("(cast(cum_rev as decimal(38,0)) * 1000000 + tot div 2) div tot")
          .as("cum_ppm"), col("tot"))
      .select(col("rev_cents"), col("tot"),
        when(col("cum_ppm") <= 800000L, "A")
          .when(col("cum_ppm") <= 950000L, "B").otherwise("C").as("abc_class"),
        when(col("sq") === 0, "Z")
          .when(col("sqq") * col("m") * 4 <= col("sq") * col("sq") * 5, "X")
          .when(col("sqq") * col("m") <= col("sq") * col("sq") * 2, "Y")
          .otherwise("Z").as("xyz_class"))
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev_cents")).as("cell_cents"),
        max(col("tot")).as("tot"))
      .select(col("abc_class"), col("xyz_class"), col("n_parts"),
        expr("(cast(cell_cents as decimal(38,0)) * 1000000 + tot div 2) div tot")
          .as("rev_share_ppm"))
  }

  /** Simpson's-paradox screen over the discount→quantity relationship —
    * the aggregation-bias tripwire: does the POOLED OLS slope point the
    * opposite way from the WITHIN-BRAND slopes? Per group, only the
    * slope's SIGN is read, and the sign comes from the exact integer
    * normal-equation numerator n·Σxy − Σx·Σy (DECIMAL(38,0) — no float
    * can flip it); the pooled slope value is one double division at the
    * end. Groups with degenerate x variance are excluded from the count.
    */
  def simpsonParadoxScreen(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val D = DecimalType(38, 0)
    val base = lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("g"),
        expr("cast(round(l_discount * 1000000) as bigint)").as("x"),
        expr("cast(round(l_quantity * 100) as bigint)").as("y"))
    val perG = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast(D)).as("sx"),
        sum(col("y").cast(D)).as("sy"),
        sum((col("x").cast(D) * col("y")).cast(D)).as("sxy"),
        sum((col("x").cast(D) * col("x")).cast(D)).as("sxx"))
      .select(col("n"), col("sx"), col("sy"),
        (col("sxy") * col("n") - col("sx") * col("sy")).cast(D).as("num"),
        (col("sxx") * col("n") - col("sx") * col("sx")).cast(D).as("den"))
    val pooled = base
      .agg(count(lit(1)).as("n"), sum(col("x").cast(D)).as("sx"),
        sum(col("y").cast(D)).as("sy"),
        sum((col("x").cast(D) * col("y")).cast(D)).as("sxy"),
        sum((col("x").cast(D) * col("x")).cast(D)).as("sxx"))
      .select(
        (col("sxy") * col("n") - col("sx") * col("sy")).cast(D).as("pnum"),
        (col("sxx") * col("n") - col("sx") * col("sx")).cast(D).as("pden"))
    perG.crossJoin(broadcast(pooled))
      .filter(col("den") > 0)
      .agg(count(lit(1)).as("n_groups"),
        sum(when((col("num") > 0 && col("pnum") < 0) ||
          (col("num") < 0 && col("pnum") > 0), 1L).otherwise(0L)).as("n_reversed"),
        max(when(col("pden") > 0,
          // cents-per-discount-unit in micros: x is discount micros, so
          // the per-micro slope scales by 1e6 twice
          expr("""cast(round(cast(pnum as double) / cast(pden as double)
            | * 1000000000000.0d) as bigint)""".stripMargin))).as("pooled_slope_micros"))
  }

  /** Duplicate-payment screen — the classic AP-audit read: two orders by
    * the SAME customer for the SAME amount within a gap window are
    * double-billing candidates. Pure equi-join on (custkey, exact cents)
    * with the date band as a residual filter — the join never degenerates
    * to a cross product, and amount equality does the heavy pruning
    * (same shape as the fraud screens' blocked self-joins). Pair
    * canonicalization a < b on the order key.
    */
  def duplicatePaymentScreen(orders: DataFrame, maxGapDays: Int = 7): DataFrame = {
    val base = orders.select(col("o_custkey"),
      col("o_orderkey"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
      col("o_orderdate").cast(DateType).as("d"))
    base.select(col("o_custkey"), col("o_orderkey").as("key_a"), col("cents"),
        col("d").as("da"))
      .join(base.select(col("o_custkey"), col("o_orderkey").as("key_b"), col("cents"),
        col("d").as("db")), Seq("o_custkey", "cents"))
      .filter(col("key_a") < col("key_b") &&
        abs(datediff(col("db"), col("da"))) <= maxGapDays)
      .select(col("o_custkey"), col("key_a"), col("key_b"), col("cents"),
        abs(datediff(col("db"), col("da"))).cast(LongType).as("gap_days"))
  }

  /** Croston's method (1972) — the intermittent-demand baseline the
    * [[abcXyzMatrix]]'s X/Y/Z regularity classes call for: for a part
    * that sells in bursts, a plain moving average smears zeros into the
    * level; Croston smooths demand SIZE and inter-demand INTERVAL
    * separately over demand months only, and forecasts rate = z/p.
    *
    * The recency kernel is the repo's truncated-EWMA discipline
    * ([[graft.operators.EventOps.ewmaRevenue]]): pinned integer ppm
    * weights 0.8^i over the last `kernel` demand months, renormalized by
    * the weight actually present — no recursive accumulator, so the
    * statistic is one bounded window + one aggregate per part. Interval
    * smoothing runs over the rows that HAVE a defined interval (the
    * second demand month onward), renormalized separately. Parts with a
    * single demand month read NULL interval/rate.
    *
    * Scale shape: facts collapse to the (part × month) grid in one
    * partial-agg pass; every window is PARTITIONED BY part (bounded by
    * the month dimension per part). z/p in milli-units, rate in ppm —
    * each ONE fixed-shape double over exact integers.
    */
  def crostonForecast(lineitem: DataFrame, kernel: Int = 8): DataFrame = {
    require(kernel >= 1 && kernel <= 20, s"kernel out of range: $kernel")
    val sp = lineitem.sparkSession
    import sp.implicits._
    val monthly = lineitem
      .groupBy(col("l_partkey").as("part"),
        date_trunc("month", col("l_shipdate")).cast(DateType).as("month"))
      .agg(sum(expr("cast(round(l_quantity) as bigint)")).as("q"))
      .select(col("part"), col("q"),
        (year(col("month")).cast(LongType) * 12 + month(col("month"))).as("mi"))
    val wAsc = Window.partitionBy(col("part")).orderBy(col("mi"))
    val wDesc = Window.partitionBy(col("part")).orderBy(col("mi").desc)
    val recent = monthly
      .withColumn("gap", col("mi") - lag(col("mi"), 1).over(wAsc))
      .withColumn("nm", count(lit(1)).over(
        Window.partitionBy(col("part"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("r", row_number().over(wDesc))
      .filter(col("r") <= kernel)
    // pinned 0.8^(r-1) ppm recency weights — shared literals, no pow()
    val weights = (1 to kernel)
      .map(r => (r.toLong, math.round(math.pow(0.8, r - 1) * 1e6)))
      .toDF("r", "w")
    recent.join(broadcast(weights), Seq("r"))
      .groupBy(col("part"))
      .agg(max(col("nm")).as("n_demand_months"),
        sum(col("w") * col("q")).as("zn"), sum(col("w")).as("zd"),
        sum(when(col("gap").isNotNull, col("w") * col("gap"))).as("pn"),
        sum(when(col("gap").isNotNull, col("w"))).as("pd"))
      .select(col("part"), col("n_demand_months"),
        expr("cast(round(cast(zn as double) / cast(zd as double) * 1000) as bigint)")
          .as("z_milli"),
        when(col("pd").isNull || col("pd") === 0L, lit(null).cast(LongType))
          .otherwise(expr(
            "cast(round(cast(pn as double) / cast(pd as double) * 1000) as bigint)"))
          .as("p_milli"),
        when(col("pd").isNull || col("pd") === 0L || col("pn") === 0L,
          lit(null).cast(LongType))
          .otherwise(expr("""cast(round(
            |  (cast(zn as double) * cast(pd as double))
            |  / (cast(zd as double) * cast(pn as double)) * 1000000) as bigint)""".stripMargin))
          .as("rate_ppm"))
  }

  /** Safety-stock sizing per part (the classic z·σ_demand rule at a
    * pinned 95% service level, z = 1.645) — the inventory decision
    * [[abcXyzMatrix]]'s regularity classes and [[crostonForecast]]'s
    * rate feed into: how much buffer does each part need against its
    * OWN demand volatility? Monthly demand collapses to the
    * (part × month) grid in one pass; per-part moments ride
    * DECIMAL(38,0); σ is the one correctly-rounded sqrt per part,
    * quantized to milli-units, and the safety stock / reorder point are
    * integer arithmetic on the quantized pieces (reorder = mean + ss).
    * Single-month parts read NULL σ (no variance evidence) rather
    * than a fake zero.
    */
  def safetyStock(lineitem: DataFrame, zMicros: Long = 1645000L): DataFrame = {
    val D = DecimalType(38, 0)
    val monthly = lineitem
      .groupBy(col("l_partkey").as("part"),
        date_trunc("month", col("l_shipdate")).cast(DateType).as("month"))
      .agg(sum(expr("cast(round(l_quantity) as bigint)")).as("q"))
    monthly.groupBy(col("part"))
      .agg(count(lit(1)).as("m"), sum(col("q").cast(D)).as("s"),
        sum((col("q").cast(D) * col("q")).cast(D)).as("qq"))
      .select(col("part"), col("m"),
        expr("cast(round(cast(s as double) / cast(m as double) * 1000) as bigint)")
          .as("mean_q_milli"),
        when(col("m") <= 1, lit(null).cast(LongType))
          .otherwise(expr("""cast(round(sqrt(
            |  (cast(qq as double) * cast(m as double) - cast(s as double) * cast(s as double))
            |  / (cast(m as double) * cast(m - 1 as double))) * 1000) as bigint)""".stripMargin))
          .as("sd_q_milli"))
      .select(col("part"), col("m"), col("mean_q_milli"), col("sd_q_milli"),
        when(col("sd_q_milli").isNull, lit(null).cast(LongType))
          .otherwise(expr(s"(sd_q_milli * $zMicros) div 1000000")).as("safety_stock_milli"))
      .withColumn("reorder_point_milli",
        when(col("safety_stock_milli").isNull, lit(null).cast(LongType))
          .otherwise(col("mean_q_milli") + col("safety_stock_milli")))
  }

  /** Perfect-order rate per month — the composite fulfillment KPI the
    * supply-chain literature tracks above any single metric: an order is
    * PERFECT iff every line shipped within `slaDays` of the order date
    * AND no line came back ('R' return flag). One orders⋈lineitem join,
    * per-order flags by aggregate (max ship lag, any return), then a
    * month rollup with the half-up ppm rate and the two failure-mode
    * shares — so a dropping rate immediately says WHICH promise broke.
    * Pure integers end to end (day lags, counts, ppm).
    */
  def perfectOrderRate(orders: DataFrame, lineitem: DataFrame,
                       slaDays: Int = 30): DataFrame = {
    val perOrder = orders
      .select(col("o_orderkey"), col("o_orderdate"))
      .join(lineitem.select(col("l_orderkey").as("o_orderkey"),
        col("l_shipdate"), col("l_returnflag")), Seq("o_orderkey"))
      .groupBy(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
      .agg(max(datediff(col("l_shipdate").cast(DateType),
          col("o_orderdate").cast(DateType))).as("max_lag"),
        max(expr("cast(l_returnflag = 'R' as int)")).as("returned"))
    perOrder.groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr(s"cast(max_lag <= $slaDays and returned = 0 as bigint)")).as("n_perfect"),
        sum(expr(s"cast(max_lag > $slaDays as bigint)")).as("n_late"),
        sum(expr("cast(returned = 1 as bigint)")).as("n_returned"))
      .select(col("month"), col("n_orders"), col("n_perfect"),
        expr("(cast(n_perfect as decimal(38,0)) * 1000000 + n_orders div 2) div n_orders").as("perfect_ppm"),
        expr("(cast(n_late as decimal(38,0)) * 1000000 + n_orders div 2) div n_orders").as("late_ppm"),
        expr("(cast(n_returned as decimal(38,0)) * 1000000 + n_orders div 2) div n_orders").as("returned_ppm"))
  }

  /** Referential-integrity orphan audit across a warehouse's FK edges —
    * the load-time contract check `dq_expectations` (column-level) does
    * not cover: for each declared child→parent relationship, how many
    * child rows reference a parent key that does not exist? Each edge is
    * one LEFT JOIN against the DISTINCT parent keys followed by a
    * count/count-null aggregate — at fact scale that is a shuffle (or
    * broadcast, when the parent is a dimension) equi-join per edge, and
    * the per-edge results union into one audit frame on the driver PLAN
    * (no data collected). Orphan share in half-up integer ppm; a clean
    * warehouse reads all zeros, which is the point of gating it.
    */
  def fkOrphanAudit(edges: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    require(edges.nonEmpty, "fkOrphanAudit needs at least one edge")
    edges.map { case (label, childKeys, parentKeys) =>
      val c = childKeys.toDF("k")
      val p = parentKeys.toDF("k").distinct()
        .withColumn("present", lit(1L))
      c.join(p, Seq("k"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("present").isNull, 1L).otherwise(0L)).as("n_orphan"))
        .select(lit(label).as("relationship"), col("n_child"), col("n_orphan"),
          expr("(cast(n_orphan as decimal(38,0)) * 1000000 + n_child div 2) div n_child").as("orphan_ppm"))
    }.reduce(_ unionByName _)
  }
}
