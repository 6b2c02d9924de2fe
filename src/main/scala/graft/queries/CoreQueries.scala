package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TrinoFunctions
import graft.functions.TrinoFunctions._

/** The reference script's pure-query surface (SURVEY.md §2.2-2.5, §2.10)
  * re-expressed as declarative DataFrame plans over the test tables.
  *
  * Design notes (100 TB stance):
  *  - Every query is a lazy plan; Catalyst pushes filters/projections into
  *    the parquet scans (verified via `.explain` in CoreQueriesSpec).
  *  - Dimension tables (region/nation) are broadcast — no shuffle of the
  *    fact side for those joins. Fact-fact joins (customer⋈orders) shuffle
  *    on the join key, the right partitioning for any cluster size; AQE
  *    re-plans to broadcast when the build side turns out small.
  *  - Aggregates rely on Catalyst's partial/final HashAggregate (map-side
  *    combine), so groupBy shuffles carry pre-aggregated rows only.
  *  - Double aggregates are rounded to a coarse-enough grid (≥2 decimals
  *    against ≤1e-4 accumulated fp error at sf0.1 group sizes) so
  *    summation order — which differs between engines and between cluster
  *    sizes — cannot flip the compared value.
  */
object CoreQueries {
  import OracleCtes._

  import Tables._

  /** Flagship: the federation aggregate, `iceberg_trino_sqldemo.sql:286-295`.
    * customer ⋈ nation (broadcast dim) ⋈ orders (shuffle on custkey) →
    * groupBy nation → round(sum(totalprice)) → order.
    */
  def federationAgg(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(broadcast(nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("total_price"), col("nation"))

  /** The CTAS source query, `sql:29-40`: 3-way cross-catalog join,
    * filter on region, per-row round, ordered + limited deterministically.
    */
  def euroCustomers(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        trinoRound(col("c_acctbal")).as("account_balance"),
        col("c_mktsegment").as("mktsegment"),
        col("n_name").as("nation"),
        col("r_name").as("region"))
      .orderBy(col("custkey"))
      .limit(500)

  /** Half-open date-range scan, `sql:15` — the predicate that hidden
    * `year()` partitioning prunes in the lake layer (here: plain parquet
    * scan with the filter pushed to the reader).
    */
  def ordersDateRange(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-06-01")) &&
              col("o_orderdate") <  to_timestamp(lit("1996-06-01")))
      .select(
        col("o_orderkey").as("orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        col("o_totalprice").as("totalprice"))
      .orderBy(col("orderkey"))

  /** IN-list point lookup, `sql:137`. */
  def customerInList(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .filter(col("c_custkey").isin(11L, 47L, 103L))
      .select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        col("c_mktsegment").as("mktsegment"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("custkey"))

  /** Scalar-function battery: concat_ws (`sql:86`), MySQL-style
    * date_format (`sql:87`), year (`sql:13`), interval arithmetic + cast
    * (`sql:268`) — all codegen'd built-ins, no UDFs.
    */
  def scalarFns(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderkey") < 1000)
      .select(
        col("o_orderkey").as("orderkey"),
        concat_ws("#", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        trinoDateFormat(col("o_orderdate"), "%Y/%m/%d-%T").as("odate_fmt"),
        year(col("o_orderdate")).as("oyear"),
        to_date(col("o_orderdate") - expr("INTERVAL 2 DAY")).as("odate_minus2"))
      .orderBy(col("orderkey"))

  /** TPC-H Q1-shaped pricing summary: the widest aggregate surface
    * (sum/avg/count over computed expressions), partial-agg friendly.
    */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag").as("returnflag"),
               col("l_linestatus").as("linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** Left-outer join (the `$history ⟕ $refs` shape of `sql:89-93`,
    * exercised here on data tables so DuckDB can oracle it): every
    * customer with their order count, including order-less customers.
    */
  def customerOrderCounts(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey").as("custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
      .orderBy(col("custkey"))

  /** Top-N per group via ranking window (north-star breadth; also the
    * internal shape of filtered compaction candidate selection).
    */
  def topOrdersPerStatus(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderstatus").as("orderstatus"),
              col("rn"),
              col("o_orderkey").as("orderkey"),
              round(col("o_totalprice"), 2).as("totalprice"))
      .orderBy(col("orderstatus"), col("rn"))
  }

  /** Batch event-time windowed aggregation over the events table:
    * hourly tumbling buckets per event_type. Exercises the
    * TIMESTAMP(9) gap handling (`sql:185-187`) via the type-adaptive
    * `eventTime` (fixtures have shipped both ns epoch-longs and µs
    * timestamps; conversion is explicit at the edge either way).
    */
  def eventsHourly(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    ev.withColumn("ts_us", TrinoFunctions.eventTime(ev))
      .groupBy(date_trunc("hour", col("ts_us")).as("hour_bucket"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  /** VARIANT/JSON surface (Iceberg v3 variant, `sql:175-177`): parse the
    * JSON props column with Spark 4's native variant type and extract a
    * typed field — `parse_json` + `variant_get`, both codegen-friendly.
    */
  def eventsJsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("k", try_variant_get(parse_json(col("props")), "$.k", "int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"),
           max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** GROUP BY ROLLUP — hierarchical subtotals (per (flag, status), per
    * flag, grand total) in ONE aggregation: Catalyst expands the
    * grouping sets and the partial/final HashAggregate shape still
    * applies, so all three levels cost one shuffle, not three scans.
    */
  def rollupRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag").as("returnflag"),
        col("l_linestatus").as("linestatus"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      .rollup(col("returnflag"), col("linestatus"))
      .agg(round(sum(col("rev")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("returnflag").asc_nulls_first,
        col("linestatus").asc_nulls_first)

  /** Running total per customer — the cumulative window frame
    * (UNBOUNDED PRECEDING → CURRENT ROW). One shuffle on the partition
    * key; within a partition the frame is computed in one sorted pass.
    */
  def runningTotal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("custkey"))
      .orderBy(col("orderdate"), col("orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .filter(col("o_custkey") <= 200)
      .select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("orderkey"),
        col("o_orderdate").as("orderdate"),
        col("o_totalprice").as("totalprice"))
      .withColumn("running_spend", round(sum(col("totalprice")).over(w), 2))
      .select(col("custkey"), col("orderkey"),
        round(col("totalprice"), 2).as("totalprice"), col("running_spend"))
      .orderBy(col("custkey"), col("orderkey"))
  }

  /** TPC-H Q3 (shipping priority), adapted to this schema's columns:
    * revenue of BUILDING-segment orders placed before the cutoff with
    * lines shipped after it. Three-way join where only lineitem is
    * fact-sized — customer/orders dims broadcast; the revenue agg
    * map-side-combines on l_orderkey.
    */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = "1997-06-01"
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = orders(s, d).filter(col("o_orderdate") < lit(cutoff).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = lineitem(s, d).filter(col("l_shipdate") > lit(cutoff).cast("date"))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev"))
    // ORDER on the UNROUNDED sum: with a LIMIT, ordering on the
    // 2-decimal rounding would let a cross-engine 1-ulp difference at
    // a .005 boundary change top-10 MEMBERSHIP, not just row order
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(col("rev")).as("_rev"))
      .orderBy(col("_rev").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"), round(col("_rev"), 2).as("revenue"))
  }

  /** TPC-H Q5 (local supplier volume): revenue by nation for EUROPE
    * customers buying from same-nation suppliers in one order year.
    * The join tree keeps lineitem as the only data-sized input; all
    * five dimension sides broadcast.
    */
  def localSupplierVolume(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** TPC-H Q13 shape (customer distribution): histogram of customers
    * by order count, zero-order customers included via the left join.
    * Both aggregations map-side-combine; the histogram is tiny.
    */
  def customerDistribution(s: SparkSession, d: String): DataFrame = {
    val counts = orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    customer(s, d)
      .join(counts, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders").desc)
  }

  /** TPC-H Q18 shape (large-volume customers): orders whose total
    * line quantity tops the threshold, with their customers. The
    * HAVING aggregate map-side-combines; the LIMIT orders on stored
    * columns (bit-identical across engines), and quantity sums are
    * integer-valued doubles, so the > threshold cut has no FP boundary.
    */
  def largeVolumeCustomers(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
    big.join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"),
        round(col("total_qty"), 2).as("total_qty"),
        col("o_totalprice").as("_ord"))
      .orderBy(col("_ord").desc, col("o_orderkey"))
      .limit(20)
      .drop("_ord")
  }

  /** TPC-H Q10 shape (returned-item revenue): which customers returned
    * the most value in a half-year window. Only lineitem and orders are
    * fact-sized; both are filtered AT THE SCAN (returnflag, date range)
    * before the key shuffle. Customer scales with SF so it is NOT
    * broadcast-hinted — the join keys co-shuffle and AQE picks the
    * strategy per actual size; nation is constant-sized and broadcast.
    * The LIMIT orders on the unrounded sum (see [[shippingPriority]]).
    */
  def returnedItemRevenue(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val c = customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val n = nation(s, d).select(col("n_nationkey"), col("n_name"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("rev")).as("_rev"))
      .orderBy(col("_rev").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("_rev"), 2).as("revenue"))
  }

  /** TPC-H Q14 shape (promotion effect): promo share of one month's
    * revenue. The month filter prunes lineitem at the scan; part joins
    * on its key un-hinted (it scales with SF — a forced broadcast would
    * be the 100 TB mistake). Single-row output: both sums ride one
    * map-side-combined aggregate.
    */
  def promoRevenue(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val p = part(s, d).select(col("p_partkey"), col("p_type"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0.0)) /
        sum(col("rev")), 4).as("promo_pct"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q19 shape (discounted revenue under a disjunction of
    * brand/size/quantity bands). The OR spans both tables, so Catalyst
    * cannot push any of it into either scan on its own — the
    * SINGLE-TABLE implications are factored out by hand (brand IN the
    * three bands onto part, quantity within the outer hull onto
    * lineitem), which is what turns this from a join-then-filter of two
    * full scans into two pruned scans at 100 TB. The full disjunction
    * then re-applies post-join.
    */
  def disjunctiveSale(s: SparkSession, d: String): DataFrame = {
    // all three brands exist in the fixtures (Brand#1..Brand#25), so
    // every leg of the disjunction is live and oracle-covered
    val bands = Seq(
      ("Brand#12", (1, 15), (1, 11)),
      ("Brand#23", (10, 30), (10, 20)),
      ("Brand#24", (20, 50), (20, 30)))
    val pred = bands.map { case (b, (s0, s1), (q0, q1)) =>
      col("p_brand") === b && col("p_size").between(s0, s1) &&
        col("l_quantity").between(q0, q1)
    }.reduce(_ || _)
    val l = lineitem(s, d)
      .filter(col("l_quantity").between(
        bands.map(_._3._1).min, bands.map(_._3._2).max))
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val p = part(s, d)
      .filter(col("p_brand").isin(bands.map(_._1): _*))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg(round(sum(col("rev")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q22 shape (idle wealthy customers): above-average balances
    * with no orders before the cutoff, by nation. The global average is
    * a 1-row aggregate broadcast into a cross join (the scalar-subquery
    * plan); the "no early orders" test is a LEFT ANTI join against the
    * DISTINCT early-order custkeys — distinct first so the anti join's
    * build side shrinks from |orders| to ≤ |customers| and the
    * pre-aggregation map-side-combines.
    */
  def idleWealthyCustomers(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    // threshold on the ROUNDED average: engines sum in different orders,
    // so the raw avg can differ in the last ulp — and membership (`>`)
    // is compared exactly, not with float tolerance. Balances carry 2
    // decimals, so a cent-rounded threshold admits identical sets.
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(round(avg(col("c_acctbal")), 2).as("_ab"))
    val early = orders(s, d)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val n = nation(s, d).select(col("n_nationkey"), col("n_name"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("_ab"))
      .join(early, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy("n_name")
  }

  /** TPC-H Q6 shape (forecast revenue change): the one-table filtered
    * aggregate — the pure pushdown showcase. All three predicates reach
    * the parquet scan (date range, discount band, quantity cap); what
    * survives map-side-combines into a single row. At 100 TB this query
    * IS its scan: no shuffle beyond one 1-row exchange.
    */
  def forecastRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q15 shape (top supplier): quarterly per-supplier revenue,
    * then the suppliers achieving the maximum. The revenue relation is
    * materialized ONCE (localCheckpoint — |suppliers| rows, far below
    * the lineitem scan it summarizes) because both the max scalar and
    * the equality filter read it; without that the fact scan would run
    * twice. The max rides a 1-row broadcast (scalar-subquery shape, as
    * in [[idleWealthyCustomers]]) — never a global window, which would
    * serialize every supplier onto one task.
    */
  def topSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total"))
      .localCheckpoint()
    val best = rev.agg(max(col("total")).as("_mx"))
    rev.crossJoin(broadcast(best))
      .filter(col("total") === col("_mx"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total"), 2).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Event-time rolling window: per user, the 1-hour trailing sum and
    * count of event values — RANGE frame over epoch seconds, so the
    * frame is defined by TIME, not row position (gap-robust, unlike a
    * ROWS frame). One shuffle on the user key; epoch-second ordering is
    * floor-truncated identically in the oracle (`date_trunc('second')`)
    * so frame boundaries agree engine-to-engine.
    */
  def rollingWindow(s: SparkSession, d: String): DataFrame = {
    val raw = events(s, d)
    val ev = raw.select(col("event_id"), col("user_id"),
      TrinoFunctions.eventTime(raw).as("ets"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ets").cast("long"))
      .rangeBetween(-3600, Window.currentRow)
    ev.select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("rolling_value_1h"),
        count(lit(1)).over(w).as("rolling_events_1h"))
      .orderBy("event_id")
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * event; active-user counts per (cohort week, week offset) — the
    * retention triangle. Two shuffles (first-event agg, cohort agg);
    * the distinct-user count map-side-combines on (cohort, offset,
    * user) before the final exchange.
    */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val raw = events(s, d)
    val ev = raw.select(col("user_id"),
      date_trunc("week", TrinoFunctions.eventTime(raw)).cast("date").as("wk"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    ev.join(first, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Exact percentiles per group (`percentile`, not the approx sketch):
    * linear-interpolated quantiles of event values per type. The exact
    * form is the oracle-able baseline; at 100 TB the same query swaps in
    * `percentile_approx` (bounded-memory sketch) — asserted within
    * tolerance of this exact plan in CoreQueriesSpec.
    */
  def valuePercentiles(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(percentile(col("value"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("ps"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        round(element_at(col("ps"), 1), 6).as("p25"),
        round(element_at(col("ps"), 2), 6).as("p50"),
        round(element_at(col("ps"), 3), 6).as("p75"),
        round(element_at(col("ps"), 4), 6).as("p95"),
        col("n"))
      .orderBy(col("event_type"))

  /** Distinct-user reach per event type — exact `count(DISTINCT)`
    * (two-phase: dedup shuffle on (type, user), then count). The
    * oracle-able baseline; at 100 TB the same query swaps in
    * `approx_count_distinct` (HLL++ sketch, one mergeable pass, no
    * second shuffle) — asserted within its rsd in CoreQueriesSpec.
    */
  def distinctUsers(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** The 100 TB reach query as it would actually ship: HLL++
    * (`approx_count_distinct`, rsd 2%) beside the exact count, with the
    * sketch's error GATED in-plan. The exact columns make the row
    * oracle-able; `hll_ok` certifies |hll − exact| ≤ 6% (3σ at rsd
    * 0.02) per group — the property a sketch swap-in must hold, now
    * driver-visible instead of spec-only. HLL registers merge by max,
    * so the estimate is deterministic under any partitioning; at scale
    * the exact branch is dropped and the one-pass mergeable sketch is
    * the whole query (no dedup shuffle).
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("_hll"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        (abs(col("_hll") - col("n_users")).cast("double") <=
          col("n_users").cast("double") * lit(0.06)).as("hll_ok"))
      .orderBy(col("event_type"))

  /** Same stance for quantiles: the GK sketch (`percentile_approx`,
    * accuracy 10⁴) beside the exact interpolated percentile. The
    * sketch's guarantee is on RANK (error ≤ ε·n), not value — a p99 on
    * a sparse tail can be one rank and 10% of value away — so the
    * certificate is rank-based: a second bounded pass counts each
    * approx quantile's occupancy interval [lo, hi) in its group, and
    * `gk_ok` asserts the target rank ⌈p·n⌉−1 lies within ε·n+1 of it.
    * Exact columns oracle the row; the certificate must come out true
    * at every SF. At 100 TB the exact sort-based percentile is the
    * branch that gets dropped, and the certificate pass becomes a
    * sampled audit.
    */
  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    val ps = Seq(0.5, 0.9, 0.99)
    val psArr = array(ps.map(lit): _*)
    val ev = events(s, d).select(col("event_type"), col("value"))
    val agg = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), psArr).as("_ex"),
        percentile_approx(col("value"), psArr, lit(10000)).as("_ap"),
        count(lit(1)).as("n"))
    val j = ev.join(broadcast(agg.select(col("event_type"), col("_ap"))),
      Seq("event_type"))
    val rankAggs = ps.indices.flatMap { i =>
      Seq(sum(when(col("value") < element_at(col("_ap"), i + 1), 1L)
            .otherwise(0L)).as(s"_lo$i"),
        sum(when(col("value") <= element_at(col("_ap"), i + 1), 1L)
            .otherwise(0L)).as(s"_hi$i"))
    }
    val ranks = j.groupBy(col("event_type"))
      .agg(rankAggs.head, rankAggs.tail: _*)
    val okCols = ps.indices.map { i =>
      val target = (ceil(lit(ps(i)) * col("n")) - 1).cast("double")
      val slack = col("n").cast("double") * lit(1.0 / 10000) + lit(1.0)
      (col(s"_lo$i").cast("double") - slack <= target) &&
        (target <= col(s"_hi$i").cast("double") - 1 + slack)
    }
    agg.join(ranks, Seq("event_type"))
      .select(col("event_type"),
        round(element_at(col("_ex"), 1), 6).as("p50"),
        round(element_at(col("_ex"), 2), 6).as("p90"),
        round(element_at(col("_ex"), 3), 6).as("p99"),
        col("n"),
        okCols.reduce(_ && _).as("gk_ok"))
      .orderBy(col("event_type"))
  }

  /** The ranking-window family in one query — rank, dense_rank,
    * percent_rank, cume_dist, ntile(4), lag — per-priority over order
    * value. One window spec ⇒ ONE sort per partition serves all six
    * functions (Catalyst collapses same-spec windows); priority keys
    * partition the sort across the cluster. Kept to the top 100 rows
    * per priority so the compared surface is stable and small.
    */
  def rankFunctions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("priority"))
      .orderBy(col("o_totalprice").desc, col("orderkey"))
    orders(s, d)
      .select(col("o_orderkey").as("orderkey"),
        col("o_orderpriority").as("priority"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("prnk", round(percent_rank().over(w), 6))
      .withColumn("cdist", round(cume_dist().over(w), 6))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("prev_price",
        round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(-1.0)), 2))
      .filter(col("rnk") <= 100)
      .select(col("orderkey"), col("priority"), col("rnk"), col("drnk"),
        col("prnk"), col("cdist"), col("quartile"), col("prev_price"))
      .orderBy(col("priority"), col("rnk"), col("orderkey"))
  }

  /** PIVOT: order totals as a priority × status matrix. Spark's
    * `.pivot` with the value list PINNED — an unpinned pivot scans once
    * just to discover columns, and a drifting domain would silently
    * change the schema; with pinned values it compiles to ONE
    * conditional hash-aggregate (exactly the portable SQL the oracle
    * runs).
    */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o",
        "P" -> "total_p"))
      .orderBy("priority")

  /** UNPIVOT (melt) of the pivoted matrix back to long form via
    * `stack` — one Expand node, no shuffle beyond the pivot's own
    * aggregate; the pair proves the two layouts round-trip.
    */
  def unpivotStatus(s: SparkSession, d: String): DataFrame =
    pivotStatus(s, d)
      .select(col("priority"), expr(
        """stack(3, 'F', total_f, 'O', total_o, 'P', total_p)
           AS (orderstatus, total)"""))
      .filter(col("total").isNotNull)
      .orderBy("priority", "orderstatus")

  /** GROUPING SETS with disjoint sets — unlike ROLLUP's nested prefixes,
    * each input row lands in exactly the requested groupings; still ONE
    * Expand + one hash-agg shuffle.
    */
  def groupingSets(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderstatus").as("orderstatus"),
        col("o_orderpriority").as("orderpriority"),
        col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("orderstatus")), Seq(col("orderpriority"))),
        col("orderstatus"), col("orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"),
        count(lit(1)).as("n"))
      .orderBy(col("orderstatus").asc_nulls_last,
        col("orderpriority").asc_nulls_last)

  /** CUBE over (status, priority) with `grouping_id` disambiguating
    * the four aggregation levels — the full lattice in ONE Expand +
    * one hash-agg shuffle (4× row expansion map-side, partials still
    * combine before the exchange). grouping_id matters because a NULL
    * group key is ambiguous with a NULL-valued key; the bitmask is the
    * portable disambiguator both engines agree on.
    */
  def cubeVolume(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_orderstatus").as("orderstatus"),
        col("o_orderpriority").as("orderpriority"),
        col("o_totalprice"))
      .cube(col("orderstatus"), col("orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"),
        count(lit(1)).as("n"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("orderstatus").asc_nulls_last,
        col("orderpriority").asc_nulls_last)

  /** Semi-join at fact scale — `EXISTS`: customers having at least one
    * URGENT order. left_semi keeps the probe side unduplicated (no
    * post-join distinct) and ships only the join key from the build
    * side.
    */
  def urgentCustomers(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("c_mktsegment").as("mktsegment"))
      .orderBy(col("custkey"))

  /** Conditional aggregation — `count_if` / FILTER-style aggregates in
    * one pass over the fact table (no per-condition re-scan; all
    * conditions fold into a single partial/final hash-agg).
    */
  def conditionalAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy((col("user_id") % 10).as("user_decile"))
      .agg(count(lit(1)).as("n"),
        count_if(col("event_type") === "purchase").as("n_purchases"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 4).as("purchase_value"),
        round(avg(when(col("value") > 50, col("value"))), 4)
          .as("avg_high_value"))
      .orderBy(col("user_decile"))

  /** Gap-based sessionization via Spark's NATIVE `session_window` —
    * batch form compiles to one shuffle on user_id + a sort-merge of
    * overlapping windows, the built-in counterpart of the stateful
    * `EventStreams.sessionize`. Semantics differ from the stateful
    * operator at the exact boundary: a window is [first, last + gap)
    * and merging requires OVERLAP, so a gap of exactly `gap` starts a
    * new session — the oracle mirrors that with `>=`.
    */
  def sessionWindows(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    ev.withColumn("event_time", TrinoFunctions.eventTime(ev))
      .groupBy(col("user_id"),
        session_window(col("event_time"), "10 minutes").as("w"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Set operators (UNION / INTERSECT / EXCEPT) — each compiles to the
    * scale-right plan: UNION+distinct is one hash-agg shuffle,
    * INTERSECT/EXCEPT become left_semi/left_anti hash joins (no
    * row-payload shuffle beyond the key).
    */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val wealthy = c.filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))
    val buyers = orders(s, d).select(col("o_custkey").as("custkey"))
    val overdrawn = c.filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("custkey"))
    building.union(wealthy).distinct()
      .intersect(buyers)
      .except(overdrawn)
      .orderBy("custkey")
  }

  /** TPC-H Q7 shape (volume shipping): cross-border revenue between two
    * REGIONS (geography pair at region granularity — nation pairs are
    * empty at the smallest test SF), by supplier nation × customer
    * nation × ship year, both directions. The region filters are
    * applied INSIDE the customer/supplier sub-relations — each side
    * shrinks to one region's share before its join, and the
    * constant-sized nation⋈region lookup broadcasts; the two-year ship
    * window prunes the fact scan.
    */
  def volumeShipping(s: SparkSession, d: String): DataFrame = {
    val pair = Seq("ASIA", "EUROPE")
    val geo = nation(s, d)
      .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin(pair: _*))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val cust = customer(s, d)
      .join(broadcast(geo), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"),
        col("r_name").as("cust_region"))
    val supp = supplier(s, d)
      .join(broadcast(geo), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"),
        col("r_name").as("supp_region"))
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_region") === pair(0) && col("cust_region") === pair(1)) ||
        (col("supp_region") === pair(1) && col("cust_region") === pair(0)))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape (market share): one supplier nation's share of a
    * region's market for one part type, per order year. Nation/region
    * joins broadcast; part and customer scale with SF so their joins
    * co-shuffle on the key and AQE picks broadcast when the filtered
    * side turns out small (the same stance as [[returnedItemRevenue]]).
    * The share divides two sums from ONE pass (conditional aggregate) —
    * never two scans.
    */
  def marketShare(s: SparkSession, d: String): DataFrame = {
    val target = "NATION_3"
    val n = nation(s, d).select(col("n_nationkey"), col("n_name"),
      col("n_regionkey"))
    val custEur = customer(s, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("c_custkey"))
    val supp = supplier(s, d)
      .join(broadcast(n.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val pStd = part(s, d).filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    lineitem(s, d)
      .join(pStd, col("l_partkey") === col("p_partkey"))
      .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custEur, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(when(col("supp_nation") === target, rev).otherwise(0.0)) /
          sum(rev), 6).as("mkt_share"),
        count(lit(1)).as("n_items"))
      .orderBy("o_year")
  }

  /** TPC-H Q12 shape (late shipments by priority), adapted: the test
    * schema has no ship mode or commit/receipt dates, so "late" derives
    * from ship lag vs order date (>90 days) and the grouping is
    * (ship year, lateness bucket) instead of ship mode. The
    * high/low-priority split is the Q12 conditional-count pair in one
    * hash-agg pass; the join co-shuffles lineitem and orders on the
    * order key.
    */
  def lateLineDistribution(s: SparkSession, d: String): DataFrame = {
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(delay > 90)
      .groupBy(year(col("l_shipdate")).as("ship_year"),
        when(delay <= 180, "late_3_6mo").otherwise("late_6mo_plus")
          .as("delay_bucket"))
      .agg(count_if(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .as("high_priority"),
        count_if(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .as("low_priority"))
      .orderBy("ship_year", "delay_bucket")
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): average yearly
    * revenue lost if orders below 20% of a part's average quantity were
    * dropped. The correlated scalar subquery becomes a per-part
    * aggregate joined back on the part key — both sides pre-pruned by
    * the brand filter and co-partitioned on l_partkey, so the self-join
    * reuses one shuffle layout. The threshold is ROUNDED to 6 decimals
    * in both engines: `<` membership is exact, and engines disagree in
    * the last ulp of an avg; quantities carry far fewer digits.
    */
  def smallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val pBrand = part(s, d).filter(col("p_brand") === "Brand#12")
      .select(col("p_partkey"))
    val l = lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(pBrand, col("l_partkey") === col("p_partkey"), "left_semi")
    val thresh = l.groupBy(col("l_partkey").as("t_partkey"))
      .agg(round(avg(col("l_quantity")) * 0.2, 6).as("qty_thresh"))
    l.join(thresh, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    * ship-lag lateness: suppliers whose line shipped >90 days after the
    * order date on a finished multi-supplier order where NO other
    * supplier was also late. EXISTS/NOT EXISTS become left_semi /
    * left_anti joins with a (same order, different supplier) condition —
    * all three legs shuffle on the order key only, carrying
    * (orderkey, suppkey) pairs, never line payloads.
    */
  def waitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = l
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 90)
    val l1 = late.filter(col("o_orderstatus") === "F")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val others = l.select(col("l_orderkey").as("ok2"),
      col("l_suppkey").as("sk2"))
    val lateOthers = late.select(col("l_orderkey").as("ok3"),
      col("l_suppkey").as("sk3"))
    l1.join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"),
        "left_semi")
      .join(lateOthers, col("ok") === col("ok3") && col("sk") =!= col("sk3"),
        "left_anti")
      .join(supplier(s, d), col("sk") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q4 shape (order-priority checking): orders of one quarter
    * with at least one late line (ship lag > 90 days — the schema's
    * commit/receipt-date adaptation, as in [[lateLineDistribution]]),
    * counted by priority. The EXISTS is a left_semi join whose
    * condition spans both sides (the lag needs o_orderdate), so the
    * semi join itself evaluates it — no pre-join materialization; the
    * quarter filter prunes the orders scan first.
    */
  def orderPriorityCounts(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          datediff(col("l_shipdate"), col("o_orderdate")) > 90, "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q9 shape (product-type profit): per supplier-nation, per
    * order year, profit on 'red' parts — adapted: the schema has no
    * partsupp, so unit cost is modeled as 60% of the part's retail
    * price. lineitem is the only fact-sized relation once the p_name
    * filter lands: part co-shuffles (scales with SF, same stance as
    * [[marketShare]]); supplier/nation broadcast; one conditional-free
    * agg pass.
    */
  def productTypeProfit(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).filter(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val n = nation(s, d).select(col("n_nationkey"), col("n_name"))
    val sup = supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    lineitem(s, d)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          - col("p_retailprice") * lit(0.6) * col("l_quantity")), 2)
        .as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Ranking-window showcase over each customer's order history:
    * lag (days since previous order), rank + ntile + percent_rank on
    * spend — every ranking-family window in ONE pass over ONE shuffle
    * (all four functions share the (custkey, date-ordered) window;
    * Spark plans a single Window operator). Ordering keys are unique
    * per partition ((o_orderdate, o_orderkey)), so every rank is
    * deterministic cross-engine; the spend ranking ties break on
    * orderkey.
    */
  def orderGaps(s: SparkSession, d: String): DataFrame = {
    val seq = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val spend = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d).filter(col("o_custkey") <= 200)
      .select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(seq))
          .as("days_since_prev"),
        rank().over(spend).as("spend_rank"),
        ntile(4).over(seq).as("seq_quartile"),
        round(percent_rank().over(spend), 6).as("spend_pct"))
      .orderBy("custkey", "orderkey")
  }

  /** TPC-H Q2 shape (min-cost supplier): for each qualifying part, the
    * EUROPE supplier with the lowest observed average unit price —
    * adapted: no partsupp table, so unit price is observed from
    * lineitem (extendedprice/quantity) instead of ps_supplycost. The
    * correlated MIN becomes a per-part ranking window over the
    * (part, supplier) aggregate — |parts|-sized partitions, and the
    * compared price is ROUNDED before ranking (cross-engine ulp can't
    * reorder; suppkey breaks exact ties).
    */
  def minCostSupplier(s: SparkSession, d: String): DataFrame = {
    val pSel = part(s, d)
      .filter(col("p_type") === "STANDARD" && col("p_size") <= 10)
      .select(col("p_partkey"), col("p_name"))
    val sup = supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val unit = lineitem(s, d)
      .join(pSel, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("n_name"))
      .agg(round(avg(col("l_extendedprice") / col("l_quantity")), 6)
        .as("avg_unit_price"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("avg_unit_price"), col("s_suppkey"))
    unit.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("p_partkey").as("partkey"), col("p_name").as("part_name"),
        col("s_name").as("supplier"), col("n_name").as("nation"),
        col("avg_unit_price"))
      .orderBy("partkey")
  }

  /** TPC-H Q16 shape (supplier diversity by part attribute): distinct
    * suppliers per (brand, size) for non-promo parts, excluding
    * suppliers in deficit (the complaints-list NOT IN, adapted to
    * s_acctbal < 0). NOT IN = left_anti against a key-only build side;
    * the distinct count is the standard two-phase dedup-then-count
    * shuffle on (brand, size, suppkey).
    */
  def supplierDiversity(s: SparkSession, d: String): DataFrame = {
    val pSel = part(s, d)
      .filter(col("p_type") =!= "PROMO" && col("p_brand") =!= "Brand#13")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val deficit = supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .join(pSel, col("l_partkey") === col("p_partkey"))
      .join(deficit, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H Q11 shape (important stock): parts whose shipped value
    * through ASIA suppliers exceeds 0.1% of the total — adapted: no
    * partsupp, so "stock value" is observed shipped value
    * (sum of extendedprice), and the cut is SCALE-FREE — parts above
    * 1.5× the mean part value (Q11's fixed fraction divides by SF for
    * the same reason: a constant share empties as the part count
    * grows). The test multiplies instead of dividing
    * (`value·n_parts > 1.5·total`) — same predicate, no
    * rounded-threshold boundary to disagree on; the scalar aggregate
    * rides a 1-row broadcast. Output ordering is on the CENT-rounded
    * value (stored 2-decimal prices sum to exact cent multiples, so
    * the rounded sort key is engine-stable; partkey breaks ties).
    */
  def importantParts(s: SparkSession, d: String): DataFrame = {
    val sup = supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("s_suppkey"))
    val v = lineitem(s, d)
      .join(sup, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice")).as("value"))
      // Read twice (scalar total + threshold filter); LAZY persist, not
      // eager localCheckpoint: building the frame must not trigger a
      // job, and persist keeps lineage so a lost executor recomputes
      // the block instead of failing the query (preemptible clusters).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = v.agg(sum(col("value")).as("total"),
      count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(tot))
      .filter(col("value") * col("n_parts") > col("total") * 1.5)
      .select(col("l_partkey").as("partkey"),
        round(col("value"), 2).as("value"))
      .orderBy(col("value").desc, col("partkey"))
  }

  /** TPC-H Q20 shape (dominant suppliers): suppliers shipping more
    * than half of a 'red' part's 1996 volume — adapted from the
    * excess-inventory semi-join chain to observed shipments (no
    * partsupp availqty). Quantities are integer-valued doubles, so
    * `2·supplier > part total` compares exactly; both aggregates
    * co-shuffle on the part key and map-side-combine.
    */
  def dominantSuppliers(s: SparkSession, d: String): DataFrame = {
    val pRed = part(s, d).filter(col("p_name").like("%red%"))
      .select(col("p_partkey"))
    val l96 = lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(pRed, col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val perSupp = l96.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("sq"))
    val perPart = l96.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("tq"))
    perSupp.join(perPart, Seq("l_partkey"))
      .filter(col("sq") * 2.0 > col("tq"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_parts_dominated"))
      .orderBy("s_suppkey")
  }

  val entries: Seq[Q] = Seq(
    Q("q_federation_agg", federationAgg _,
      FederationAggOracle),
    Q("q_euro_customers", euroCustomers _,
      """SELECT c_custkey AS custkey, c_name AS name,
                round(c_acctbal) AS account_balance,
                c_mktsegment AS mktsegment, n_name AS nation, r_name AS region
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE' ORDER BY custkey LIMIT 500"""),
    Q("q_orders_date_range", ordersDateRange _,
      """SELECT o_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS order_date,
                o_totalprice AS totalprice
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-06-01'
           AND o_orderdate <  TIMESTAMP '1996-06-01'
         ORDER BY orderkey"""),
    Q("q_customer_in_list", customerInList _,
      """SELECT c_custkey AS custkey, c_name AS name,
                c_mktsegment AS mktsegment, round(c_acctbal, 2) AS acctbal
         FROM customer WHERE c_custkey IN (11, 47, 103) ORDER BY custkey"""),
    Q("q_scalar_fns", scalarFns _,
      """SELECT o_orderkey AS orderkey,
                concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
                strftime(o_orderdate, '%Y/%m/%d-%H:%M:%S') AS odate_fmt,
                CAST(year(o_orderdate) AS INT) AS oyear,
                CAST(o_orderdate - INTERVAL 2 DAY AS DATE) AS odate_minus2
         FROM orders WHERE o_orderkey < 1000 ORDER BY orderkey"""),
    Q("q_pricing_summary", pricingSummary _,
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 4) AS avg_qty,
                count(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),
    Q("q_customer_order_counts", customerOrderCounts _,
      """SELECT c_custkey AS custkey, count(o_orderkey) AS n_orders,
                round(coalesce(sum(o_totalprice), 0.0), 2) AS spend
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY custkey"""),
    Q("q_top_orders_per_status", topOrdersPerStatus _,
      """SELECT o_orderstatus AS orderstatus, CAST(rn AS INT) AS rn,
                o_orderkey AS orderkey,
                round(o_totalprice, 2) AS totalprice
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY o_orderstatus
                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn <= 3 ORDER BY orderstatus, rn"""),
    Q("q_events_hourly", eventsHourly _,
      EventsHourlyOracle),
    Q("q_events_json", eventsJsonExtract _,
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
                max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("q_rollup_revenue", rollupRevenue _,
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_items
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY returnflag NULLS FIRST, linestatus NULLS FIRST"""),
    Q("q_running_total", runningTotal _,
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                round(o_totalprice, 2) AS totalprice,
                round(sum(o_totalprice) OVER
                  (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_spend
         FROM orders WHERE o_custkey <= 200
         ORDER BY custkey, orderkey"""),
    Q("q_shipping_priority", shippingPriority _,
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                  AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < DATE '1997-06-01'
           AND l_shipdate > DATE '1997-06-01'
         GROUP BY 1, 2, 3
         ORDER BY sum(l_extendedprice * (1.0 - l_discount)) DESC,
                  o_orderdate, l_orderkey
         LIMIT 10"""),
    Q("q_supplier_volume", localSupplierVolume _,
      """SELECT n_name,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                  AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
           AND o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    Q("q_large_orders", largeVolumeCustomers _,
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
                      FROM lineitem GROUP BY 1
                      HAVING sum(l_quantity) > 150)
         SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                round(o.o_totalprice, 2) AS o_totalprice,
                round(b.total_qty, 2) AS total_qty
         FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20"""),
    Q("q_returned_revenue", returnedItemRevenue _,
      """SELECT c.c_custkey, c.c_name, n.n_name,
                round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                  AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate <  TIMESTAMP '1996-07-01'
           AND l.l_returnflag = 'R'
         GROUP BY 1, 2, 3
         ORDER BY sum(l.l_extendedprice * (1 - l.l_discount)) DESC,
                  c.c_custkey
         LIMIT 20"""),
    Q("q_promo_revenue", promoRevenue _,
      """SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                  THEN l.l_extendedprice * (1 - l.l_discount)
                  ELSE 0 END)
                / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                  AS promo_pct,
                count(*) AS n_items
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
           AND l.l_shipdate <  TIMESTAMP '1996-04-01'"""),
    Q("q_disjunctive_sale", disjunctiveSale _,
      """SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                  AS revenue,
                count(*) AS n_items
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
                AND l.l_quantity BETWEEN 1 AND 11)
            OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
                AND l.l_quantity BETWEEN 10 AND 20)
            OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 20 AND 50
                AND l.l_quantity BETWEEN 20 AND 30)"""),
    Q("q_idle_customers", idleWealthyCustomers _,
      """WITH ab AS (SELECT round(avg(c_acctbal), 2) AS v FROM customer
                     WHERE c_acctbal > 0.0)
         SELECT n.n_name, count(*) AS numcust,
                round(sum(c.c_acctbal), 2) AS totacctbal
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey, ab
         WHERE c.c_acctbal > ab.v
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate < TIMESTAMP '1996-01-01')
         GROUP BY 1 ORDER BY 1"""),
    Q("q_forecast_revenue", forecastRevenue _,
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24"""),
    Q("q_top_supplier", topSupplier _,
      """WITH rev AS (
           SELECT l_suppkey,
                  sum(l_extendedprice * (1 - l_discount)) AS total
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, round(r.total, 2) AS total_revenue
         FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
         WHERE r.total = (SELECT max(total) FROM rev)
         ORDER BY s.s_suppkey"""),
    Q("q_customer_distribution", customerDistribution _,
      """SELECT n_orders, count(*) AS n_customers FROM (
           SELECT coalesce(o.n_orders, 0) AS n_orders
           FROM customer c LEFT JOIN (
             SELECT o_custkey, count(*) AS n_orders
             FROM orders GROUP BY o_custkey) o
             ON c.c_custkey = o.o_custkey)
         GROUP BY n_orders
         ORDER BY n_customers DESC, n_orders DESC"""),
    // Frame boundaries are epoch SECONDS in both engines (Spark's
    // timestamp→long cast floors to seconds; date_trunc('second')
    // replicates that), so the 1-hour RANGE frame admits identical rows.
    Q("q_rolling_window", rollingWindow _,
      """SELECT event_id, user_id,
                round(sum(value) OVER w, 2) AS rolling_value_1h,
                count(*) OVER w AS rolling_events_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),
    Q("q_retention_cohorts", retentionCohorts _,
      """WITH e AS (SELECT user_id,
                           CAST(date_trunc('week', ts) AS DATE) AS wk
                    FROM events),
         f AS (SELECT user_id, min(wk) AS cohort_week
               FROM e GROUP BY user_id)
         SELECT f.cohort_week,
                CAST(datediff('day', f.cohort_week, e.wk) / 7 AS INT)
                  AS week_offset,
                count(DISTINCT e.user_id) AS active_users
         FROM e JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    Q("q_value_percentiles", valuePercentiles _,
      """SELECT event_type,
                round(quantile_cont(value, 0.25), 6) AS p25,
                round(quantile_cont(value, 0.5), 6)  AS p50,
                round(quantile_cont(value, 0.75), 6) AS p75,
                round(quantile_cont(value, 0.95), 6) AS p95,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("q_distinct_users", distinctUsers _,
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // The sketch estimates themselves are engine-specific; the row
    // carries the EXACT values (oracle-able) plus the in-plan error
    // certificate, which must come out true — a sketch drifting past
    // its bound turns the row red.
    Q("q_approx_distinct", approxDistinct _,
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events, true AS hll_ok
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("q_approx_quantiles", approxQuantiles _,
      """SELECT event_type,
                round(quantile_cont(value, 0.5), 6)  AS p50,
                round(quantile_cont(value, 0.9), 6)  AS p90,
                round(quantile_cont(value, 0.99), 6) AS p99,
                count(*) AS n, true AS gk_ok
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Q("q_cube_volume", cubeVolume _,
      """SELECT orderstatus, orderpriority, total, n, gid FROM (
           SELECT o_orderstatus AS orderstatus,
                  o_orderpriority AS orderpriority,
                  round(sum(o_totalprice), 2) AS total,
                  count(*) AS n,
                  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT)
                    AS gid
           FROM orders
           GROUP BY CUBE (o_orderstatus, o_orderpriority))
         ORDER BY gid, orderstatus NULLS LAST, orderpriority NULLS LAST"""),
    Q("q_rank_functions", rankFunctions _,
      """SELECT orderkey, priority, rnk, drnk, prnk, cdist, quartile,
                prev_price
         FROM (
           SELECT o_orderkey AS orderkey, o_orderpriority AS priority,
                  CAST(rank() OVER w AS INT) AS rnk,
                  CAST(dense_rank() OVER w AS INT) AS drnk,
                  round(percent_rank() OVER w, 6) AS prnk,
                  round(cume_dist() OVER w, 6) AS cdist,
                  CAST(ntile(4) OVER w AS INT) AS quartile,
                  round(coalesce(lag(o_totalprice, 1) OVER w, -1.0), 2)
                    AS prev_price
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey))
         WHERE rnk <= 100 ORDER BY priority, rnk, orderkey"""),
    Q("q_pivot_status", pivotStatus _,
      s"""$StatusPivot ORDER BY priority"""),
    Q("q_unpivot_status", unpivotStatus _,
      s"""WITH p AS (
           $StatusPivot),
         u AS (
           SELECT priority, 'F' AS orderstatus, total_f AS total FROM p
           UNION ALL
           SELECT priority, 'O', total_o FROM p
           UNION ALL
           SELECT priority, 'P', total_p FROM p)
         SELECT priority, orderstatus, total FROM u
         WHERE total IS NOT NULL ORDER BY priority, orderstatus"""),
    Q("q_grouping_sets", groupingSets _,
      """SELECT o_orderstatus AS orderstatus,
                o_orderpriority AS orderpriority,
                round(sum(o_totalprice), 2) AS total, count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY orderstatus NULLS LAST, orderpriority NULLS LAST"""),
    Q("q_urgent_customers", urgentCustomers _,
      """SELECT c_custkey AS custkey, c_name AS name,
                c_mktsegment AS mktsegment
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
         ORDER BY custkey"""),
    Q("q_conditional_agg", conditionalAgg _,
      """SELECT user_id % 10 AS user_decile, count(*) AS n,
                count(*) FILTER (WHERE event_type = 'purchase')
                  AS n_purchases,
                round(sum(CASE WHEN event_type = 'purchase' THEN value
                               ELSE 0.0 END), 4) AS purchase_value,
                round(avg(value) FILTER (WHERE value > 50), 4)
                  AS avg_high_value
         FROM events GROUP BY 1 ORDER BY user_decile"""),
    // session_window semantics: merge on OVERLAP (strict), window end =
    // last event + gap — gaps-and-islands with `>=` and a shifted end
    Q("q_session_window", sessionWindows _,
      s"""${sessionCtes(", value", ">=")}
         SELECT user_id, min(t) AS session_start,
                max(t) + INTERVAL 10 MINUTE AS session_end,
                CAST(count(*) AS INT) AS n_events,
                round(sum(value), 4) AS sum_value
         FROM g GROUP BY user_id, grp ORDER BY user_id, session_start"""),
    Q("q_set_ops", setOps _,
      """SELECT custkey FROM (
           SELECT c_custkey AS custkey FROM customer
           WHERE c_mktsegment = 'BUILDING'
           UNION
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         INTERSECT
         SELECT o_custkey FROM orders
         EXCEPT
         SELECT c_custkey FROM customer WHERE c_acctbal < 0
         ORDER BY custkey"""),
    Q("q_volume_shipping", volumeShipping _,
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(year(l.l_shipdate) AS INT) AS l_year,
                round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2)
                  AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN region cr ON cn.n_regionkey = cr.r_regionkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         JOIN region sr ON sn.n_regionkey = sr.r_regionkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate <  TIMESTAMP '1998-01-01'
           AND ((sr.r_name = 'ASIA' AND cr.r_name = 'EUROPE')
             OR (sr.r_name = 'EUROPE' AND cr.r_name = 'ASIA'))
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    Q("q_market_share", marketShare _,
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                round(sum(CASE WHEN sn.n_name = 'NATION_3'
                    THEN l.l_extendedprice * (1.0 - l.l_discount)
                    ELSE 0.0 END)
                  / sum(l.l_extendedprice * (1.0 - l.l_discount)), 6)
                  AS mkt_share,
                count(*) AS n_items
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         WHERE p.p_type = 'STANDARD'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate <  TIMESTAMP '1998-01-01'
           AND EXISTS (SELECT 1 FROM customer c
                       JOIN nation cn ON c.c_nationkey = cn.n_nationkey
                       JOIN region r ON cn.n_regionkey = r.r_regionkey
                       WHERE c.c_custkey = o.o_custkey
                         AND r.r_name = 'EUROPE')
         GROUP BY 1 ORDER BY 1"""),
    Q("q_late_lines", lateLineDistribution _,
      """SELECT CAST(year(l.l_shipdate) AS INT) AS ship_year,
                CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 180
                     THEN 'late_3_6mo' ELSE 'late_6mo_plus' END
                  AS delay_bucket,
                count(*) FILTER (WHERE o.o_orderpriority
                  IN ('1-URGENT', '2-HIGH')) AS high_priority,
                count(*) FILTER (WHERE o.o_orderpriority
                  NOT IN ('1-URGENT', '2-HIGH')) AS low_priority
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE datediff('day', o.o_orderdate, l.l_shipdate) > 90
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    Q("q_important_parts", importantParts _,
      """WITH sup AS (
           SELECT s_suppkey FROM supplier s
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'ASIA'),
         v AS (SELECT l_partkey, sum(l_extendedprice) AS value
               FROM lineitem
               WHERE l_suppkey IN (SELECT s_suppkey FROM sup)
               GROUP BY 1),
         t AS (SELECT sum(value) AS total, count(*) AS n_parts FROM v)
         SELECT l_partkey AS partkey, round(value, 2) AS value
         FROM v, t WHERE value * n_parts > total * 1.5
         ORDER BY round(value, 2) DESC, partkey"""),
    Q("q_dominant_suppliers", dominantSuppliers _,
      """WITH l96 AS (
           SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1997-01-01'
             AND l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE '%red%')),
         ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
                FROM l96 GROUP BY 1, 2),
         pt AS (SELECT l_partkey, sum(l_quantity) AS tq
                FROM l96 GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, count(*) AS n_parts_dominated
         FROM ps JOIN pt USING (l_partkey)
         JOIN supplier s ON ps.l_suppkey = s.s_suppkey
         WHERE ps.sq * 2.0 > pt.tq
         GROUP BY 1, 2 ORDER BY s_suppkey"""),
    Q("q_min_cost_supplier", minCostSupplier _,
      """WITH u AS (
           SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
                  round(avg(l.l_extendedprice / l.l_quantity), 6)
                    AS avg_unit_price
           FROM lineitem l
           JOIN part p ON l.l_partkey = p.p_partkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
             AND r.r_name = 'EUROPE'
           GROUP BY 1, 2, 3, 4, 5)
         SELECT p_partkey AS partkey, p_name AS part_name,
                s_name AS supplier, n_name AS nation, avg_unit_price
         FROM (SELECT *, row_number() OVER (PARTITION BY p_partkey
                 ORDER BY avg_unit_price, s_suppkey) AS rn FROM u)
         WHERE rn = 1 ORDER BY partkey"""),
    Q("q_supplier_diversity", supplierDiversity _,
      """SELECT p.p_brand, p.p_size,
                count(DISTINCT l.l_suppkey) AS supplier_cnt
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE p.p_type <> 'PROMO' AND p.p_brand <> 'Brand#13'
           AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                   WHERE s_acctbal < 0)
         GROUP BY 1, 2
         ORDER BY supplier_cnt DESC, p_brand, p_size"""),
    Q("q_order_priority", orderPriorityCounts _,
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
           AND o.o_orderdate <  TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND datediff('day', o.o_orderdate, l.l_shipdate)
                             > 90)
         GROUP BY 1 ORDER BY 1"""),
    Q("q_product_profit", productTypeProfit _,
      """SELECT n.n_name AS nation,
                CAST(year(o.o_orderdate) AS INT) AS o_year,
                round(sum(l.l_extendedprice * (1.0 - l.l_discount)
                  - p.p_retailprice * 0.6 * l.l_quantity), 2) AS profit
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         WHERE p.p_name LIKE '%red%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC"""),
    Q("q_order_gaps", orderGaps _,
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                CAST(datediff('day', lag(o_orderdate) OVER seq,
                  o_orderdate) AS INT) AS days_since_prev,
                CAST(rank() OVER spend AS INT) AS spend_rank,
                CAST(ntile(4) OVER seq AS INT) AS seq_quartile,
                round(percent_rank() OVER spend, 6) AS spend_pct
         FROM orders WHERE o_custkey <= 200
         WINDOW seq AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey),
                spend AS (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY custkey, orderkey"""),
    Q("q_small_qty_revenue", smallQtyRevenue _,
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice
                    FROM lineitem
                    WHERE l_partkey IN (SELECT p_partkey FROM part
                                        WHERE p_brand = 'Brand#12')),
         t AS (SELECT l_partkey, round(avg(l_quantity) * 0.2, 6) AS qty_thresh
               FROM l GROUP BY 1)
         SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
                count(*) AS n_items
         FROM l JOIN t ON l.l_partkey = t.l_partkey
         WHERE l.l_quantity < t.qty_thresh"""),
    Q("q_waiting_suppliers", waitingSuppliers _,
      """SELECT s.s_name, count(*) AS numwait
         FROM lineitem l1
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         JOIN supplier s ON s.s_suppkey = l1.l_suppkey
         WHERE o.o_orderstatus = 'F'
           AND datediff('day', o.o_orderdate, l1.l_shipdate) > 90
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND datediff('day', o3.o_orderdate,
                                   l3.l_shipdate) > 90)
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20"""))
}
