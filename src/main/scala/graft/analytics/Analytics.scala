package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.F._

/** TPC-H-style analytical operators over the star schema
  * (lineitem/orders/customer/supplier/nation/region/part).
  *
  * Scale design: dimension tables (region, nation, supplier, customer at
  * these SFs) are broadcast — no shuffle of the fact side for star joins;
  * fact-fact joins (orders⋈lineitem) shuffle on the join key with AQE.
  * All money aggregations go through decimal (F.decSum) so results are
  * partition-count-independent — the same answer at local[32] and on
  * 1000 executors.
  */
object Analytics {

  private def revDec(): Column =
    (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 6))

  /** q1: TPC-H Q1 pricing summary — single scan, partial aggregation
    * map-side, 6-group output. Filter is pushed to the parquet scan. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-01-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(revDec()).cast(DoubleType).as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).cast(DecimalType(18, 6)))
          .cast(DoubleType).as("sum_charge"),
        decAvg(col("l_quantity")).as("avg_qty"),
        decAvg(col("l_extendedprice")).as("avg_price"),
        decAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q3: shipping-priority top-10 — shuffle joins throughout, tie-safe
    * global ordering on the *exact decimal* revenue before the limit.
    * No broadcast hint: the BUILDING segment of customer is still
    * SF-proportional (~1/5 of the table — 3 M rows at SF100), the same
    * fact-scale class q5 deliberately stopped broadcasting; AQE picks
    * the physical join (and may still broadcast at small SFs) from
    * RUNTIME sizes instead of a hint that goes wrong at 100 TB. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1998-01-01"))
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(revDec()).as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("rev_dec").cast(DoubleType).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
  }

  /** q5: region revenue — 6-way star join. Only the true constant-size
    * dims (region: 5 rows, nation: 25 rows) are broadcast; customer and
    * supplier are SF-proportional fact-scale tables (15 M / 1 M rows at
    * SF100), so they go through shuffle joins on their keys and AQE picks
    * the physical strategy (and handles skew) at runtime. */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val supplier = Tables.supplier(spark, dir)
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val li = Tables.lineitem(spark, dir)
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(revDec()).cast(DoubleType).as("revenue"))
      .orderBy("n_name")
  }

  /** q7: top-3 orders per priority class — rank window, one shuffle on
    * the partition key. row_number with a total order (price desc, key)
    * keeps the result deterministic under ties. */
  def q7WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"))
      .orderBy("o_orderpriority", "rn")
  }

  /** q8: per-supplier running quantity — cumulative window over an
    * explicit ROWS frame and a *total* order (shipdate, orderkey,
    * linenumber), decimal-exact running sum. Bounded to a supplier subset
    * so the verify output stays small; the plan is identical unbounded. */
  def q8RunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") <= 5)
      .withColumn("running_qty",
        sum(col("l_quantity").cast(DecimalType(18, 6))).over(w).cast(DoubleType))
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("running_qty"))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
  }

  /** q9: EXISTS / NOT EXISTS — left-semi and left-anti joins (no
    * row-multiplying join then distinct), counted per nation. */
  def q9SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ordKeys = Tables.orders(spark, dir).select("o_custkey")
    val withO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_with"))
    val withoutO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_without"))
    Tables.nation(spark, dir)
      .join(withO, col("n_nationkey") === withO("c_nationkey"), "left")
      .drop("c_nationkey")
      .join(withoutO, col("n_nationkey") === withoutO("c_nationkey"), "left")
      .select(col("n_name"),
        coalesce(col("n_with"), lit(0L)).as("n_with"),
        coalesce(col("n_without"), lit(0L)).as("n_without"))
      .orderBy("n_name")
  }

  /** q10: hierarchical ROLLUP over (priority, status) with grand total. */
  def q10Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("n_orders"), col("total_price"))
      .orderBy("priority", "status")

  /** q11: global top-25 orders by price — total order (price desc, key)
    * before limit; at scale this is a TakeOrderedAndProject (per-partition
    * top-k then merge on the driver), not a full sort. */
  def q11TopkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))

  /** q4 (TPC-H Q4 shape, adapted to the columns present): orders in a
    * quarter having at least one deeply-discounted line — EXISTS as a
    * left-semi join (no row multiplication, no distinct). */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01") && col("o_orderdate") < lit("1996-10-01"))
    val disc = Tables.lineitem(spark, dir)
      .filter(col("l_discount") >= 0.08).select("l_orderkey")
    ord.join(disc, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q6 (TPC-H Q6): pure scan-side filter + global aggregate — every
    * predicate pushes to the parquet scan, partial agg leaves one row
    * per partition. The canonical "is pushdown working" query. */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        decSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** q14 (TPC-H Q14 shape): promo revenue share — lineitem⋈part on
    * partkey (shuffle join: part is SF-proportional, same lesson as
    * q5's customer), conditional decimal sums, one output row. */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01") && col("l_shipdate") < lit("1996-04-01"))
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 6))
    li.join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(DecimalType(18, 6))))
          .cast(DoubleType).as("promo_revenue"),
        sum(rev).cast(DoubleType).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        round(col("promo_revenue") / col("total_revenue") * 100.0, 6).as("promo_pct"))
  }

  /** q18 (TPC-H Q18): large-volume orders — pre-aggregate lineitem to
    * per-order quantity (map-side partial agg does most of the work),
    * filter to the heavy tail BEFORE joining orders/customer, so the
    * joins see only qualifying orders. */
  def q18LargeVolume(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(decSum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 200.0)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  /** q20: per-priority top-3 orders through the custom TopKPerKey
    * operator — one hash shuffle + bounded per-key heaps, NO sort stage
    * (vs. the window row_number formulation in q7, which fully sorts
    * every partition). Ties break on the order key (total order). */
  def q20TopkHeap(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    graft.plans.TopKPerKey(base, Seq("o_orderpriority"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** q22 (TPC-H Q22 shape): wealthy dormant customers — a scalar
    * aggregate subquery (global positive-balance average, computed once
    * and broadcast as a 1-row join) filters customers, an anti join
    * against RECENT orders removes the still-active ones (the date
    * filter pushes to the orders scan, shrinking the anti join's build
    * side), and the survivors aggregate per nation. The threshold uses
    * the same decimal-exact average as the oracle so the boundary
    * comparison is bit-identical. */
  def q22InactiveRich(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val thr = cust.filter(col("c_acctbal") > 0.0)
      .agg(decAvg(col("c_acctbal")).as("avg_bal"))
    val inactive = cust
      .crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
    inactive
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"), decSum(col("c_acctbal")).as("total_bal"))
      .orderBy("n_name")
  }

  /** a3: the analytic window-function suite — lag (previous order
    * date → gap days), lead (next order price), ntile quartiles and
    * percent_rank, all per customer. The two ORDER BYs (date vs price)
    * share ONE hash shuffle on the partition key; Catalyst plans one
    * exchange + two sorts. Every ordering includes the order key, so
    * ntile/percent_rank are deterministic under price ties. Bounded to
    * a customer subset only to keep the verify artifact small — the
    * plan is identical unbounded. */
  def a3WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byDate)))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(byDate))
      .withColumn("quartile", ntile(4).over(byPrice))
      .withColumn("pct_rank", round(percent_rank().over(byPrice), 6))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q12: date × event-type PIVOT matrix — the relational-reshape API.
    * The pivot values are EXPLICIT (the known type vocabulary), which is
    * the scale-correct form: with inferred values Spark first runs a
    * distinct scan over the pivot column; with explicit values the whole
    * thing compiles to one pass of conditional aggregates (map-side
    * partial) — exactly what the oracle spells out as FILTER clauses. */
  def q12PivotDaily(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("date"))
      .pivot("event_type", graft.pipeline.TripPipeline.KnownTypes)
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("date")

  /** q15 (TPC-H Q15): top supplier by quarterly revenue — revenue
    * aggregation with map-side partial combine, then the global max as a
    * broadcast 1-row scalar joined back (the view+subquery of the
    * original, decorrelated). DECIMAL-exact revenue makes the equality
    * against the max reproducible at any partition count — a
    * floating-point sum would make "== max" flaky. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy("l_suppkey")
      .agg(sum(revDec()).as("r"))
    rev.crossJoin(broadcast(rev.agg(max("r").as("max_r"))))
      .filter(col("r") === col("max_r"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("r").cast(DoubleType).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q16 (TPC-H Q16 shape, adapted: no partsupp table in the driver
    * schema, so lineitem provides the part↔supplier links and the
    * "complaints" exclusion becomes negative-balance suppliers):
    * supplier diversity per (brand, size) — NOT IN expressed as a
    * left-anti join (never a row-multiplying join + filter), distinct
    * links first so the count-distinct aggregation sees the minimal
    * set. */
  def q16SupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val links = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey").distinct()
      .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
    links.join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .filter(col("p_size").between(1, 25))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** q17 (TPC-H Q17): small-quantity-order revenue — the correlated
    * per-part scalar subquery (avg quantity of THIS part). Two
    * decorrelation lessons compound here:
    *  - the avg is computed ONLY over the brand slice's parts (the
    *    original form aggregated EVERY part — a full fact shuffle to
    *    then discard 24/25 of the groups; at 100 TB that is the whole
    *    lineitem shuffled for a 1/25 answer);
    *  - the groupBy + join-back pair is a WINDOW over the same
    *    partition key (the q25 lesson): one scan, ONE partkey shuffle,
    *    no join — sum/count over the part's rows replicate decAvg
    *    exactly (decimal sum, one IEEE division).
    * The brand part list reaches the fact as a broadcast semi join, so
    * the fact prunes map-side before the only shuffle. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Window.partitionBy("l_partkey")
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(Tables.part(spark, dir).filter(col("p_brand") === "Brand#23")
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .withColumn("avg_qty",
        sum(col("l_quantity").cast(DecimalType(18, 6))).over(byPart)
          .cast(DoubleType) / count(lit(1)).over(byPart))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(
        (decSum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** q13 (TPC-H Q13): customer order-count distribution — LEFT OUTER
    * join (customers with zero orders must appear at count 0) into a
    * two-level aggregation: per-customer order counts, then the
    * histogram of those counts. Both aggregations get map-side partial
    * combine; the outer join shuffles on custkey with AQE. */
  def q13OrderDist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count(col): nulls excluded
    perCust.groupBy("c_count")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("n_cust").desc, col("c_count").desc)
  }

  /** q19 (TPC-H Q19 shape): disjunctive brand/size/quantity predicate —
    * Catalyst extracts the common `l_partkey = p_partkey` equality so
    * this stays a hash join with the OR-of-ANDs applied post-join, and
    * pushes the per-side conjuncts (quantity ranges to lineitem, size
    * ranges to part) down to the scans. */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pt = Tables.part(spark, dir)
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
          col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
          col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) &&
          col("p_size").between(1, 15)))
      .agg(
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q24 (TPC-H Q8 shape): national market share — the one TPC-H
    * topology not yet covered: the SAME dimension in TWO ROLES (nation
    * keys off both the customer side and the supplier side of one fact
    * row) feeding a conditional share aggregate. Share =
    * decimal-exact Σ(rev where supplier ∈ NATION_7) / Σ(rev), one
    * IEEE division per year.
    *
    * Scale design: both nation roles and the region filter are
    * constant-size broadcasts (two independent broadcasts of the same
    * 25-row table under different keys); customer/supplier/part join
    * via shuffle with AQE; the date-range and p_type filters push to
    * their scans BEFORE any join. */
  def q24MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val custNation = broadcast(n
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region")))
    val suppNation = broadcast(n
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val asia = broadcast(Tables.region(spark, dir)
      .filter(col("r_name") === "ASIA").select(col("r_regionkey")))
    val flat = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(custNation, col("c_nationkey") === col("cn_key"))
      .join(asia, col("cn_region") === col("r_regionkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("sn_key"))
      .join(Tables.part(spark, dir).filter(col("p_type") === "STANDARD")
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .withColumn("rev", revDec())
    flat
      .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(
        round(
          sum(when(col("supp_nation") === "NATION_7", col("rev"))
            .otherwise(lit(0).cast(DecimalType(18, 6)))).cast(DoubleType) /
            sum(col("rev")).cast(DoubleType), 6).as("mkt_share"),
        sum(col("rev")).cast(DoubleType).as("total_rev"),
        count(lit(1)).as("n_items"))
      .orderBy("o_year")
  }

  /** q23: full CUBE over (returnflag, linestatus) — all four grouping
    * sets (detail, two marginals, grand total), computed as a TWO-LEVEL
    * aggregation: a plain groupBy first collapses the fact to its ≤ 6
    * base cells (flag × status), and the CUBE runs over that cell
    * relation — sums of decimal sums and counts-as-sums are associative,
    * so the re-aggregation is bit-equal to cubing the raw rows.
    *
    * The naive `.cube()` on the fact pushes every row through Expand ×4
    * — the scan is shared, but the hash aggregate processes 4n rows (at
    * 100 TB, 4× the corpus through the agg pipeline for an 18-row
    * answer). Pre-collapsing pays ONE n-row map-combined agg, then
    * expands 6 rows. The same trick generalizes to any
    * CUBE/ROLLUP/GROUPING SETS whose base-cell count ≪ n — which is
    * what makes cube reporting viable at scale. */
  def q23Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 6))).as("q"),
        sum(col("l_extendedprice").cast(DecimalType(18, 6))).as("p"))
      .cube("l_returnflag", "l_linestatus")
      .agg(
        sum("n").as("n_items"),
        sum("q").cast(DoubleType).as("sum_qty"),
        sum("p").cast(DoubleType).as("sum_price"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** q21 (TPC-H Q21 shape): suppliers who "kept finished orders
    * waiting" — the hardest TPC-H join topology: a fact table semi- AND
    * anti-joined against itself with a not-equal residual. The schema
    * has no commit/receipt dates, so "late" is adapted to
    * `l_shipdate > o_orderdate + 60 days` (ship lag), preserving the
    * exact EXISTS / NOT-EXISTS structure: a supplier is blamed for a
    * finished order when it shipped late, ANOTHER supplier contributed
    * to the order, and NO other supplier was late on it.
    *
    * Scale design: everything hash-shuffles on l_orderkey — the late
    * set, the all-suppliers set, and both the left-semi and left-anti
    * self-joins reuse that one partitioning (no broadcast of anything
    * SF-proportional; the `<>` supplier residual rides on the orderkey
    * equality, so no nested loop). The per-(order,supplier) distinct
    * collapses multi-line contributions BEFORE the self-joins, bounding
    * their input to one row per order-supplier pair. supplier is
    * SF-proportional → shuffle join; nation is constant → broadcast. */
  /** The (order, supplier) blame core of q21 on ANY orders/lineitem
    * shaped frames — extracted so the fixture-driven semantics test
    * exercises the REAL join topology, not a copy of it. */
  private[graft] def q21BlamedSet(orders: DataFrame, li: DataFrame): DataFrame = {
    val fOrders = orders
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val lines = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    // one row per (finished order, supplier): all contributors / late contributors
    val allSupp = lines.join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_suppkey").distinct()
    val lateSupp = lines.join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("l_orderkey", "l_suppkey").distinct()
    lateSupp.as("d")
      .join(allSupp.as("a"),
        col("d.l_orderkey") === col("a.l_orderkey") &&
          col("d.l_suppkey") =!= col("a.l_suppkey"), "left_semi")
      .join(lateSupp.as("x"),
        col("d.l_orderkey") === col("x.l_orderkey") &&
          col("d.l_suppkey") =!= col("x.l_suppkey"), "left_anti")
  }

  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    q21BlamedSet(Tables.orders(spark, dir), Tables.lineitem(spark, dir))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name", "n_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  /** q26 (TPC-H Q10 topology): returned-item revenue per customer — the
    * "which customers returned the most" report: the returns slice of
    * the fact table through orders to customer + nation, revenue summed
    * decimal-exact per customer, top 20.
    *
    * Scale shape: the `l_returnflag = 'R'` predicate is PUSHED into the
    * lineitem scan (quarter of the fact rows never leave the reader);
    * order/customer joins shuffle on their keys (both sides
    * SF-proportional — q5's lesson), the 25-row nation dim broadcasts,
    * and the top-20 runs as TakeOrderedAndProject on the decimal sum
    * BEFORE the double cast (the round-before-cutoff rule). */
  def q26ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(revDec()).as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev_dec").cast(DoubleType).as("revenue"))
  }

  /** q25 (TPC-H Q2 topology): minimum-cost supplier per part within one
    * region — the correlated "cost = (SELECT min(cost) ... WHERE
    * partkey = p_partkey AND supplier in region)" subquery, decorrelated
    * the way an optimizer would: per-(part, supplier) cost from the
    * fact table, a per-part min over the region's suppliers, and an
    * equality join back on (partkey, cost). The schema has no partsupp,
    * so supply cost is min(l_extendedprice) per (part, supplier) — the
    * topology (subquery over a join tree shared with the outer query)
    * is Q2's.
    *
    * Scale shape: the region's supplier set prunes lineitem FIRST via a
    * left-semi join (constant-size nation/region broadcast into the
    * supplier scan; the supplier side of the semi join is
    * SF-proportional so it shuffles — q5's lesson). The per-part argmin
    * is a WINDOW min over the aggregated cost relation rather than a
    * second aggregation + join back: the join-back form plans the fact
    * scan + (partkey, suppkey) aggregation TWICE (no exchange reuse —
    * the two arms prune different columns), which doubles the dominant
    * cost at 100 TB; the window form touches the fact table once and
    * adds only an exchange on l_partkey over the already-collapsed
    * ~|parts × suppliers-per-part| relation. `part` joins last, after
    * the argmin has shrunk the fact side. Top 100 by the tie-safe Q2
    * order via TakeOrderedAndProject. (The join-back formulation is the
    * spec's independent cross-check.) */
  /** q27 (TPC-H Q9 topology): product-line profit by supplier nation and
    * order year — the widest join tree in the suite (lineitem against
    * part, supplier, nation, orders) with a substring predicate on the
    * part dimension. The schema has no partsupp, so the cost term is
    * `l_quantity * p_retailprice / 100` in place of
    * `ps_supplycost * l_quantity`; the topology (a 5-relation star whose
    * fact side is filtered through a LIKE on one dimension) is Q9's.
    * Reference for the join-tree shape: glue_jobs/KPI-Aggregator.py has
    * no analog — this is TPC-H Q9.
    *
    * Scale shape: the part subset prunes lineitem FIRST (a `%widget%`
    * LIKE keeps an SF-proportional slice of part, so no broadcast hint —
    * q3's lesson: AQE picks broadcast at small SFs from runtime sizes
    * and keeps the shuffle at 100 TB); then suppkey and orderkey shuffle
    * joins; nation is the only constant-size dim and the only hinted
    * broadcast (q5's lesson). Each join input is projected to exactly
    * the columns the rest of the tree needs, so the shuffles carry the
    * profit term, not whole rows. */
  def q27Profit(spark: SparkSession, dir: String): DataFrame = {
    val widgetParts = Tables.part(spark, dir)
      .filter(col("p_name").contains("widget"))
      .select("p_partkey", "p_retailprice")
    val amount = (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("l_quantity") * col("p_retailprice") * lit(0.01))
      .cast(DecimalType(18, 6))
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount")
      .join(widgetParts, col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_orderkey"), amount.as("amount"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(col("amount")).cast(DoubleType).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** q28 (TPC-H Q11 topology): "important stock" — per-part value held
    * by a nation group's suppliers, kept only where the part's value
    * exceeds a fixed fraction (1/200) of the GLOBAL sum: the
    * scalar-subquery-over-the-same-relation shape. Decorrelated the way
    * Q11 always is: build the per-part value relation v once, derive
    * the global total BY RE-AGGREGATING v (never a second fact scan),
    * and broadcast the 1-row total back across v.
    *
    * Scale shape: both arms share the identical scan→semi-filter→
    * (l_partkey) exchange subtree, so Catalyst's ReuseExchange
    * materializes the shuffle once and the total costs one extra
    * reduce over the already-collapsed per-part relation (pinned by
    * spec — this is the inverse of q25's lesson, where differing
    * column pruning BROKE reuse). The threshold compare is decimal ×
    * integer (val * 200 > total), exact in both engines — no float
    * boundary. */
  def q28ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val natGroup = (1 to 5).map(i => s"NATION_$i")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name").isin(natGroup: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(supp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))).as("val"))
    v.join(broadcast(v.agg(sum("val").as("total"))))
      .filter(col("val") * lit(200) > col("total"))
      .select(col("l_partkey"), col("val").cast(DoubleType).as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** q29 (TPC-H Q20 topology): suppliers who shipped more than half of
    * their all-time quantity of some `%bolt%` part inside one year —
    * Q20's nested-IN chain (partkey IN name-filtered parts, suppkey IN
    * a correlated half-quantity threshold). Decorrelated into ONE
    * conditional aggregation: per (suppkey, partkey), the 1997 slice
    * and the all-time total come from the same scan via
    * sum(CASE WHEN in-window THEN qty END) — where the textbook plan
    * correlates a subquery per pair and scans the fact table twice.
    * The qualifying pair set then SEMI-joins supplier (never a row
    * multiplier), and only nation broadcasts.
    *
    * Scale shape: one fact scan, one (suppkey, partkey) exchange, a
    * pair relation that collapses to |suppliers × parts-per-supplier|
    * before touching any dimension. Quantities sum as decimals so the
    * half-threshold compare (qty_1997 * 2 > qty_all) is exact. */
  def q29PartPromotion(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 6)
    val in1997 = col("l_shipdate") >= lit("1997-01-01") &&
      col("l_shipdate") < lit("1998-01-01")
    val qualifying = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      .join(Tables.part(spark, dir).filter(col("p_name").contains("bolt"))
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(
        sum(when(in1997, col("l_quantity").cast(dec))
          .otherwise(lit(0).cast(dec))).as("qty_1997"),
        sum(col("l_quantity").cast(dec)).as("qty_all"))
      .filter(col("qty_1997") * lit(2) > col("qty_all"))
      .select("l_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
      .orderBy("s_name")
  }

  /** q30 (TPC-H Q7 topology): bilateral trade volume between two
    * nations by ship year — the one TPC-H shape where the SAME
    * dimension (nation) joins in two roles (customer's and supplier's),
    * and the pair predicate is a disjunction of the two orientations.
    * With both names drawn from a two-element set, (A,B) OR (B,A)
    * reduces to `cust_nation != supp_nation` AFTER both role joins —
    * the filter the optimizer can't see through the OR form.
    *
    * Scale shape: each role reduces EARLY — supplier and customer are
    * pre-joined against the 2-row filtered nation broadcast, so the
    * fact side prunes to the two nations' suppliers right after the
    * date filter (~2/25 of lineitem), BEFORE the orderkey shuffle; the
    * customer role prunes orders the same way on the other side of that
    * shuffle. No hint on the SF-proportional role slices (q3's
    * lesson). */
  def q30NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val pairNations = Seq("NATION_10", "NATION_12")
    def role(as: String) = Tables.nation(spark, dir)
      .filter(col("n_name").isin(pairNations: _*))
      .select(col("n_nationkey"), col("n_name").as(as))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(role("supp_nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(role("cust_nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(revDec()).cast(DoubleType).as("volume"))
      .orderBy("cust_nation", "supp_nation", "l_year")
  }

  def q25MinCost(spark: SparkSession, dir: String): DataFrame = {
    val eusup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(Tables.region(spark, dir).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val cost = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(eusup.select("s_suppkey"),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(min("l_extendedprice").as("cost"))
    cost
      .withColumn("min_cost",
        min("cost").over(Window.partitionBy("l_partkey")))
      .filter(col("cost") === col("min_cost"))
      .join(Tables.part(spark, dir).filter(col("p_size") <= 5),
        col("l_partkey") === col("p_partkey"))
      .join(eusup, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** q31 (TPC-H Q12 topology — the last of the 22): priority-class line
    * counts for late shipments by return class. Q12's shape is a
    * fact-side slice (shipmode IN two modes + receipt window) → one
    * orderkey shuffle join → conditional counts of urgent vs non-urgent
    * order priorities per fact attribute. The synthetic schema carries
    * no shipmode/commitdate/receiptdate, so the slice adapts:
    * `l_returnflag IN ('A','R')` stands in for the two-mode IN, the 1996
    * ship-date window for the receipt window, and Q12's
    * commit-vs-receipt lateness becomes ship-lag > 30 days — a predicate
    * that CROSSES the join (l_shipdate vs o_orderdate), so it stays a
    * post-join residual exactly like Q12's.
    *
    * Scale shape: both the IN and the date window push into the parquet
    * scan (~2/3 × 1/6 of lineitem survives); the orderkey join shuffles
    * only 3 fact columns; the CASE counts collapse map-side into ≤ 3
    * groups. No broadcast hint — orders is fact-scale (q3's lesson). */
  def q31ShipMode(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select("l_orderkey", "l_returnflag", "l_shipdate")
      .join(Tables.orders(spark, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 30)
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("ship_class")
  }

  /** a5: ordered conversion funnel — users who signed up, then clicked,
    * then purchased, each step strictly after the previous and all
    * within 14 days of signup. The textbook formulation is a chain of
    * self-joins (one per step, re-scanning the events table each time);
    * here each step is a conditional-min WINDOW over the same user
    * partition, so the THREE steps share ONE hash shuffle and one scan
    * — step N's window reads step N-1's column. The per-user collapse
    * that follows reuses the window's partitioning (no second
    * exchange), and the final step counts are a 1-row global agg.
    *
    * Scale shape: one user_id shuffle regardless of funnel depth;
    * adding a step adds a Window node, not a scan or a join. */
  def a5Funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir))

  /** a5's core on any (user_id, ts, event_type) relation — separate so
    * specs can drive constructed event sets through the exact plan. */
  private[graft] def funnelOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val deadline = col("t1") + expr("INTERVAL 14 DAYS")
    events
      .select("user_id", "ts", "event_type")
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("ts") > col("t1") && col("ts") <= deadline, col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("ts") > col("t2") && col("ts") <= deadline, col("ts"))).over(w))
      .groupBy("user_id")
      .agg(first("t1").as("t1"), first("t2").as("t2"), first("t3").as("t3"))
      .agg(
        count("t1").as("n_signup"),
        count("t2").as("n_click_14d"),
        count("t3").as("n_purchase_14d"))
  }

  /** a6: weekly cohort retention — users grouped by the week of their
    * FIRST signup, counted as active in each later week they emit any
    * event (at or after that first signup). The classic product-
    * analytics triangle: (cohort_week, week_offset) → distinct users.
    *
    * Scale shape: the cohort relation is user-keyed (one shuffle, tiny
    * output — one row per signed-up user) and joins events on the SAME
    * key, so the join reuses the events shuffle partitioning; the
    * distinct-user count then aggregates partial map-side. Week math is
    * integer-exact in both engines: date_trunc to the Monday, day
    * difference is always a multiple of 7. */
  def a6Retention(spark: SparkSession, dir: String): DataFrame =
    retentionOf(Tables.events(spark, dir))

  /** a6's core on any (user_id, ts, event_type) relation (spec hook). */
  private[graft] def retentionOf(events: DataFrame): DataFrame = {
    val cohort = events
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(col("ts")).as("first_signup"))
      .withColumn("cohort_week", date_trunc("week", col("first_signup")).cast(DateType))
    events
      .select("user_id", "ts")
      .join(cohort, "user_id")
      .filter(col("ts") >= col("first_signup"))
      .select(col("cohort_week"),
        (datediff(date_trunc("week", col("ts")).cast(DateType), col("cohort_week"))
          .cast(LongType) / lit(7)).cast(IntegerType).as("week_offset"),
        col("user_id"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** a8: EVENT TRANSITION MATRIX — corpus-wide counts of consecutive
    * (prev_type → next_type) steps within each user's (ts, event_id)
    * ordered stream, with transition probabilities in ppm integers
    * (count·10⁶ div row-total — floor division, engine-exact; a float
    * ratio here would be the s8/a7 rounding-boundary trap all over
    * again). This is the session-flow / Markov-chain analysis behind
    * "what do users do after X" product questions.
    *
    * Scale shape: ONE user_id hash shuffle for the lag window (the same
    * partitioning p3/p7/p17 use), then a map-combined groupBy to
    * ≤ types² rows; the ppm normalization is a types-sized window over
    * that constant-size relation. */
  def a8EventTransitions(spark: SparkSession, dir: String): DataFrame =
    transitionsOf(Tables.events(spark, dir))

  /** a8's core on any (user_id, ts, event_id, event_type) relation
    * (spec hook). */
  private[graft] def transitionsOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm",
        expr("n * 1000000 div sum(n) over (partition by prev_type)"))
      .orderBy("prev_type", "next_type")
  }

  /** q32: arbitrary GROUPING SETS with grouping markers — the grouping
    * family's last member next to q10's ROLLUP and q23's CUBE: the set
    * list ((flag, status), (status)) is NOT expressible as either (a
    * status marginal beside the detail, no flag marginal, no grand
    * total), and the `grouping(col)` flags disambiguate a SUBTOTAL null
    * from a DATA null — the classic reporting bug when the grouping
    * column itself is nullable (q23's documented caveat, closed).
    *
    * Scale shape: same Expand-before-partial-agg as cube, ×2 here, and
    * the q23 pre-collapse trick applies verbatim if the set list ever
    * multiplies a big fact. */
  def q32GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast(IntegerType).as("g_flag"),
        grouping(col("l_linestatus")).cast(IntegerType).as("g_status"),
        count(lit(1)).as("n_items"),
        decSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("g_flag"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** a10: RFM SEGMENTATION — every purchasing user scored on Recency
    * (days since last purchase, against the corpus max day), Frequency
    * (purchase count) and Monetary (decimal-exact spend), each quartiled
    * with a TIE-SAFE total order (metric, then user_id — ntile over a
    * partial order is partition-dependent, the §4 trap), then rolled up
    * to segment sizes. The classic marketing-analytics operator.
    *
    * Scale shape: one user-level aggregation (map-combined), then ALL
    * THREE quartile assignments ride ONE distributed exact global rank
    * ([[graft.operators.RankOps.withGlobalRank]]: range shuffle +
    * per-partition row_number + broadcast offsets) over the
    * dimension-tagged 3n-row multiset — per-arm rank = global rank −
    * dim·n — with the ntile bucket recovered arithmetically from
    * (rank, n). No `Window` in this plan is unpartitioned — the naive
    * `ntile(4).over(Window.orderBy(...))` would funnel all |users| rows
    * (billions at 100 TB, even though orders of magnitude below the
    * fact) through ONE task's sort; this shape keeps every stage
    * parallel AND pays a single rank materialization instead of three
    * chained ones. The corpus max day and the user count broadcast
    * from 1-row aggs. */
  def a10Rfm(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RankOps
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
    val maxDay = purchases.agg(max(to_date(col("ts"))).as("max_day"))
    val perUser = purchases
      .groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        decSum(col("value")).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency_days", datediff(col("max_day"), col("last_day")))
      // materialize the user rollup once: the count and all three rank
      // passes read it, and the fact scan must not run four times
      .materialized()
    val nUsers = perUser.agg(count(lit(1)).as("_rfm_n"))
    // ONE fused rank pass instead of three sequential withGlobalRank
    // chains: tag each user row into three dimension arms (recency asc,
    // freq desc, monetary desc — descending arms negate the key; exact:
    // every key is far inside double's 2^53 integer range), rank the
    // 3n-row multiset by (dim, key, user_id), and recover each arm's
    // 1-based rank as global_rank − dim·n (each arm holds exactly n
    // rows). Same shuffle volume, but one range shuffle + two
    // materialization barriers instead of three of each, and no
    // sequential chain of rank jobs.
    val arms = perUser.select(col("user_id"), col("freq"),
        explode(array(
          struct(lit(0).as("dim"), col("recency_days").cast(DoubleType).as("k")),
          struct(lit(1).as("dim"), (-col("freq").cast(DoubleType)).as("k")),
          struct(lit(2).as("dim"), (-col("monetary")).as("k")))).as("b"))
      .select(col("user_id"), col("freq"), col("b.dim").as("dim"), col("b.k").as("k"))
    val ranked3 = RankOps.withGlobalRank(arms, "_grk",
      Seq(col("dim"), col("k"), col("user_id")))
    def quartile(rank: Column) =
      RankOps.ntileOfRank(rank, col("_rfm_n"), 4).cast(IntegerType)
    ranked3.crossJoin(broadcast(nUsers))
      .withColumn("_rk", col("_grk") - col("dim") * col("_rfm_n"))
      .withColumn("q", quartile(col("_rk")))
      .groupBy("user_id")
      .agg(max("freq").as("freq"),
        sum(when(col("dim") === 0, col("q") * 100)
          .when(col("dim") === 1, col("q") * 10)
          .otherwise(col("q"))).as("rfm_segment"))
      .groupBy("rfm_segment")
      .agg(count(lit(1)).as("n_users"),
        sum(col("freq")).as("total_purchases"))
      .orderBy("rfm_segment")
  }

  /** a9: CALENDAR-SPINE GAP FILL — the daily KPI series densified so
    * every (event_type, day) in the observed range exists, zero-filled
    * where no events landed and flagged `is_gap`. Downstream consumers
    * (dashboards, the a7 anomaly windows, forecasting) need a dense
    * series; a missing day silently shifts every ROWS-based window.
    *
    * Spark realization: the spine is types × explode(sequence(min_day,
    * max_day)) — the bounds come from ONE 1-row aggregate that
    * broadcasts, so the spine build is map-side; the observed rollup
    * left-joins onto it. Spine size = types × days (constant-ish),
    * so the join broadcasts the spine side or shuffles the tiny rollup
    * — either way nothing SF-proportional moves twice. */
  def a9GapFill(spark: SparkSession, dir: String): DataFrame =
    gapFillOf(Tables.events(spark, dir))

  /** a9's core on any (user_id, ts, event_type, value) relation (spec
    * hook — the driver testdata has no gaps, so the zero-fill branch is
    * proven on constructed input). */
  private[graft] def gapFillOf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("v"))
    val bounds = events.agg(
      min(to_date(col("ts"))).as("dmin"), max(to_date(col("ts"))).as("dmax"))
    val spine = events.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("dmin"), col("dmax"))).as("date"))
    spine.join(daily, Seq("event_type", "date"), "left")
      .select(col("event_type"), col("date"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("v"), lit(0.0)).as("total_value"),
        col("n").isNull.as("is_gap"))
      .orderBy("event_type", "date")
  }

  /** a7: KPI ANOMALY FLAGS — each (event_type, day)'s event count
    * compared against the trailing window of its previous 7 OBSERVED
    * days: `high` if n > 1.5 × trailing mean, `low` if n < 0.5 ×, with
    * a warm-up guard below 3 trailing days. The detection rule is
    * INTEGER-EXACT on purpose: n > 1.5·(sum7/cnt7) is evaluated as
    * 2·n·cnt7 > 3·sum7 (and the low side as 2·n·cnt7 < sum7) — no
    * float mean, no rounding boundary, identical verdicts in any
    * engine (the round-3 cross-engine lesson applied to monitoring,
    * where a flipped boundary IS a false page).
    *
    * Scale shape: the daily rollup is one map-combined groupBy
    * (days × types rows out, regardless of SF); the trailing window
    * sorts within each type's handful of days. Everything downstream
    * of the first agg is constant-size. */
  def a7KpiAnomaly(spark: SparkSession, dir: String): DataFrame =
    anomalyOf(Tables.events(spark, dir))

  /** a7's core on any (event_type, ts) relation (spec hook). */
  private[graft] def anomalyOf(events: DataFrame): DataFrame = {
    val trailing = Window.partitionBy("event_type").orderBy("date")
      .rowsBetween(-7, -1)
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n"))
      .withColumn("sum7", coalesce(sum("n").over(trailing), lit(0L)))
      .withColumn("cnt7", count("n").over(trailing))
      .withColumn("flag",
        when(col("cnt7") < 3, "warmup")
          .when(col("n") * 2 * col("cnt7") > col("sum7") * 3, "high")
          .when(col("n") * 2 * col("cnt7") < col("sum7"), "low")
          .otherwise("normal"))
      .orderBy("event_type", "date")
  }

  /** a14: EWMA FORECASTING — the predictive leg of the a7/a9 KPI
    * family: each (event_type, day) count forecast from its trailing 7
    * OBSERVED days (a7's windowing rule) under exponential weights
    * α = 1/2, entirely in int64 micro-units. The binary decay makes
    * the textbook transcendental exact: lag weights 2⁷⁻ᵏ (64…1) sum to
    * 127, so `forecast_micro = 10⁶·Σ(lagₖ·2⁷⁻ᵏ) div 127` is ONE floor
    * division — no float power, no rounding boundary, bit-identical
    * cross-engine (the §4 rule that keeps iterative numerics out of
    * half-up territory). Rows need 7 prior observed days (the warmup
    * carve, like a7's cnt7 < 3).
    *
    * Scale shape: one map-combined rollup to types×days rows, then 7
    * `lag`s in ONE partitioned window pass — constant-size after the
    * first aggregation, like the rest of the KPI family. */
  def a14EwmaForecast(spark: SparkSession, dir: String): DataFrame =
    ewmaOf(Tables.events(spark, dir))

  /** a14's core on any (event_type, ts) relation (spec hook). */
  private[graft] def ewmaOf(events: DataFrame): DataFrame =
    ewmaFoldOver(events
      .groupBy(col("event_type"), to_date(col("ts")).as("date"))
      .agg(count(lit(1)).as("n")))

  /** THE binary-weight fold over a (event_type, date, n) daily-count
    * relation — shared by batch a14 and the streaming p34 (which
    * accumulates the counts as stream state), so the two forecasts
    * cannot drift. */
  private[graft] def ewmaFoldOver(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("date")
    val withLags = (1 to 7).foldLeft(daily) {
      case (df, k) => df.withColumn(s"l$k", lag(col("n"), k).over(w))
    }
    withLags
      .filter(col("l7").isNotNull)
      .withColumn("forecast_micro", expr(
        "(1000000 * (l1*64 + l2*32 + l3*16 + l4*8 + l5*4 + l6*2 + l7)) div 127"))
      .withColumn("err_micro",
        abs(col("n") * 1000000L - col("forecast_micro")))
      .select("event_type", "date", "n", "forecast_micro", "err_micro")
      .orderBy("event_type", "date")
  }

  /** a13: LAST-TOUCH ATTRIBUTION — each purchase credited to the user's
    * most recent preceding marketing touch (click/view) within a 7-day
    * lookback, else 'direct'; conversions + decimal-exact revenue per
    * attributed channel. The marketing report the reference's KPI layer
    * stops short of.
    *
    * ONE user-partitioned window pass (a5's discipline): the ordered
    * carry `last(struct(ts, event_id, type)) IGNORE NULLS over rows
    * (unbounded, -1)` IS the argmax-(ts, event_id) preceding touch —
    * and since touches only age backward, "latest preceding is too
    * old" ⇒ every touch is too old, so checking the lookback on the
    * carried row alone is exact. The oracle runs the textbook
    * per-purchase self-join + argmax formulation, so the window
    * rewrite's equivalence is itself oracle-checked. Ordering is
    * (ts, event_id) lexicographic — same-timestamp events resolve
    * identically in both engines. One shuffle on user_id, then a
    * map-combined 3-row rollup. */
  def a13Attribution(spark: SparkSession, dir: String): DataFrame =
    attributionOf(Tables.events(spark, dir))

  /** a15's conversion threshold: a user "converts" on an event type
    * when they log at least this many events of it. Picked at the
    * testdata's per-(user, type) mean (~13.3 — SF-invariant: event
    * volume and user count scale together), so both variants land a
    * non-degenerate conversion rate at every SF. The operator is
    * generic over any user-level boolean; a production run swaps this
    * activity threshold for its own conversion predicate. */
  val AbConvThreshold = 14L

  /** a15's significance line: χ²(1 dof) at p = 0.05, in ppm
    * (3.841459·10⁶). Compared against the exact z2_ppm integer, so the
    * verdict is bit-deterministic in both engines. */
  val AbSigZ2Ppm = 3841459L

  /** a15: A/B CONVERSION LIFT + SIGNIFICANCE — the experimentation
    * readout every product pipeline bolts onto its KPI layer: users
    * split into two deterministic variants (user_id parity — the
    * hash-assignment every A/B system uses), per event type the
    * conversion counts, the relative lift of A over B, and the
    * two-proportion z-test verdict. The entire test statistic stays
    * EXACT INTEGER arithmetic: with diff = conv_a·n_b − conv_b·n_a,
    * pooled p̂ = C/N, the classic z² = (p_a−p_b)²/(p̂(1−p̂)(1/n_a+1/n_b))
    * collapses to z² = diff²·N / (n_a·n_b·C·(N−C)) — one floor
    * division in ppm, no floats, so lift, z² and the verdict are
    * bit-identical in the oracle (which recomputes from first
    * principles in HUGEINT).
    *
    * Overflow bound (documented like a11's): the z² numerator
    * 10⁶·diff²·N runs through DECIMAL(38,0)/HUGEINT — exact while
    * N⁵·10⁶/16 < 10³⁸, i.e. to ~10⁶ distinct users at worst-case
    * imbalance (far more at realistic diff); past that, test on a
    * deterministic user sample (s3's stratified carve).
    *
    * Scale shape: one map-combined groupBy to (type, user, variant)
    * cells, one rollup to |types| rows, population counts as a 1-row
    * broadcast — the same profile as a5's funnel. */
  def a15AbLift(spark: SparkSession, dir: String): DataFrame =
    abLiftOf(Tables.events(spark, dir))

  /** a16: COHORT LTV — the money companion to a6's retention triangle:
    * users cohorted by their FIRST active day, then for every
    * (cohort_day, age_day) cell the active-user count, the day's
    * purchase revenue, and the cohort's CUMULATIVE revenue — the
    * lifetime-value curve every growth team reads next to retention.
    * Revenue stays exact: per-cell sums and the running total both
    * accumulate in DECIMAL(18,6) and cast to double only at
    * presentation (decSum's discipline applied through the window),
    * so the cumulative column cannot drift between engines.
    *
    * Scale shape: one user_id shuffle shared by the cohort derivation
    * and the join (the groupBy's partitioning is reused), one
    * map-combined rollup to cohorts × ages cells, and the running sum
    * is a window PARTITIONED by cohort over that dimension-scale
    * table — no global window, no fact-scale state. */
  def a16CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(graft.pipeline.TripPipeline.validCond)
      .withColumn("date", to_date(col("ts")))
    val cohort = ev.groupBy("user_id").agg(min("date").as("cohort_day"))
    val zero = lit(0).cast(DecimalType(18, 6))
    val daily = ev.join(cohort, "user_id")
      .withColumn("age_day", datediff(col("date"), col("cohort_day")).cast(LongType))
      .groupBy("cohort_day", "age_day")
      .agg(countDistinct("user_id").as("n_active"),
        sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 6))).otherwise(zero)).as("rev_dec"))
    val w = Window.partitionBy("cohort_day").orderBy("age_day")
    daily
      .withColumn("revenue", col("rev_dec").cast(DoubleType))
      .withColumn("cum_revenue", sum("rev_dec").over(w).cast(DoubleType))
      .select("cohort_day", "age_day", "n_active", "revenue", "cum_revenue")
      .orderBy("cohort_day", "age_day")
  }

  /** a17: CONVERSION-PATH MINING — the top event paths leading to a
    * purchase: for every purchase, the user's preceding ≤ 3 events (in
    * (ts, event_id) order — the a13 total order) concatenated to a
    * path string, counted and ranked. The "which journeys convert"
    * table next to a5's fixed funnel (a5 asks "how far along ONE
    * path"; this asks "WHICH paths"). Early-session purchases with
    * fewer than 3 predecessors yield their shorter true path
    * (concat_ws skips the null lags identically in both engines);
    * first-touch purchases report '(direct)'.
    *
    * Scale shape: ONE user_id-partitioned window pass (three lags
    * share the sort), then a map-combined path groupBy and a
    * TakeOrderedAndProject top-k under the total (count desc, path)
    * order — a5/a13's profile exactly. */
  def a17ConversionPaths(spark: SparkSession, dir: String): DataFrame =
    conversionPathsOf(Tables.events(spark, dir))

  /** a17's core on any events relation (spec hook). */
  private[graft] def conversionPathsOf(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("l1", lag(col("event_type"), 1).over(w))
      .withColumn("l2", lag(col("event_type"), 2).over(w))
      .withColumn("l3", lag(col("event_type"), 3).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("path0", concat_ws(">", col("l3"), col("l2"), col("l1")))
      .withColumn("path",
        when(col("path0") === "", lit("(direct)")).otherwise(col("path0")))
      .groupBy("path").agg(count(lit(1)).as("n_conv"))
      .orderBy(col("n_conv").desc, col("path")).limit(k)
  }

  /** a15's core on any (user_id, event_type) relation (spec hook). */
  private[graft] def abLiftOf(events: DataFrame): DataFrame = {
    val base = events.filter(col("user_id").isNotNull)
      .withColumn("va", col("user_id") % 2 === 0)
    val pop = base.groupBy().agg(
      countDistinct(when(col("va"), col("user_id"))).as("n_a"),
      countDistinct(when(!col("va"), col("user_id"))).as("n_b"))
    val conv = base.groupBy("event_type", "user_id", "va")
      .agg(count(lit(1)).as("n_ev"))
      .filter(col("n_ev") >= AbConvThreshold)
      .groupBy("event_type")
      .agg(sum(when(col("va"), 1L).otherwise(0L)).as("conv_a"),
        sum(when(!col("va"), 1L).otherwise(0L)).as("conv_b"))
    conv.crossJoin(broadcast(pop))
      .withColumn("diff", col("conv_a") * col("n_b") - col("conv_b") * col("n_a"))
      .withColumn("cc", col("conv_a") + col("conv_b"))
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn("lift_ppm", when(col("conv_b") > 0,
        when(col("diff") >= 0, 1L).otherwise(-1L) *
          expr("(1000000 * CAST(abs(diff) AS DECIMAL(38,0))) div (CAST(conv_b AS DECIMAL(38,0)) * n_a)")))
      .withColumn("z2_ppm", when(col("cc") > 0 && col("cc") < col("nn"),
        expr("""(1000000 * CAST(diff AS DECIMAL(38,0)) * CAST(diff AS DECIMAL(38,0)) * nn)
                div (CAST(n_a AS DECIMAL(38,0)) * n_b * cc * (nn - cc))""")))
      .withColumn("significant", when(col("z2_ppm").isNotNull,
        col("z2_ppm") >= AbSigZ2Ppm))
      .select("event_type", "n_a", "conv_a", "n_b", "conv_b",
        "lift_ppm", "z2_ppm", "significant")
      .orderBy("event_type")
  }

  /** a13's core on any events relation — separate so specs can drive
    * constructed touch/purchase sequences through the exact plan. */
  private[graft] def attributionOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("ts"), col("event_id"), col("event_type")))
    events
      .select("user_id", "ts", "event_id", "event_type", "value")
      .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed_type",
        when(col("lt").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("lt.ts")) <= 604800000000L,
          col("lt.event_type")).otherwise("direct"))
      .groupBy("attributed_type")
      .agg(count(lit(1)).as("n_conv"), decSum(col("value")).as("revenue"))
      .orderBy("attributed_type")
  }
}
