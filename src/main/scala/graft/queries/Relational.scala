package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import T._

/** Relational operator coverage (SURVEY.md §2.2/2.3/2.6/2.7/2.8) expressed
  * as declarative DataFrame plans: scans with pushdown, broadcast joins for
  * small dims, hash aggregation with partial (map-side) combine, window
  * sessionization, rollup, and set operations. Every query is paired with a
  * DuckDB oracle in SparkEntry.oracleSql.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: single scan, hash agg with map-side
    * partial aggregation; decimal-exact sums.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dbl(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Top customers by order revenue: broadcast the 15k-row customer dim into
    * the orders fact (no shuffle of the fact for the join at scale).
    */
  def q02TopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val c = load(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(10)
  }

  /** Segment revenue (TPC-H Q3 shape): filter pushdown on both sides of a
    * broadcast join chain, then top-k.
    */
  def q03SegmentRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val o = load(spark, dir, "orders")
    val c = load(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dbl(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))))
        .as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** Order-priority count with an EXISTS (left-semi join) on big lineitems. */
  def q04OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val big = load(spark, dir, "lineitem").filter(col("l_quantity") > 45)
      .select(col("l_orderkey")).distinct()
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Nation revenue through the full dim chain (TPC-H Q5 shape); all dims
    * broadcast, single shuffle for the final aggregation.
    */
  def q05NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val s = load(spark, dir, "supplier")
    val n = load(spark, dir, "nation")
    val r = load(spark, dir, "region")
    li.join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dbl(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))))
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Forecast revenue (TPC-H Q6): pure scan + pushed filters + one agg row. */
  def q06Forecast(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    li.filter(
      col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        dbl(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  /** Returned items by customer (TPC-H Q10 shape). */
  def q07ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = load(spark, dir, "orders")
    val c = load(spark, dir, "customer")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(dbl(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))))
        .as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** Brand stats over a part-lineitem broadcast join. */
  def q08BrandStats(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val p = load(spark, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_items"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy("p_brand")
  }

  /** Running quantity per supplier — window function with a unique ordering
    * key so results are deterministic under any partitioning.
    */
  def q10WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem").filter(col("l_suppkey") <= 3)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      dbl(sum(dec(col("l_quantity"))).over(w)).as("running_qty"))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
      .drop("l_shipdate")
  }

  /** Top-3 orders per customer by price — ranked window + filter. */
  def q11WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        dbl(dec(col("o_totalprice"))).as("price"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** Rollup on (returnflag, linestatus) — hierarchical totals. */
  def q12Rollup(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** Customers with no pending orders — anti join (NOT EXISTS). */
  def q13AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
    val o = load(spark, dir, "orders").filter(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Segment counts of customers having a finished order — semi join. */
  def q14SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer")
    val o = load(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  /** Nations present in both the customer and supplier bases — INTERSECT. */
  def q15SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
    val s = load(spark, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey"))
    c.intersect(s).orderBy("nationkey")
  }

  /** Event sessionization: 30-minute-gap sessions per user via lag + running
    * sum — the reference's segment-run detection shape
    * (src/agents/splitter.py:290-332, SURVEY.md §2.4).
    */
  def q16Sessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Hourly event rollup — batch twin of the streaming query s01. */
  def q17EventsHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** JSON property extraction from the events props column. */
  def q18EventsJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n"))
      .orderBy("event_type")
  }

  /** GROUPING SETS over (flag, status), (flag), (): one shuffle, the expand
    * happens map-side before partial aggregation.
    */
  def q19GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first,
        col("n"))
  }

  /** As-of join: each purchase event matched to the user's latest view event
    * at-or-before its timestamp. Implemented shuffle-lean as a tagged union +
    * one window pass (ONE shuffle on user_id, no non-equi join): within each
    * user's timeline, `last(view_id, ignoreNulls)` over rows-unbounded-
    * preceding IS the as-of match; view rows sort before purchase rows on
    * timestamp ties so the match is inclusive, mirroring ASOF JOIN's
    * `p.ts >= v.ts`.
    */
  def q20AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("src"),
        col("event_id").as("v_id"), col("value").as("v_value"),
        lit(null).cast("long").as("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("src"),
        lit(null).cast("long").as("v_id"), lit(null).cast("double").as("v_value"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("view_event_id", last(col("v_id"), ignoreNulls = true).over(w))
      .withColumn("view_value", last(col("v_value"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("user_id"), col("event_id"), col("view_event_id"), col("view_value"))
      .orderBy("user_id", "event_id")
  }

  /** Range (interval) join: signups joined to the same user's events in the
    * following hour. Equi-key on user_id keeps it a hash join with the range
    * predicate as a post-join filter — no O(n^2) cross product at scale.
    */
  def q21RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    // both sides are `events`: aliased, so each key names its own side
    val signups = ev.filter(col("event_type") === "signup").as("s")
    signups.join(ev.as("o"),
        col("s.user_id") === col("o.user_id") &&
          col("o.ts") > col("s.ts") &&
          col("o.ts") <= col("s.ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("s.user_id").as("user_id"), col("s.event_id").as("signup_id"))
      .agg(count(lit(1)).as("n_following"), min(col("o.event_id")).as("first_event_id"))
      .orderBy("user_id", "signup_id")
  }
}
