package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational breadth catalog (SURVEY.md §2.3): the judge-checklist
  * categories the reference lacks, provided over the driver testdata.
  *
  * Oracle-parity engineering rules used throughout (see check_oracle):
  *   - aggregate doubles are `round()`ed AFTER aggregation (Spark and
  *     DuckDB may sum in different FP orders; rounding absorbs the ulps);
  *     raw column pass-throughs stay unrounded (bit-identical anyway)
  *   - every integer output is cast to BIGINT on both sides (DuckDB
  *     `count`/`len`/`year` return BIGINT, `sum(int)` returns HUGEINT)
  *   - rankings order by raw parquet doubles (never computed doubles)
  *     with a key tie-break, so ranks are engine-independent
  *
  * Scale notes: dimension joins (`region`, `nation`, `supplier`,
  * `customer`) are explicitly `broadcast()` — at 100 TB the fact tables
  * shuffle once at most, on their join key; window queries partition by
  * high-cardinality keys (custkey/user_id), so state per partition group
  * stays small.
  */
object RelQueries extends graft.Catalog {

  private def ts(s: String): Column = to_timestamp(lit(s))

  /** Exact sum over values on a fixed decimal grid (all money columns in
    * the testdata are exact 2-decimal values): scale each term to its
    * integer grid, round away the ≤2-ulp FP noise of the product, sum as
    * BIGINT (exact and order-independent), rescale to double. This makes
    * the aggregate bit-identical between Spark and DuckDB regardless of
    * summation order — plain double sums differ in the last ulps and flip
    * `round()` at decimal boundaries. At a true 100 TB scale the BIGINT
    * headroom (9.2e18) still fits sums of ~1e10 rows at scale 1e6; beyond
    * that, swap in DECIMAL(38,0).
    */
  /** A value snapped to its integer decimal grid (e.g. cents). */
  def gridScale(e: Column, scale: Long): Column =
    round(e * scale, 0).cast("long")

  def exactSum(e: Column, scale: Long): Column =
    sum(gridScale(e, scale)).cast("double") / scale

  /** TPC-H Q1 analog: full-scan partial+final hash aggregate. */
  def q1Pricing(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .filter($"l_shipdate" <= ts("2000-09-02"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        exactSum($"l_quantity", 100L).as("sum_qty"),
        exactSum($"l_extendedprice", 100L).as("sum_base_price"),
        exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("sum_disc_price"),
        exactSum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax"), 1000000L).as("sum_charge"),
        (exactSum($"l_quantity", 100L) / count(lit(1))).as("avg_qty"),
        (exactSum($"l_extendedprice", 100L) / count(lit(1))).as("avg_price"),
        (exactSum($"l_discount", 100L) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q3 analog: fact-fact join on orderkey + broadcast customer. */
  def q3Shipping(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).filter($"c_mktsegment" === "BUILDING")
    val o = Tables.orders(spark, d).filter($"o_orderdate" < ts("1998-03-15"))
    val l = Tables.lineitem(spark, d).filter($"l_shipdate" > ts("1998-03-15"))
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("revenue"))
  }

  /** TPC-H Q5 analog: 6-way join, all dimensions broadcast. */
  def q5RegionRevenue(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val r = Tables.region(spark, d).filter($"r_name" === "ASIA")
    val n = Tables.nation(spark, d)
    val s = Tables.supplier(spark, d)
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d)
      .filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1997-01-01"))
    val l = Tables.lineitem(spark, d)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey" && $"s_nationkey" === $"c_nationkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("revenue"))
  }

  /** TPC-H Q6 analog: pure scan-aggregate whose filters ALL push to the
    * parquet reader — the pushdown showcase (one output row).
    */
  def q6Forecast(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1997-01-01") &&
        $"l_discount" >= 0.02 && $"l_discount" <= 0.04 && $"l_quantity" < 24)
      .agg(exactSum($"l_extendedprice" * $"l_discount", 10000L).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q10 analog: top-20 customers by revenue from returned items —
    * fact-fact join + broadcast dims + deterministic TakeOrdered cut.
    */
  def q10Returns(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, d).filter($"l_returnflag" === "R")
    val o = Tables.orders(spark, d)
      .filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1996-07-01"))
    val c = Tables.customer(spark, d)
    val n = Tables.nation(spark, d)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  /** TPC-H Q18 analog: large-volume orders (HAVING over a fact aggregate,
    * then a semi-join back to enrich) — the aggregate-filter-join shape.
    */
  def q18LargeOrders(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, d)
      .groupBy($"l_orderkey")
      .agg(exactSum($"l_quantity", 100L).as("total_qty"))
      .filter($"total_qty" > 300) // HAVING
    Tables.orders(spark, d)
      .join(big, $"o_orderkey" === $"l_orderkey")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice", $"total_qty")
  }

  /** TPC-H Q12 analog: per-priority-class line counts by ship mode —
    * fact-fact join + conditional aggregation.
    */
  def q12Shipmode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1997-01-01"))
    Tables.orders(spark, d)
      .join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_linestatus")
      .agg(
        count_if($"o_orderpriority".isin("1-URGENT", "2-HIGH")).as("high_line_count"),
        count_if(!$"o_orderpriority".isin("1-URGENT", "2-HIGH")).as("low_line_count"))
  }

  /** TPC-H Q14 analog: promo revenue share — a ratio of two exact
    * grid sums over one filtered scan joined to a broadcast dimension.
    */
  def q14Promo(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= ts("1996-03-01") && $"l_shipdate" < ts("1996-04-01"))
    val p = Tables.part(spark, d)
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .agg(
        (exactSum(when($"p_type".startsWith("PROMO"),
          $"l_extendedprice" * (lit(1) - $"l_discount")).otherwise(0.0), 10000L) * 100 /
          exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L))
          .as("promo_pct"))
  }

  /** TPC-H Q15 analog: the supplier(s) achieving the maximum quarterly
    * revenue — argmax over an aggregate via a one-row broadcast of
    * max(revenue) joined back on EQUALITY. Safe only because revenue is
    * an exact-grid sum (doubles on the cents grid compare exactly);
    * with FP sums this pattern needs an epsilon or a rank instead.
    */
  def q15TopSupplier(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("total_rev"))
    val maxRev = rev.agg(max($"total_rev").as("mr"))
    rev.join(broadcast(maxRev), $"total_rev" === $"mr")
      .join(broadcast(Tables.supplier(spark, d)), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_rev")
  }

  /** Left-semi join: customers with at least one order (EXISTS). */
  def joinSemi(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, d)
      .join(Tables.orders(spark, d), $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
  }

  /** Left-anti join: customers with no order above 300k (NOT EXISTS). */
  def joinAnti(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bigOrders = Tables.orders(spark, d).filter($"o_totalprice" > 300000)
    Tables.customer(spark, d)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  /** Top-3 orders per customer; rank over raw doubles + key tie-break. */
  def topkOrders(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
  }

  /** Running total per customer (window frame UNBOUNDED..CURRENT). */
  def runningTotal(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, d)
      .withColumn("cents", gridScale($"o_totalprice", 100L))
      .select($"o_custkey", $"o_orderkey",
        (sum($"cents").over(w).cast("double") / 100).as("running"))
  }

  /** lag(): per-user delta of event values. */
  def lagDelta(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, d)
      .select($"event_id", $"user_id",
        round(coalesce($"value" - lag($"value", 1).over(w), lit(0.0)), 6).as("delta"))
  }

  /** Sessionization: new session when gap > 30 min (exact interval
    * arithmetic on both engines — no epoch truncation).
    */
  def sessionize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag($"ts", 1).over(w)
    Tables.events(spark, d)
      .withColumn("new_sess",
        when(prev.isNull || ($"ts" - prev > expr("INTERVAL '30' MINUTE")), 1L).otherwise(0L))
      .select($"event_id", $"user_id", sum($"new_sess").over(cum).as("session_id"))
  }

  /** INTERSECT (distinct set semantics on both engines). */
  def setIntersect(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val building = Tables.customer(spark, d)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val bigSpenders = Tables.orders(spark, d)
      .filter($"o_totalprice" > 200000).select($"o_custkey".as("c_custkey"))
    building.intersect(bigSpenders)
  }

  /** EXCEPT (distinct set semantics on both engines). */
  def setExcept(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val building = Tables.customer(spark, d)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val bigSpenders = Tables.orders(spark, d)
      .filter($"o_totalprice" > 300000).select($"o_custkey".as("c_custkey"))
    building.except(bigSpenders)
  }

  /** ROLLUP grouping sets. */
  def rollupSales(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(exactSum($"l_quantity", 100L).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("rflag"),
        coalesce($"l_linestatus", lit("ALL")).as("lstatus"),
        $"sum_qty", $"n")
  }

  /** Scalar function library sweep: string/date/math on one projection. */
  def scalarFuncs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, d).select(
      $"o_orderkey",
      year($"o_orderdate").cast("long").as("yr"),
      month($"o_orderdate").cast("long").as("mon"),
      date_trunc("month", $"o_orderdate").as("month_start"),
      lower($"o_orderstatus").as("status_lower"),
      substring($"o_orderpriority", 1, 1).as("prio_code"),
      length($"o_orderpriority").cast("long").as("prio_len"),
      concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("status_prio"),
      (round($"o_totalprice" * 107, 0) / 100).as("taxed"),
      floor($"o_totalprice" / 50000).cast("long").as("price_bucket"),
      ($"o_orderkey" % 7).as("key_mod"))
  }

  /** JSON extraction from the events props column. */
  def jsonExtract(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d).select(
      $"event_id",
      get_json_object($"props", "$.k").cast("long").as("k"))
  }

  /** Distinct + plain aggregates per segment. */
  def aggDistinct(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, d)
      .groupBy($"c_mktsegment")
      .agg(
        countDistinct($"c_nationkey").as("n_nations"),
        count(lit(1)).as("n_cust"),
        exactSum($"c_acctbal", 100L).as("sum_bal"),
        (exactSum($"c_acctbal", 100L) / count(lit(1))).as("avg_bal"),
        min($"c_acctbal").as("min_bal"),
        max($"c_acctbal").as("max_bal"))
  }

  /** HLL approximate distinct — engine-specific sketch, no DuckDB oracle
    * (rows-only check); the scalable alternative to exact countDistinct.
    */
  def approxDistinct(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"),
        approx_count_distinct($"l_orderkey").as("approx_orders"))
  }

  /** As-of join by composition (SURVEY §2.3 joins row): for each purchase
    * event, the most recent prior-or-same click by the same user — a
    * running conditional max over the event stream, no join at all (the
    * preferred Spark shape when both sides share a partition key; a
    * custom SparkPlan is unnecessary).
    */
  def asofPurchaseClick(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, d)
      .withColumn("last_click_ts",
        max(when($"event_type" === "click", $"ts")).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"last_click_ts")
  }

  /** CUBE grouping sets over lineitem flags. */
  def cubeSales(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(exactSum($"l_quantity", 100L).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("rflag"),
        coalesce($"l_linestatus", lit("ALL")).as("lstatus"),
        $"sum_qty", $"n")
  }

  /** rank / dense_rank / ntile in one pass (deterministic: the ordering
    * key (o_totalprice, o_orderkey) is a total order).
    */
  def windowRanks(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderstatus").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, d).select(
      $"o_orderkey", $"o_orderstatus",
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      ntile(4).over(w).cast("long").as("quartile"))
  }

  /** Pivot event counts per user (explicit value list so the output
    * schema is static; the oracle uses conditional aggregation).
    */
  def pivotEvents(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof_purchase_click" -> (asofPurchaseClick _),
    "cube_sales" -> (cubeSales _),
    "window_ranks" -> (windowRanks _),
    "pivot_events" -> (pivotEvents _),
    "q1_pricing" -> (q1Pricing _),
    "q3_shipping" -> (q3Shipping _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q6_forecast" -> (q6Forecast _),
    "q10_returns" -> (q10Returns _),
    "q12_shipmode" -> (q12Shipmode _),
    "q14_promo" -> (q14Promo _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q18_large_orders" -> (q18LargeOrders _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "topk_orders" -> (topkOrders _),
    "window_running_total" -> (runningTotal _),
    "window_lag_delta" -> (lagDelta _),
    "sessionize" -> (sessionize _),
    "set_intersect" -> (setIntersect _),
    "set_except" -> (setExcept _),
    "rollup_sales" -> (rollupSales _),
    "scalar_funcs" -> (scalarFuncs _),
    "json_extract" -> (jsonExtract _),
    "agg_distinct" -> (aggDistinct _),
    "approx_distinct" -> (approxDistinct _))

  override val noOracle: Map[String, String] = Map(
    "approx_distinct" -> ("HLL++ sketch estimate: DuckDB's approx_count_distinct " +
      "is a different sketch; hll_dataflow_distinct is the oracled twin"))

  val oracles: Map[String, String] = Map(
    "asof_purchase_click" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, last_click_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        |  FROM events) t
        |WHERE event_type = 'purchase'""".stripMargin,
    "cube_sales" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "window_ranks" ->
      """SELECT o_orderkey, o_orderstatus,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "pivot_events" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS DOUBLE)/10000 AS sum_disc_price,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*1000000,0) AS BIGINT)) AS DOUBLE)/1000000 AS sum_charge,
        |  CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100/count(*) AS avg_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100/count(*) AS avg_price,
        |  CAST(sum(CAST(round(l_discount*100,0) AS BIGINT)) AS DOUBLE)/100/count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS DOUBLE)/10000 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS DOUBLE)/10000 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q6_forecast" ->
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice*l_discount*10000,0) AS BIGINT)) AS DOUBLE)/10000 AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name, revenue FROM (
        |  SELECT c_custkey, c_name, n_name,
        |    CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS DOUBLE)/10000 AS revenue
        |  FROM lineitem, orders, customer, nation
        |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n_nationkey AND l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  GROUP BY c_custkey, c_name, n_name) t
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q12_shipmode" ->
      """SELECT l_linestatus,
        |  CAST(count(*) FILTER (o_orderpriority IN ('1-URGENT','2-HIGH')) AS BIGINT)
        |    AS high_line_count,
        |  CAST(count(*) FILTER (o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS BIGINT)
        |    AS low_line_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS DOUBLE)
        |           / 10000 AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,
    "q14_promo" ->
      """SELECT
        |  CAST(sum(CAST(round(CASE WHEN p_type LIKE 'PROMO%'
        |        THEN l_extendedprice*(1-l_discount) ELSE 0.0 END*10000,0) AS BIGINT))
        |    AS DOUBLE)/10000 * 100 /
        |  (CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT))
        |    AS DOUBLE)/10000) AS promo_pct
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin,
    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, total_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100 AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100 > 300) b
        |  ON o_orderkey = b.l_orderkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "topk_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3""".stripMargin,
    "window_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100 AS running
        |FROM orders""".stripMargin,
    "window_lag_delta" ->
      """SELECT event_id, user_id,
        |  round(coalesce(value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id), 0.0), 6) + 0.0 AS delta
        |FROM events""".stripMargin,
    "sessionize" ->
      """SELECT event_id, user_id,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events) t""".stripMargin,
    "set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000""".stripMargin,
    "set_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000""".stripMargin,
    "rollup_sales" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "scalar_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mon,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  lower(o_orderstatus) AS status_lower,
        |  substring(o_orderpriority, 1, 1) AS prio_code,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        |  o_orderstatus || '-' || o_orderpriority AS status_prio,
        |  round(o_totalprice * 107, 0) / 100 AS taxed,
        |  CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bucket,
        |  o_orderkey % 7 AS key_mod
        |FROM orders""".stripMargin,
    "json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "agg_distinct" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_bal,
        |  CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS DOUBLE)/100/count(*) AS avg_bal,
        |  min(c_acctbal) AS min_bal,
        |  max(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin)
}
