package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import RelQueries.{exactSum, gridScale}

/** Second TPC-H analog wave — the remaining canonical query shapes,
  * adapted to the driver testdata schema (no partsupp/commitdate/phone
  * columns, so each keeps the SHAPE of its namesake over the columns
  * that exist). Together with [[RelQueries]] this covers the classic
  * decision-support patterns: correlated EXISTS aggregation (q4),
  * nation-pair volume (q7), market-share ratio (q8), multi-dimension
  * profit rollup (q9), group-share threshold vs a global aggregate
  * (q11), outer-join histogram (q13), correlated per-group average
  * (q17), disjunctive multi-predicate join (q19), and anti-join +
  * scalar-subquery filter (q22).
  *
  * Scale notes follow the house rules: dimensions broadcast, facts
  * shuffle at most once on their join key, global scalars (total
  * revenue, average balance) are one-row broadcasts, and every money
  * aggregate is an exact-grid sum ([[RelQueries.exactSum]]) so
  * cross-engine comparison — and the q11/q17/q22 threshold comparisons
  * AGAINST those aggregates — are bit-exact.
  *
  * Reference basis: the reference engine has no join/agg surface at all
  * (SURVEY.md §2.3; mr/worker.go:128-148 is a per-key fold) — this file
  * is part of the §2.3 relational-breadth mandate.
  */
object TpchMore extends graft.Catalog {

  private def ts(s: String): Column = to_timestamp(lit(s))

  /** TPC-H Q4 analog: order-priority checking. Count 1996-H1 orders per
    * priority that had at least one LATE line (shipped after the order
    * date + 60 days) — correlated EXISTS compiled to a left-semi join
    * with a non-equi conjunct; the fact-fact semi join shuffles both
    * sides once on orderkey.
    */
  def q4PriorityLate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, d)
      .filter($"o_orderdate" >= ts("1996-01-01") && $"o_orderdate" < ts("1996-07-01"))
    val l = Tables.lineitem(spark, d)
    o.join(l,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL '60' DAY"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q7 analog: volume shipping between a nation pair (supplier
    * nation ↔ customer nation, both directions), by ship year. Both
    * nation sides resolve through broadcast dims; lineitem and orders
    * shuffle once on orderkey.
    */
  def q7NationVolume(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.nation(spark, d)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(spark, d)
      .select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
    Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= ts("1996-01-01") && $"l_shipdate" < ts("1998-01-01"))
      .join(Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n1), $"s_nationkey" === $"s_nk")
      .join(broadcast(n2), $"c_nationkey" === $"c_nk")
      .filter(
        ($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
          ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("revenue"))
  }

  /** TPC-H Q8 analog: national market share — the fraction of ASIA-region
    * ECONOMY-part revenue supplied by NATION_3, per order year. The share
    * is a ratio of two conditional exact-grid sums out of ONE aggregate
    * pass (no self-join of the aggregate).
    */
  def q8MarketShare(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val asiaNations = Tables.nation(spark, d)
      .join(broadcast(Tables.region(spark, d).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey".as("c_nk"))
    val suppNation = Tables.nation(spark, d)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    Tables.lineitem(spark, d)
      .join(broadcast(Tables.part(spark, d).filter($"p_type" === "ECONOMY")),
        $"l_partkey" === $"p_partkey")
      .join(Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(asiaNations), $"c_nationkey" === $"c_nk")
      .join(broadcast(Tables.supplier(spark, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(suppNation), $"s_nationkey" === $"s_nk")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        (exactSum(when($"supp_nation" === "NATION_3",
          $"l_extendedprice" * (lit(1) - $"l_discount")).otherwise(0.0), 10000L) /
          exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L))
          .as("mkt_share"))
  }

  /** TPC-H Q9 analog: product-type profit by supplier nation and order
    * year. Profit = revenue − retail cost of the quantity; both terms
    * live on the same 1e-4 grid, so the difference sums exactly.
    */
  def q9Profit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val n = Tables.nation(spark, d)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("nation"))
    Tables.lineitem(spark, d)
      .join(broadcast(Tables.part(spark, d).filter($"p_type" === "STANDARD")),
        $"l_partkey" === $"p_partkey")
      .join(Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(spark, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n), $"s_nationkey" === $"s_nk")
      .groupBy($"nation", year($"o_orderdate").cast("long").as("o_year"))
      .agg(exactSum(
        $"l_extendedprice" * (lit(1) - $"l_discount") -
          $"p_retailprice" * $"l_quantity", 10000L).as("profit"))
  }

  /** TPC-H Q11 analog: parts whose revenue exceeds a fixed fraction of
    * TOTAL revenue. The global total is a one-row broadcast joined back
    * with a cross join — the aggregate-vs-its-own-total shape. The
    * threshold compare is exact: both sides divide the same grid sums.
    */
  def q11ImportantParts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, d)
      .groupBy($"l_partkey")
      .agg(exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("part_rev"))
    val total = rev.agg(exactSum($"part_rev", 10000L).as("total_rev"))
    rev.join(broadcast(total))
      .filter($"part_rev" > $"total_rev" * 0.0008)
      .select($"l_partkey", $"part_rev")
  }

  /** TPC-H Q13 analog: distribution of customers by order count — the
    * outer-join histogram (two stacked aggregates; the first shuffles on
    * custkey, the second on the tiny count domain).
    */
  def q13OrderCounts(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.customer(spark, d)
      .join(Tables.orders(spark, d)
          .filter($"o_orderpriority" =!= "1-URGENT"),
        $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count")) // count skips outer-null keys
    perCust.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q17 analog: small-quantity-order revenue — lineitems of
    * Brand#13 parts whose quantity is below HALF the part's average
    * quantity. The per-part average is an exact ratio (grid sum / count),
    * computed in one aggregate and broadcast back to the brand-filtered
    * fact slice; the final scalar is the canonical sum/7.
    */
  def q17SmallQty(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val brandLines = Tables.lineitem(spark, d)
      .join(broadcast(Tables.part(spark, d).filter($"p_brand" === "Brand#13")),
        $"l_partkey" === $"p_partkey")
    val avgQty = brandLines
      .groupBy($"l_partkey".as("ap_partkey"))
      .agg((exactSum($"l_quantity", 100L) / count(lit(1))).as("avg_qty"))
    brandLines
      .join(broadcast(avgQty), $"l_partkey" === $"ap_partkey")
      .filter($"l_quantity" < $"avg_qty" * 0.5)
      .agg((exactSum($"l_extendedprice", 100L) / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q19 analog: disjunctive multi-predicate join (three
    * brand/size/quantity bands OR-ed together). Catalyst pushes the
    * disjunction's part-side conjuncts into the broadcast build side and
    * the lineitem-side bands into the parquet scan.
    */
  def q19Disjunctive(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .join(broadcast(Tables.part(spark, d)), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 11)) ||
          ($"p_brand" === "Brand#18" && $"p_size".between(1, 25) &&
            $"l_quantity".between(10, 20)) ||
          ($"p_brand" === "Brand#23" && $"p_size".between(1, 35) &&
            $"l_quantity".between(20, 30)))
      .agg(
        exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q22 analog: wealthy inactive customers — balance above the
    * average positive balance (scalar subquery, one-row broadcast) and no
    * order above 250k (anti join), grouped by nation. Every customer here
    * HAS orders, so inactivity is "no large order" — same anti-join
    * shape as the original's "no order at all".
    */
  def q22WealthyInactive(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d)
    val avgBal = c.filter($"c_acctbal" > 0)
      .agg((exactSum($"c_acctbal", 100L) / count(lit(1))).as("avg_bal"))
    val bigOrders = Tables.orders(spark, d).filter($"o_totalprice" > 250000)
    c.join(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("numcust"), exactSum($"c_acctbal", 100L).as("totacctbal"))
  }

  /** TPC-H Q21 analog: suppliers who kept waiting — the top 20 suppliers
    * (by count of late lines, name tie-break) whose late lines sit in
    * finished multi-supplier orders where THEY were the only late
    * supplier. "Late" = shipped more than 60 days after the order date
    * (the q4 convention; this schema has no commit/receipt dates).
    *
    * The original's correlated EXISTS + NOT EXISTS self-joins are
    * re-expressed Spark-first as per-order window sets: after the single
    * fact-fact join on orderkey, `collect_set(supplier)` and
    * `collect_set(late supplier)` over the order partition answer both
    * subqueries with ZERO extra joins — the window reuses the join's
    * orderkey partitioning (one exchange per fact side, none for the
    * window), and per-order sets are bounded by lines-per-order. The
    * blame condition "some other supplier, no other late supplier"
    * becomes n_suppliers >= 2 && late_set == {me}.
    */
  def q21Blame(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val f = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d).filter($"o_orderstatus" === "F")
        .select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .withColumn("late",
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL '60' DAY"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"l_orderkey")
    f.withColumn("n_supp", size(collect_set($"l_suppkey").over(w)))
      .withColumn("late_set",
        collect_set(when($"late", $"l_suppkey")).over(w))
      .filter($"late" && $"n_supp" >= 2 &&
        size($"late_set") === 1 && $"late_set"(0) === $"l_suppkey")
      .join(broadcast(Tables.supplier(spark, d)),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name".asc)
      .limit(20)
  }

  /** TPC-H Q2 analog: minimum-cost supplier. For every small part of
    * size <= 5, the supplier(s) in EUROPE-region nations offering it at
    * the minimum unit cost (this schema has no partsupp, so unit cost =
    * the part's cheapest line price from that supplier, in exact
    * cents). The original's correlated scalar subquery becomes a
    * per-part min over the (part, supplier) cost table joined back on
    * EXACT-GRID equality — the argmax-over-aggregate discipline of q15
    * (FP equality joins are only safe on integer grids). The cost
    * table derives from one (partkey, suppkey) exchange; part and the
    * supplier⋈nation⋈region side are broadcasts. Ordered output is
    * top-100 → TakeOrderedAndProject.
    */
  def q2MinCostSupplier(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, d)
      .filter($"p_size" <= 5)
      .select($"p_partkey", $"p_type")
    val region = Tables.region(spark, d).filter($"r_name" === "EUROPE")
    val suppRegion = Tables.supplier(spark, d)
      .join(Tables.nation(spark, d), $"s_nationkey" === $"n_nationkey")
      .join(region, $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val wPart = org.apache.spark.sql.expressions.Window.partitionBy($"p_partkey")
    Tables.lineitem(spark, d)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(suppRegion), $"l_suppkey" === $"s_suppkey")
      .groupBy($"p_partkey", $"p_type", $"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      .agg(min(gridScale($"l_extendedprice", 100L)).as("cost_c"))
      // per-part min via a window over the SAME cost table — one
      // re-exchange on partkey, vs the agg + join-back formulation's
      // three (the BIGINT equality compare stays within each row)
      .withColumn("min_c", min($"cost_c").over(wPart))
      .filter($"cost_c" === $"min_c")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_type",
        ($"cost_c".cast("double") / 100.0).as("min_cost"))
      .orderBy($"s_acctbal".desc, $"n_name".asc, $"s_name".asc, $"p_partkey".asc)
      .limit(100)
  }

  /** TPC-H Q16 analog: supplier diversity per part attribute. Distinct
    * suppliers per (brand, type, size) for parts outside one brand,
    * excluding "complaint" suppliers (negative balance plays the
    * original's LIKE '%Complaints%' comment filter) — the NOT IN
    * subquery compiles to a left-anti join against a broadcast-size
    * exclusion list; the distinct count is Spark's standard two-phase
    * expand (partial distinct on (attrs, suppkey), final count).
    */
  def q16SupplierDiversity(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, d)
      .filter($"p_brand" =!= "Brand#9" && $"p_type" =!= "PROMO")
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    val complaints = Tables.supplier(spark, d)
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    Tables.lineitem(spark, d)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(complaints), $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand".asc, $"p_type".asc, $"p_size".asc)
      .limit(20)
  }

  /** TPC-H Q20 analog: dominant suppliers of red parts. The original's
    * nested chain (suppliers whose stock of a part exceeds half its
    * shipped volume) becomes: suppliers who shipped MORE THAN HALF of
    * some red part's total 1997 volume. Two stacked aggregates on the
    * same partkey spine — (part, supplier) quantities, then per-part
    * totals — joined on partkey; the dominance test `2*q_ps > q_p`
    * stays in BIGINT (quantity grid ×100), and the final supplier
    * lookup is a broadcast semi join. Name-ordered top-100 →
    * TakeOrderedAndProject.
    */
  def q20DominantSupplier(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val redParts = Tables.part(spark, d)
      .filter($"p_name".startsWith("red")).select($"p_partkey")
    val wPart = org.apache.spark.sql.expressions.Window.partitionBy($"l_partkey")
    val dominant = Tables.lineitem(spark, d)
      .filter($"l_shipdate" >= ts("1997-01-01") && $"l_shipdate" < ts("1998-01-01"))
      .join(broadcast(redParts), $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum(gridScale($"l_quantity", 100L)).as("q_ps"))
      // part totals via a window over the same (part, supplier) table —
      // one partkey re-exchange instead of agg + join-back
      .withColumn("q_p", sum($"q_ps").over(wPart))
      .filter($"q_ps" * 2 > $"q_p")
      .select($"l_suppkey").distinct()
    Tables.supplier(spark, d)
      // dominant suppliers are bounded by the supplier dimension — broadcast
      .join(broadcast(dominant), $"s_suppkey" === $"l_suppkey", "left_semi")
      .join(broadcast(Tables.nation(spark, d)), $"s_nationkey" === $"n_nationkey")
      .select($"s_name", $"n_name", $"s_acctbal")
      .orderBy($"s_name".asc)
      .limit(100)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q16_supplier_diversity" -> (q16SupplierDiversity _),
    "q20_dominant_supplier" -> (q20DominantSupplier _),
    "q21_blame" -> (q21Blame _),
    "q4_priority_late" -> (q4PriorityLate _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_profit" -> (q9Profit _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q13_order_counts" -> (q13OrderCounts _),
    "q17_small_qty" -> (q17SmallQty _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q22_wealthy_inactive" -> (q22WealthyInactive _))

  private val revGrid =
    "CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS DOUBLE)/10000"

  val oracles: Map[String, String] = Map(
    "q2_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT p.p_partkey, p.p_type, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
        |         min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cost_c
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE p.p_size <= 5 AND r.r_name = 'EUROPE'
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |mc AS (SELECT p_partkey AS mk, min(cost_c) AS min_c FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
        |       CAST(cost_c AS DOUBLE) / 100.0 AS min_cost
        |FROM cost JOIN mc ON p_partkey = mk AND cost_c = min_c
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q16_supplier_diversity" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#9' AND p.p_type <> 'PROMO'
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 20""".stripMargin,
    "q20_dominant_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS q_ps
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey AS pk, sum(q_ps) AS q_p FROM ps GROUP BY 1),
        |dom AS (
        |  SELECT DISTINCT l_suppkey FROM ps JOIN tot ON l_partkey = pk
        |  WHERE q_ps * 2 > q_p)
        |SELECT s_name, n_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_name
        |LIMIT 100""".stripMargin,
    "q21_blame" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "q4_priority_late" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q7_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  $revGrid AS revenue
         |FROM lineitem, orders, customer, supplier, nation n1, nation n2
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND l_suppkey = s_suppkey
         |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
         |  AND l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round(CASE WHEN n1.n_name = 'NATION_3'
        |        THEN l_extendedprice*(1-l_discount) ELSE 0.0 END*10000,0) AS BIGINT))
        |    AS DOUBLE)/10000 /
        |  (CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT))
        |    AS DOUBLE)/10000) AS mkt_share
        |FROM lineitem, part, orders, customer, supplier, nation n1, nation n2, region
        |WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND p_type = 'ECONOMY'
        |GROUP BY year(o_orderdate)""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round((l_extendedprice*(1-l_discount)
        |    - p_retailprice*l_quantity)*10000,0) AS BIGINT)) AS DOUBLE)/10000 AS profit
        |FROM lineitem, part, orders, supplier, nation
        |WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND p_type = 'STANDARD'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,
    "q11_important_parts" ->
      s"""WITH rev AS (
         |  SELECT l_partkey, $revGrid AS part_rev
         |  FROM lineitem GROUP BY l_partkey),
         |tot AS (
         |  SELECT CAST(sum(CAST(round(part_rev*10000,0) AS BIGINT)) AS DOUBLE)/10000
         |    AS total_rev FROM rev)
         |SELECT l_partkey, part_rev FROM rev, tot
         |WHERE part_rev > total_rev * 0.0008""".stripMargin,
    "q13_order_counts" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    "q17_small_qty" ->
      """WITH bl AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#13'),
        |aq AS (
        |  SELECT l_partkey AS ap_partkey,
        |    CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100/count(*)
        |      AS avg_qty
        |  FROM bl GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100/7.0
        |  AS avg_yearly
        |FROM bl JOIN aq ON l_partkey = ap_partkey
        |WHERE l_quantity < avg_qty * 0.5""".stripMargin,
    "q19_disjunctive" ->
      s"""SELECT $revGrid AS revenue, count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_wealthy_inactive" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS DOUBLE)/100 AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS DOUBLE)/100/count(*)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |GROUP BY c_nationkey""".stripMargin)
}
