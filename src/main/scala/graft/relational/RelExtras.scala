package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import RelQueries.{exactSum, gridScale}

/** Second relational breadth catalog: statistical aggregates, exact
  * percentiles, time-range window frames, explicit GROUPING SETS, full
  * outer joins, nested/correlated subqueries, union-by-name, and the
  * wider scalar/date function surface (SURVEY.md §2.3 rows "Aggregations
  * beyond group-by-fold", "Window functions", "Set ops", "Scalar
  * function library").
  *
  * Cross-engine notes on top of RelQueries' rules:
  *   - moment statistics (stddev/var/corr/skew/kurt) are rounded to 4dp:
  *     both engines accumulate in different orders, but on these inputs
  *     the results agree to ~1e-9 relative. Spark's skewness/kurtosis are
  *     the POPULATION moments; DuckDB's skewness is the bias-corrected
  *     sample form, so the oracle multiplies by (n-2)/sqrt(n(n-1)), and
  *     kurtosis uses DuckDB's kurtosis_pop.
  *   - Spark percentile()/median() and DuckDB quantile_cont()/median()
  *     share the linear-interpolation definition; 4dp rounding absorbs
  *     the formula's ulp difference.
  *   - day-of-week: Spark is 1-7 Sunday-first, DuckDB 0-6 — oracle adds 1.
  */
object RelExtras extends graft.Catalog {

  /** Moment statistics per group (partial+final merge under the hood —
    * Spark's ImperativeAggregate moments merge associatively, so this is
    * one shuffle of constant-size buffers at any scale).
    */
  def aggStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(stddev_samp($"l_quantity"), 4).as("sd_qty"),
        round(stddev_pop($"l_quantity"), 4).as("sdp_qty"),
        round(var_samp($"l_discount"), 4).as("var_disc"),
        round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_discount"), 4).as("covar_qty_disc"),
        round(skewness($"l_quantity"), 4).as("skew_qty"),
        round(kurtosis($"l_quantity"), 4).as("kurt_qty"))
  }

  /** Exact percentiles (linear interpolation) + median per group. At
    * 100 TB scale the same query swaps percentile() for
    * approx_percentile() (t-digest sketch) — the exact form is the
    * correctness anchor, like knnExact for the ANN tiers.
    */
  def aggPercentiles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .groupBy($"l_returnflag")
      .agg(
        round(percentile($"l_quantity", lit(0.25)), 4).as("p25_qty"),
        round(percentile($"l_quantity", lit(0.5)), 4).as("p50_qty"),
        round(percentile($"l_quantity", lit(0.75)), 4).as("p75_qty"),
        round(median($"l_extendedprice"), 4).as("med_price"))
  }

  /** Time-range window frame: per-user rolling 1h sum of event value
    * (RANGE frame over event-time micros — peers with equal timestamps
    * aggregate together on both engines).
    */
  def windowRangeFrame(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"mic")
      .rangeBetween(-3600000000L, 0L)
    Tables.events(spark, d)
      .withColumn("mic", unix_micros($"ts"))
      .withColumn("cents", gridScale($"value", 100L))
      .select($"event_id", $"user_id",
        (sum($"cents").over(w).cast("double") / 100).as("rolling_1h"))
  }

  /** Explicit GROUPING SETS with grouping() markers (the general form
    * rollup/cube compile to).
    */
  def groupingSetsSales(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |       CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
        |       count(*) AS n
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  /** Full outer join with mismatches on both sides: BUILDING customers
    * vs per-customer aggregates of >300k orders.
    */
  def joinFullOuter(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_name")
    val o = Tables.orders(spark, d)
      .filter($"o_totalprice" > 300000)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_big"), max($"o_totalprice").as("max_price"))
    c.join(o, $"c_custkey" === $"o_custkey", "full_outer")
      .select(
        coalesce($"c_custkey", $"o_custkey").as("custkey"),
        coalesce($"c_name", lit("<none>")).as("name"),
        coalesce($"n_big", lit(0L)).as("n_big"),
        coalesce($"max_price", lit(0.0)).as("max_price"))
  }

  /** Nested IN + scalar + correlated NOT EXISTS subqueries in one query
    * (Catalyst rewrites these to semi/anti joins — same physical shape
    * as joinSemi/joinAnti, proving the SQL surface over it).
    */
  def subqueryInExists(spark: SparkSession, d: String): DataFrame = {
    Tables.customer(spark, d).createOrReplaceTempView("customer_sq")
    Tables.orders(spark, d).createOrReplaceTempView("orders_sq")
    Tables.nation(spark, d).createOrReplaceTempView("nation_sq")
    Tables.region(spark, d).createOrReplaceTempView("region_sq")
    spark.sql(
      """SELECT c_custkey, c_name FROM customer_sq c
        |WHERE c_nationkey IN (
        |    SELECT n_nationkey FROM nation_sq
        |    WHERE n_regionkey = (SELECT r_regionkey FROM region_sq WHERE r_name = 'ASIA'))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders_sq o
        |    WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1997)""".stripMargin)
  }

  /** UNION of differently-shaped inputs by column NAME (customers +
    * suppliers as one tagged entity list).
    */
  def unionEntities(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, d).select(
      $"c_name".as("entity_name"),
      $"c_nationkey".as("nationkey"),
      lit("customer").as("kind"))
    val s = Tables.supplier(spark, d).select(
      lit("supplier").as("kind"), // different column order on purpose
      $"s_nationkey".as("nationkey"),
      $"s_name".as("entity_name"))
    c.unionByName(s)
  }

  /** Wider string/bit scalar surface: edit distance, split_part, padding,
    * translate, position, hashing, bit ops.
    */
  def scalarFuncs2(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, d).select(
      $"c_custkey",
      levenshtein(substring($"c_name", 1, 8), lit("Customer")).cast("long").as("lev"),
      expr("split_part(c_name, '#', 2)").as("name_num"),
      lpad($"c_custkey".cast("string"), 8, "0").as("padded"),
      reverse($"c_name").as("rev"),
      expr("right(c_name, 3)").as("tail3"),
      translate($"c_name", "Cusmer", "XYZABC").as("translated"),
      instr($"c_name", "#").cast("long").as("hash_pos"),
      md5($"c_name").as("name_md5"),
      repeat(substring($"c_name", 1, 2), 3).as("rep2x3"),
      greatest($"c_custkey" % 7, $"c_nationkey" % 5).as("g_mod"),
      least($"c_custkey" % 7, $"c_nationkey" % 5).as("l_mod"),
      $"c_custkey".bitwiseAND(255).as("key_and"),
      $"c_custkey".bitwiseXOR($"c_nationkey").as("key_xor"),
      ascii($"c_name").cast("long").as("first_ascii"),
      $"c_name".like("Customer%").as("is_customer"))
  }

  /** percent_rank / cume_dist (both are exact integer-count ratios, so
    * the doubles are bit-identical across engines — no rounding needed).
    */
  def windowPct(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, d).select(
      $"o_orderkey", $"o_orderstatus",
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  /** Conditional/boolean aggregates per event type. */
  def aggConditional(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy($"event_type")
      .agg(
        count_if($"value" > 100).as("n_big"),
        bool_or($"value" > 500).as("any_huge"),
        bool_and($"value" >= 0).as("all_nonneg"),
        max_by($"event_id", struct($"value", $"event_id")).as("argmax_value"),
        min_by($"event_id", struct($"value", $"event_id")).as("argmin_value"))
  }

  /** Date/interval arithmetic surface. */
  def dateFuncs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, d).select(
      $"o_orderkey",
      date_add($"o_orderdate", 30).as("plus_30d"),
      ($"o_orderdate" + expr("INTERVAL '90' DAY")).as("plus_90d"),
      datediff($"o_orderdate", to_date(lit("1995-01-01"))).cast("long").as("days_since_95"),
      dayofweek($"o_orderdate").cast("long").as("dow"),
      dayofyear($"o_orderdate").cast("long").as("doy"),
      quarter($"o_orderdate").cast("long").as("qtr"),
      last_day($"o_orderdate").as("month_end"),
      date_format($"o_orderdate", "yyyy-MM").as("ym"))
  }

  /** Mergeable HLL sketches (Apache DataSketches via hll_sketch_agg):
    * per-group sketches unioned into a global estimate WITHOUT rescanning
    * — the property that makes distinct-count cheap at 100 TB (partial
    * sketches merge associatively across partitions, days, or tables).
    * Engine-specific binary sketch → rows-only driver check; the
    * estimate-vs-exact bound is pinned in RelationalSpec.
    */
  def hllPartsSketch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val perFlag = Tables.lineitem(spark, d)
      .groupBy($"l_returnflag")
      .agg(hll_sketch_agg($"l_partkey").as("sk"))
    // Materialize the sketch table (one row per group — bounded and
    // tiny; this is the artifact a 100 TB pipeline would persist) so
    // the per-flag estimates AND their union read it without
    // recomputing the lineitem scan per union branch.
    val skDf = spark.createDataFrame(
      java.util.Arrays.asList(perFlag.collect(): _*), perFlag.schema)
    skDf.select($"l_returnflag", hll_sketch_estimate($"sk").as("est_parts"))
      .unionByName(
        skDf.agg(hll_union_agg($"sk").as("sk"))
          .select(lit("ALL").as("l_returnflag"),
            hll_sketch_estimate($"sk").as("est_parts")))
  }

  /** UNPIVOT (wide→long, the inverse of pivot_events): three lineitem
    * measures melted into (measure, val) rows.
    */
  def unpivotLineitem(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .filter($"l_orderkey" % 100 === 0) // keep the long table bounded
      .select($"l_orderkey", $"l_linenumber".cast("long").as("line"),
        $"l_quantity", $"l_discount", $"l_tax")
      .unpivot(
        Array($"l_orderkey", $"line"),
        Array($"l_quantity", $"l_discount", $"l_tax"),
        "measure", "val")
  }

  /** Date-spine densification: every (order, month) pair for the three
    * months starting at the order month — the calendar-fill pattern for
    * gap-free time series (explode of a generated sequence; no join
    * against a materialized calendar table needed).
    */
  def dateSpine(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, d)
      .filter($"o_orderkey" % 100 === 0)
      .select($"o_orderkey",
        explode(sequence(
          date_trunc("month", $"o_orderdate"),
          date_trunc("month", $"o_orderdate") + expr("INTERVAL '2' MONTH"),
          expr("INTERVAL '1' MONTH"))).as("month"))
  }

  /** Map function surface: build a per-user event_type→count map with
    * map_from_entries, then probe it (element_at / size /
    * map_contains_key / map_keys). Scalar outputs only; the oracle
    * recomputes the same values with conditional aggregation — the map
    * machinery under test is Spark's.
    */
  def mapFuncs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy($"user_id")
      .agg(map_from_entries(collect_list(struct($"event_type", $"n"))).as("m"))
      .select(
        $"user_id",
        coalesce(element_at($"m", "click"), lit(0L)).as("n_click"),
        size($"m").cast("long").as("n_types"),
        map_contains_key($"m", "error").as("has_error"),
        array_join(sort_array(map_keys($"m")), ",").as("types"))
  }

  /** Array function surface (scalar outputs only — list columns don't
    * canonicalize identically across parquet readers).
    */
  def arrayFuncs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, d)
      .withColumn("parts", split($"o_orderpriority", "-"))
      .select(
        $"o_orderkey",
        size($"parts").cast("long").as("n_parts"),
        element_at($"parts", 1).as("part1"),
        array_contains($"parts", "URGENT").as("has_urgent"),
        array_join(sort_array($"parts"), "+").as("sorted_joined"),
        array_position($"parts", "HIGH").cast("long").as("pos_high"))
  }

  /** t-digest-style approximate percentiles (the 100 TB tier of
    * aggPercentiles). With accuracy 10000 the rank error on 600k rows is
    * ~60, far below the ~12k-row bins of the 50 distinct quantity
    * values, so the sketch answer coincides with the exact discrete
    * quantile — which is what the DuckDB oracle pins (both algorithms
    * are deterministic, so the equality is stable for the graded sf).
    */
  def aggApproxPercentiles(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .groupBy($"l_returnflag")
      .agg(
        approx_percentile($"l_quantity", lit(0.25), lit(10000)).as("ap25_qty"),
        approx_percentile($"l_quantity", lit(0.5), lit(10000)).as("ap50_qty"),
        approx_percentile($"l_quantity", lit(0.75), lit(10000)).as("ap75_qty"))
  }

  /** Deterministic content-hash sampling: md5 of the key is identical in
    * every engine, so the ~1/16 sample is stable across Spark, DuckDB,
    * reruns, and repartitioning — the production way to sample consistently
    * (seed-based df.sample() depends on physical partitioning).
    */
  def ordersHashSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, d)
      .filter(substring(md5($"o_orderkey".cast("string")), 1, 1) === "0")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other — the join surface ordinary `=` silently drops.
    * Exercised on two aggregates whose shared key is nullable by
    * construction (bucket 0 mapped to NULL). Spark plans `<=>` as a
    * regular hash join with null-safe key comparison, so it shuffles
    * and scales exactly like an equi-join — unlike the `OR both null`
    * rewrite, which degenerates to a nested-loop join.
    */
  def joinNullSafe(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val a = Tables.orders(spark, d)
      .select(when($"o_custkey" % 7 === 0, lit(null))
        .otherwise($"o_custkey" % 7).as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n_orders"))
    val b = Tables.customer(spark, d)
      .select(when($"c_custkey" % 7 === 0, lit(null))
        .otherwise($"c_custkey" % 7).as("k"))
      .groupBy($"k").agg(count(lit(1)).as("n_cust"))
    a.join(b, a("k") <=> b("k"))
      .select(a("k").as("k"), $"n_orders", $"n_cust")
  }

  /** Bounded ROWS-frame moving aggregate: 7-day (6 preceding + current)
    * moving average over the daily revenue series, per order priority —
    * the third window-frame family next to RANGE (window_range_frame)
    * and unbounded-running (window_running_total). Daily revenue is
    * aggregated to BIGINT cents FIRST, so the frame sums are exact;
    * the average's single division k/(100*cnt) provably cannot land on
    * a 4-decimal rounding tie (2000m = odd has no solution), so
    * round(4) is cross-engine safe. One shuffle on the partition key;
    * the frame is evaluated streaming over the sorted partition.
    */
  def windowMovingAvg(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
      .rowsBetween(-6, Window.currentRow)
    Tables.orders(spark, d)
      .groupBy($"o_orderpriority", $"o_orderdate".as("day"))
      .agg(sum(gridScale($"o_totalprice", 100L)).as("rev_c"))
      .select(
        $"o_orderpriority", $"day",
        ($"rev_c".cast("double") / 100.0).as("revenue"),
        round(sum($"rev_c").over(w).cast("double") /
          (count(lit(1)).over(w) * 100.0), 4).as("mov_avg_7d"))
  }

  /** Order-independent content checksum per table — the migration /
    * replication validation primitive a 100 TB move runs on both sides:
    * each row folds its KEY COLUMNS through md5 into a 60-bit integer,
    * and the table fingerprint is the BIT_XOR of those (commutative and
    * associative, so partitioning, task order, and file layout cannot
    * change it, and — unlike an ANSI SUM — it cannot overflow at any
    * row count).
    * One narrow scan + one aggregate, no shuffle of data rows — the
    * cheapest whole-corpus invariant two engines can agree on
    * byte-for-byte. Integer/string key columns only (doubles format
    * differently across engines; a production run would fix a decimal
    * rendering first).
    */
  def tableChecksum(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def fp(name: String, df: DataFrame, key: Column): DataFrame =
      df.select(key.as("_k"))
        .select(
          expr("conv(substring(md5(cast(_k AS string)), 1, 15), 16, 10)")
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
        .select(lit(name).as("tbl"), $"n_rows", $"checksum")
    fp("orders", Tables.orders(spark, d),
        concat_ws("|", $"o_orderkey", $"o_custkey", $"o_orderstatus"))
      .unionAll(fp("lineitem", Tables.lineitem(spark, d),
        concat_ws("|", $"l_orderkey", $"l_linenumber", $"l_suppkey")))
      .unionAll(fp("customer", Tables.customer(spark, d),
        concat_ws("|", $"c_custkey", $"c_mktsegment")))
      .unionAll(fp("documents", Tables.documents(spark, d),
        concat_ws("|", $"doc_id", $"source", $"lang")))
  }

  /** Skyline (Pareto-front) query over lineitem (minimize unit price,
    * maximize quantity) — the multi-criteria "best trade-offs"
    * operator relational engines lack natively (Börzsönyi et al. ICDE
    * '01): a row is on the skyline iff no other row has price ≤ AND
    * quantity ≥ with at least one strict.
    *
    * The naive formulation is a quadratic self-join; the 2-D skyline
    * instead collapses onto the price-cent grid: per price the max
    * quantity, then the EXCLUSIVE running max over strictly-cheaper
    * prices (bounded single-partition window over the grid), and a
    * cell survives iff its quantity equals its price's max AND
    * strictly exceeds every cheaper price's best. Survivor cells
    * broadcast back onto one scan to emit the skyline rows — all
    * integer comparisons, exact duplicates all survive (mutual
    * dominance requires strictness).
    */
  def skylineLineitems(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val li = Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_suppkey",
        round($"l_extendedprice" * 100, 0).cast("long").as("pc"),
        round($"l_quantity" * 100, 0).cast("long").as("qc"))
    val w = Window.orderBy($"pc").rowsBetween(Window.unboundedPreceding, -1)
    val sky = li.groupBy($"pc").agg(max($"qc").as("pmax"))
      .withColumn("cmax", max($"pmax").over(w))
      .filter($"cmax".isNull || $"pmax" > $"cmax")
      .select($"pc".as("sky_pc"), $"pmax")
    li.join(broadcast(sky), $"pc" === $"sky_pc" && $"qc" === $"pmax")
      .select($"l_orderkey", $"l_suppkey",
        ($"pc".cast("double") / 100).as("price"),
        ($"qc".cast("double") / 100).as("quantity"))
  }

  private def skylineOracle: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
      |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS qc
      |  FROM lineitem),
      |sky AS (
      |  SELECT pc, pmax FROM (
      |    SELECT pc, pmax,
      |      max(pmax) OVER (ORDER BY pc
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cmax
      |    FROM (SELECT pc, CAST(max(qc) AS BIGINT) AS pmax
      |          FROM li GROUP BY pc) g) h
      |  WHERE cmax IS NULL OR pmax > cmax)
      |SELECT l_orderkey, l_suppkey,
      |  CAST(li.pc AS DOUBLE) / 100 AS price,
      |  CAST(qc AS DOUBLE) / 100 AS quantity
      |FROM li JOIN sky ON li.pc = sky.pc AND li.qc = sky.pmax""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skyline_lineitems" -> (skylineLineitems _),
    "table_checksum" -> (tableChecksum _),
    "window_moving_avg" -> (windowMovingAvg _),
    "join_null_safe" -> (joinNullSafe _),
    "window_pct" -> (windowPct _),
    "agg_conditional" -> (aggConditional _),
    "map_funcs" -> (mapFuncs _),
    "unpivot_lineitem" -> (unpivotLineitem _),
    "date_spine" -> (dateSpine _),
    "hll_parts_sketch" -> (hllPartsSketch _),
    "agg_approx_percentiles" -> (aggApproxPercentiles _),
    "orders_hash_sample" -> (ordersHashSample _),
    "agg_stats" -> (aggStats _),
    "agg_percentiles" -> (aggPercentiles _),
    "window_range_frame" -> (windowRangeFrame _),
    "grouping_sets_sales" -> (groupingSetsSales _),
    "join_full_outer" -> (joinFullOuter _),
    "subquery_in_exists" -> (subqueryInExists _),
    "union_entities" -> (unionEntities _),
    "scalar_funcs2" -> (scalarFuncs2 _),
    "date_funcs" -> (dateFuncs _),
    "array_funcs" -> (arrayFuncs _))

  override val noOracle: Map[String, String] = Map(
    "hll_parts_sketch" -> ("engine-native HLL sketch binary; hll_dataflow_distinct " +
      "is the oracled twin"))

  val oracles: Map[String, String] = Map(
    "skyline_lineitems" -> skylineOracle,
    "table_checksum" -> {
      def leg(name: String, tbl: String, key: String) =
        s"""SELECT '$name' AS tbl, count(*) AS n_rows,
           |  bit_xor(CAST(CONCAT('0x', substr(md5($key), 1, 15)) AS BIGINT))
           |    AS checksum
           |FROM $tbl""".stripMargin
      Seq(
        leg("orders", "orders",
          "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus"),
        leg("lineitem", "lineitem",
          "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)"),
        leg("customer", "customer",
          "CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment"),
        leg("documents", "documents",
          "CAST(doc_id AS VARCHAR) || '|' || source || '|' || lang"))
        .mkString("\nUNION ALL\n")
    },
    "window_moving_avg" ->
      """WITH daily AS (
        |  SELECT o_orderpriority, o_orderdate AS day,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, day,
        |  CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(sum(rev_c) OVER w AS DOUBLE) /
        |        (count(*) OVER w * 100.0), 4) AS mov_avg_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "join_null_safe" ->
      """WITH a AS (
        |  SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey % 7 END AS k,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey % 7 END AS k,
        |         count(*) AS n_cust
        |  FROM customer GROUP BY 1)
        |SELECT a.k, n_orders, n_cust
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin,
    "unpivot_lineitem" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line,
        |       'l_quantity' AS measure, l_quantity AS val
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |UNION ALL
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_discount', l_discount
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |UNION ALL
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_tax', l_tax
        |FROM lineitem WHERE l_orderkey % 100 = 0""".stripMargin,
    "date_spine" ->
      """SELECT o_orderkey, CAST(m AS TIMESTAMP) AS month
        |FROM (SELECT o_orderkey,
        |        unnest(generate_series(date_trunc('month', o_orderdate),
        |                               date_trunc('month', o_orderdate)
        |                                 + INTERVAL '2 months',
        |                               INTERVAL '1 month')) AS m
        |      FROM orders WHERE o_orderkey % 100 = 0) t""".stripMargin,
    "map_funcs" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  bool_or(event_type = 'error') AS has_error,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY user_id""".stripMargin,
    "window_pct" ->
      """SELECT o_orderkey, o_orderstatus,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "agg_conditional" ->
      """WITH ranked AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id DESC) AS rmax,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value ASC, event_id ASC) AS rmin
        |  FROM events),
        |base AS (
        |  SELECT event_type,
        |    CAST(count(*) FILTER (value > 100) AS BIGINT) AS n_big,
        |    bool_or(value > 500) AS any_huge,
        |    bool_and(value >= 0) AS all_nonneg
        |  FROM events GROUP BY event_type)
        |SELECT b.event_type, b.n_big, b.any_huge, b.all_nonneg,
        |       mx.event_id AS argmax_value, mn.event_id AS argmin_value
        |FROM base b
        |JOIN (SELECT event_type, event_id FROM ranked WHERE rmax = 1) mx
        |  USING (event_type)
        |JOIN (SELECT event_type, event_id FROM ranked WHERE rmin = 1) mn
        |  USING (event_type)""".stripMargin,
    "agg_approx_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS ap25_qty,
        |  quantile_disc(l_quantity, 0.5) AS ap50_qty,
        |  quantile_disc(l_quantity, 0.75) AS ap75_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "orders_hash_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(stddev_pop(l_quantity), 4) AS sdp_qty,
        |  round(var_samp(l_discount), 4) AS var_disc,
        |  round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 4) + 0.0 AS covar_qty_disc,
        |  round(skewness(l_quantity) * (count(*) - 2)
        |        / sqrt(count(*) * (count(*) - 1.0)), 4) + 0.0 AS skew_qty,
        |  round(kurtosis_pop(l_quantity), 4) + 0.0 AS kurt_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
        |  round(median(l_extendedprice), 4) AS med_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "window_range_frame" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)/100
        |    AS rolling_1h
        |FROM events""".stripMargin,
    "grouping_sets_sales" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |       CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_qty,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "join_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |       coalesce(c_name, '<none>') AS name,
        |       coalesce(n_big, 0) AS n_big,
        |       coalesce(max_price, 0.0) AS max_price
        |FROM (SELECT c_custkey, c_name FROM customer
        |      WHERE c_mktsegment = 'BUILDING') c
        |FULL OUTER JOIN (
        |      SELECT o_custkey, count(*) AS n_big, max(o_totalprice) AS max_price
        |      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey) o
        |  ON c_custkey = o_custkey""".stripMargin,
    "subquery_in_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE c_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE n_regionkey = (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1997)""".stripMargin,
    "union_entities" ->
      """SELECT c_name AS entity_name, c_nationkey AS nationkey,
        |       'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_name, s_nationkey, 'supplier' FROM supplier""".stripMargin,
    "scalar_funcs2" ->
      """SELECT c_custkey,
        |  CAST(levenshtein(substring(c_name, 1, 8), 'Customer') AS BIGINT) AS lev,
        |  split_part(c_name, '#', 2) AS name_num,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  reverse(c_name) AS rev,
        |  right(c_name, 3) AS tail3,
        |  translate(c_name, 'Cusmer', 'XYZABC') AS translated,
        |  CAST(instr(c_name, '#') AS BIGINT) AS hash_pos,
        |  md5(c_name) AS name_md5,
        |  repeat(substring(c_name, 1, 2), 3) AS rep2x3,
        |  greatest(c_custkey % 7, c_nationkey % 5) AS g_mod,
        |  least(c_custkey % 7, c_nationkey % 5) AS l_mod,
        |  c_custkey & 255 AS key_and,
        |  xor(c_custkey, c_nationkey) AS key_xor,
        |  CAST(ascii(c_name) AS BIGINT) AS first_ascii,
        |  c_name LIKE 'Customer%' AS is_customer
        |FROM customer""".stripMargin,
    "date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus_30d,
        |  CAST(o_orderdate AS TIMESTAMP) + INTERVAL 90 DAY AS plus_90d,
        |  date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_95,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders""".stripMargin,
    "array_funcs" ->
      """SELECT o_orderkey,
        |  CAST(len(parts) AS BIGINT) AS n_parts,
        |  parts[1] AS part1,
        |  list_contains(parts, 'URGENT') AS has_urgent,
        |  array_to_string(list_sort(parts), '+') AS sorted_joined,
        |  CAST(coalesce(list_position(parts, 'HIGH'), 0) AS BIGINT) AS pos_high
        |FROM (SELECT o_orderkey, string_split(o_orderpriority, '-') AS parts
        |      FROM orders) t""".stripMargin)
}
