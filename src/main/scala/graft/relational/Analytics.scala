package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.functions.{BootFold, JaroWinkler, PairStructs}
import graft.Tables
import RelQueries.{exactSum, gridScale}

/** Pipeline-analytics catalog: the event/order analyses a production
  * data platform layers on top of the relational core — ordered funnels,
  * cohort retention, interval-overlap concurrency, change-data
  * compaction (SCD2), outlier detection, histograms, stratified
  * sampling, and full-frame window functions. The reference engine has
  * none of these (SURVEY.md §2.3 — its only analytics are the eight
  * mrapps); each is built Spark-first and DuckDB-oracled.
  *
  * Scale notes follow each operator; the common theme is that every
  * query shuffles on a high-cardinality key (user_id / custkey) once,
  * and anything global is either constant-size (funnel counters, daily
  * aggregates) or explodes linearly (session→hour coverage).
  */
object Analytics extends graft.Catalog {

  /** Ordered conversion funnel view → click → purchase per user, with
    * strict event-order semantics: a click counts only if a view
    * happened strictly earlier, a purchase only after such a click.
    * Both qualification windows partition on user_id with the same
    * ordering, so the whole funnel is ONE shuffle; the final stage
    * counters are constant-size partial aggregates.
    */
  def funnelStages(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1) // strictly-before frame
    val qualified = Tables.events(spark, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("seen_view", min(when($"event_type" === "view", $"ts")).over(w))
      .withColumn("qclick_ts",
        when($"event_type" === "click" && $"seen_view".isNotNull, $"ts"))
      .withColumn("seen_qclick", min($"qclick_ts").over(w))
    val perUser = qualified.groupBy($"user_id").agg(
      max(when($"event_type" === "view", 1L).otherwise(0L)).as("s1"),
      max(when($"qclick_ts".isNotNull, 1L).otherwise(0L)).as("s2"),
      max(when($"event_type" === "purchase" && $"seen_qclick".isNotNull, 1L)
        .otherwise(0L)).as("s3"))
    perUser.agg(
      sum($"s1").as("view"), sum($"s2").as("click"), sum($"s3").as("purchase"))
      .select(expr(
        "stack(3, 'view', view, 'view>click', click, 'view>click>purchase', purchase) AS (stage, n_users)"))
  }

  /** Cohort retention: customers cohorted by first-order month; for
    * each (cohort, months-since) cell, distinct active customers.
    * Months are the integer grid year*12+month — no engine-private
    * month arithmetic. The first-order aggregate and the join back both
    * key on o_custkey (one shuffle, partitioning reused); the retention
    * cell grid is bounded (months × 13) regardless of data size.
    */
  def cohortRetention(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val om = Tables.orders(spark, d)
      .select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long").as("m"))
    val first = om.groupBy($"o_custkey").agg(min($"m").as("m0"))
    om.join(first, "o_custkey")
      .filter($"m" - $"m0" <= 12)
      .groupBy($"m0", ($"m" - $"m0").as("months_since"))
      .agg(countDistinct($"o_custkey").as("n_active"))
      .select(
        // floor() not int-cast: Spark casts double→int by truncation but
        // DuckDB rounds, so both sides floor explicitly before the cast
        make_date(floor(($"m0" - 1) / 12).cast("int"),
          (($"m0" - 1) % 12 + 1).cast("int"), lit(1)).as("cohort_month"),
        $"months_since", $"n_active")
  }

  /** Hourly concurrent-session counts: sessionize events per user
    * (30-min inactivity gap, same lag/cumsum shape as `sessionize`),
    * then EXPLODE each session into the hours it covers and count per
    * hour. The explode is linear in total session duration — the
    * classic interval-overlap rewrite that replaces a range join
    * against an hour spine (which would be a nested-loop at scale).
    * Shuffles: one on user_id (window + session agg reuse it), one
    * final on the bounded hour key.
    */
  def sessionsConcurrency(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag($"ts", 1).over(w)
    Tables.events(spark, d)
      .withColumn("new_sess",
        when(prev.isNull || ($"ts" - prev > expr("INTERVAL '30' MINUTE")), 1L)
          .otherwise(0L))
      .withColumn("sess", sum($"new_sess").over(cum))
      .groupBy($"user_id", $"sess")
      .agg(min($"ts").as("st"), max($"ts").as("en"))
      .select(explode(sequence(
        date_trunc("hour", $"st"), date_trunc("hour", $"en"),
        expr("INTERVAL '1' HOUR"))).as("hour"))
      .groupBy($"hour")
      .agg(count(lit(1)).as("n_active"))
  }

  /** SCD2 / change-data compaction: per customer, consecutive orders
    * with the same o_orderstatus compress into one validity interval
    * [valid_from, valid_to) where valid_to is the next interval's start
    * (NULL = current). Gaps-and-islands via lag + cumsum; the island
    * window, the interval aggregate, and the lead() all partition on
    * o_custkey — ONE shuffle end to end.
    */
  def scd2Compaction(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wi = Window.partitionBy($"o_custkey").orderBy($"grp")
    Tables.orders(spark, d)
      .withColumn("chg",
        when(lag($"o_orderstatus", 1).over(w).isNull ||
          $"o_orderstatus" =!= lag($"o_orderstatus", 1).over(w), 1L).otherwise(0L))
      .withColumn("grp", sum($"chg").over(cum))
      .groupBy($"o_custkey", $"grp", $"o_orderstatus")
      .agg(min($"o_orderdate").as("vf"), count(lit(1)).as("n_orders"))
      .select($"o_custkey", $"o_orderstatus",
        $"vf".cast("date").as("valid_from"),
        lead($"vf", 1).over(wi).cast("date").as("valid_to"),
        $"n_orders")
  }

  /** Daily-revenue outliers: z-score of each day's exact-grid revenue
    * against the all-days mean/stddev, flagging |z| > 2. The daily
    * aggregate is the only data-scale pass; the stats join is a
    * broadcast of ONE row. (Day count is bounded by the calendar, so
    * the second aggregate is constant-size at any data scale.)
    */
  def anomalyZscore(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(exactSum($"o_totalprice", 100L).as("revenue"))
    val stats = daily.agg(
      avg($"revenue").as("mu"), stddev_samp($"revenue").as("sd"))
    daily.crossJoin(broadcast(stats))
      .withColumn("z", ($"revenue" - $"mu") / $"sd")
      .filter(abs($"z") > 2)
      .select($"day", $"revenue", round($"z", 4).as("z"))
  }

  /** Fixed-width price histogram over lineitem. The bucket is computed
    * on the exact cents grid with BIGINT floor-division (no FP
    * boundaries), clamped to a final catch-all bucket — fully
    * deterministic on both engines and one partial+final aggregate.
    */
  def histogramPrices(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, d)
      .select(least(floor(gridScale($"l_extendedprice", 100L) / 500000L).cast("long"),
        lit(20L)).as("bucket"),
        $"l_extendedprice")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), exactSum($"l_extendedprice", 100L).as("sum_price"))
  }

  /** Per-stratum deterministic sampling: each order keeps/drops by
    * comparing a 32-bit md5 prefix of its key against a per-priority
    * threshold — content-hash sampling (engine- and partitioning-
    * independent, rerun-stable), stratified by o_orderpriority. The
    * rate map is a broadcast literal; output is the per-stratum sample
    * summary. One scan, one bounded aggregate.
    */
  val SampleRates: Seq[(String, Double)] = Seq(
    "1-URGENT" -> 0.5, "2-HIGH" -> 0.2, "3-MEDIUM" -> 0.1,
    "4-NOT SPECIFIED" -> 0.05, "5-LOW" -> 0.02)

  /** Thresholds on the 32-bit hash grid, fixed as integer literals so
    * the Spark filter and the generated oracle compare identical
    * constants.
    */
  def sampleThresholds: Seq[(String, Long)] =
    SampleRates.map { case (p, r) => p -> (r * 4294967296L).toLong }

  def stratifiedSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val thr = sampleThresholds.foldLeft(lit(-1L)) { case (acc, (p, t)) =>
      when($"o_orderpriority" === p, lit(t)).otherwise(acc)
    }
    Tables.orders(spark, d)
      .filter(graft.text.Dedup.md5Prefix32($"o_orderkey".cast("string"), 1) < thr)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_sampled"),
        exactSum($"o_totalprice", 100L).as("sum_price"),
        min($"o_orderkey").as("min_key"))
  }

  /** Full-frame window functions: first/last/nth value of the shipdate
    * within each order's lines. The explicit ROWS UNBOUNDED..UNBOUNDED
    * frame is the point (default frames differ between engines and stop
    * at CURRENT ROW). Keyed on l_orderkey: bounded per-group state, one
    * shuffle; the key filter is pushed to the parquet scan.
    */
  def windowFirstLast(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // (l_orderkey, l_linenumber) is NOT unique in the fixture at larger
    // sf, so l_shipdate joins the sort as tie-break: every projected
    // value is the tie-break key itself, making first/last/nth
    // deterministic on both engines even with fully-tied rows
    val full = Window.partitionBy($"l_orderkey")
      .orderBy($"l_linenumber", $"l_shipdate")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(spark, d)
      .filter($"l_orderkey" % 7 === 0)
      .select($"l_orderkey", $"l_linenumber",
        first($"l_shipdate").over(full).cast("date").as("first_ship"),
        last($"l_shipdate").over(full).cast("date").as("last_ship"),
        nth_value($"l_shipdate", 2).over(full).cast("date").as("second_ship"),
        count(lit(1)).over(full).as("n_lines"))
  }

  /** Data-quality audit: the dbt-test-style checks a pipeline runs
    * before promoting a batch — row counts, null keys, duplicate
    * primary keys, referential orphans, and domain violations — as one
    * unioned (check, n) summary. Each per-table block is a single scan
    * with conditional aggregates; the orphan checks are anti-joins that
    * Spark plans as broadcast/shuffled hash anti joins. All counts are
    * BIGINT on both engines.
    */
  def dataQualityAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, d)
    val lineitem = Tables.lineitem(spark, d)
    val customer = Tables.customer(spark, d)
    val documents = Tables.documents(spark, d)

    val ordersChecks = orders.agg(
      count(lit(1)).as("c0"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("c1"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("c2"),
      sum(when($"o_totalprice" <= 0, 1L).otherwise(0L)).as("c3"))
      .select(expr("stack(4, 'orders_rows', c0, 'orders_null_custkey', c1, " +
        "'orders_dup_orderkey', c2, 'orders_nonpositive_price', c3) AS (check_name, n)"))
    val lineitemChecks = lineitem.agg(
      count(lit(1)).as("c0"),
      sum(when($"l_discount" < 0 || $"l_discount" > 1, 1L).otherwise(0L)).as("c1"),
      sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("c2"))
      .select(expr("stack(3, 'lineitem_rows', c0, 'lineitem_bad_discount', c1, " +
        "'lineitem_nonpositive_qty', c2) AS (check_name, n)"))
    val docChecks = documents.agg(
      count(lit(1)).as("c0"),
      (count(lit(1)) - countDistinct($"doc_id")).as("c1"),
      sum(when($"text".isNull || length(trim($"text")) === 0, 1L).otherwise(0L)).as("c2"))
      .select(expr("stack(3, 'documents_rows', c0, 'documents_dup_id', c1, " +
        "'documents_empty_text', c2) AS (check_name, n)"))
    val orphanOrders = orders.join(customer,
      orders("o_custkey") === customer("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("orders_orphan_custkey").as("check"), $"n")
    val orphanLines = lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("lineitem_orphan_orderkey").as("check"), $"n")

    ordersChecks.union(lineitemChecks).union(docChecks)
      .union(orphanOrders).union(orphanLines)
  }

  /** Event-transition matrix (first-order Markov): for each observed
    * (event_type → next event_type) pair per user timeline, the count
    * and the per-source-type transition probability. The lead() window
    * partitions on user_id (one data-scale shuffle); the transition
    * grid is |types|² — constant — so the probability window runs on a
    * bounded frame. The probability is a ratio of exact BIGINTs, so 4dp
    * rounding is engine-stable.
    */
  def eventTransitions(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wf = Window.partitionBy($"from_type")
    Tables.events(spark, d)
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        round($"n".cast("double") / sum($"n").over(wf), 4))
  }

  /** Gap-fill / forward-fill: error events carry no usable value, so
    * each user timeline fills them with the last non-null reading —
    * `last_value ... IGNORE NULLS` over the running frame, the idiom
    * sensor/metric pipelines run constantly. One user_id-partitioned
    * window, no extra state.
    */
  def windowGapFill(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, d)
      .withColumn("v", when($"event_type" === "error", lit(null)).otherwise($"value"))
      .select($"event_id", $"user_id",
        last($"v", ignoreNulls = true).over(w).as("filled"))
  }

  /** Entity-resolution fuzzy join over the part-name dictionary:
    * distinct names, blocked on the final token (the head noun), pairs
    * within a block at levenshtein distance <= [[MaxEditDistance]].
    * The classic blocked fuzzy-match shape: the quadratic step runs on
    * the DICTIONARY (distinct names — vocabulary-sized at any data
    * scale), never on the base table, and only inside blocks.
    */
  val MaxEditDistance = 3

  def fuzzyPartNames(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val names = Tables.part(spark, d)
      .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", element_at(split($"p_name", " "), -1))
    val a = names.select($"p_name".as("name_a"), $"n_parts".as("n_a"), $"blk")
    val b = names.select($"p_name".as("name_b"), $"n_parts".as("n_b"), $"blk")
    a.join(b, Seq("blk"))
      .filter($"name_a" < $"name_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= MaxEditDistance)
      .select($"name_a", $"name_b", $"dist", $"n_a", $"n_b")
  }

  /** Jaro-Winkler record-linkage tier over the same blocked part-name
    * dictionary as [[fuzzyPartNames]]: where that query gates on raw
    * edit DISTANCE (typo-sized, length-sensitive), this one scores with
    * the length-normalized prefix-boosted similarity record-linkage
    * systems actually rank by — a 2-char deletion in a 9-char name
    * ('cold bolt' → 'old bolt') fails dist <= 3 semantics differently
    * than jw >= 0.85 does, so the two tiers surface different pairs.
    * The scorer is the native codegen'd [[graft.functions.JaroWinkler]],
    * a bit-exact twin of DuckDB's `jaro_winkler_similarity` (identical
    * integer inputs + identical FP op order ⇒ identical doubles), so
    * the e4-grid output needs no tolerance. Quadratic work runs on the
    * blocked DICTIONARY (distinct names), never the base table — at
    * 100 TB the dictionary is vocabulary-sized and the block cap
    * bounds every bucket.
    */
  val MinJwE4 = 8500L

  def entityMatchJw(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val names = Tables.part(spark, d)
      .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", element_at(split($"p_name", " "), -1))
    val a = names.select($"p_name".as("name_a"), $"n_parts".as("n_a"), $"blk")
    val b = names.select($"p_name".as("name_b"), $"n_parts".as("n_b"), $"blk")
    a.join(b, Seq("blk"))
      .filter($"name_a" < $"name_b")
      .withColumn("jw_e4",
        round(Native(es => JaroWinkler(es(0), es(1)), $"name_a", $"name_b") * 10000, 0).cast("long"))
      .filter($"jw_e4" >= MinJwE4)
      .select($"name_a", $"name_b", $"jw_e4", $"n_a", $"n_b")
  }

  /** Positional multi-touch attribution — the ad-tech complement of
    * [[graft.streaming.EventStreams.clickAttributionBatch]]'s last-touch
    * count: every touch (view/click/signup) is assigned to the NEXT
    * purchase of the same user in stream order within a
    * [[AttribWindowDays]]-day lookback, then conversion credit splits
    * across the path by two standard rules —
    *
    *   - linear: 1e6 div n per touch
    *   - U-shaped: 40%/20%-split/40% (first/middles/last), with the
    *     n=1 → 100% and n=2 → 50/50 degenerations
    *
    * Credit lives on the integer e6 grid (floor division both engines:
    * Spark `div`, DuckDB `//`), so per-channel sums are BIGINT-exact —
    * the rounding remainder is deliberately dropped, not redistributed,
    * and the same remainder drops on both engines.
    *
    * Scale shape: "next purchase" is ONE descending (user, ts) window
    * carrying the nearest following purchase backward (no interval
    * join, no per-pair explode); path position/size is a second window
    * keyed by the purchase; the final per-channel aggregate is
    * 5-row-bounded. Two user-keyed exchanges total, volume-linear
    * state, no skew quadratic (a hot user costs one sorted partition
    * pass, the [[graft.relational.Skew]] sessionize_bucketed escape
    * applies if a single user ever dominates a task).
    */
  val AttribWindowDays = 7
  val TouchTypes = Seq("view", "click", "signup")

  def attributionMultitouch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, d)
      .select($"user_id", $"event_id", $"ts", $"event_type")
    // stream-order scan, reversed: carry the nearest FOLLOWING purchase
    // (ts, event_id) back onto every earlier event of the same user
    val wDesc = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withNext = e
      .withColumn("p_id",
        last(when($"event_type" === "purchase", $"event_id"),
          ignoreNulls = true).over(wDesc))
      .withColumn("p_ts",
        last(when($"event_type" === "purchase", $"ts"),
          ignoreNulls = true).over(wDesc))
    val touches = withNext
      .filter($"event_type".isin(TouchTypes: _*))
      .filter($"p_id".isNotNull &&
        (unix_micros($"p_ts") - unix_micros($"ts")) <=
          lit(AttribWindowDays * 86400L * 1000000L))
    val wPath = Window.partitionBy($"user_id", $"p_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val credited = touches
      .withColumn("pos", row_number().over(wPath).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy($"user_id", $"p_id")))
      .withColumn("linear_e6", expr("1000000 div n"))
      .withColumn("ushape_e6",
        when($"n" === 1L, lit(1000000L))
          .when($"n" === 2L, lit(500000L))
          .when($"pos" === 1L || $"pos" === $"n", lit(400000L))
          .otherwise(expr("200000 div (n - 2)")))
    credited.groupBy($"event_type".as("channel"))
      .agg(count(lit(1)).as("touches"),
        countDistinct($"p_id").as("conversions"),
        sum($"linear_e6").as("linear_credit_e6"),
        sum($"ushape_e6").as("ushape_credit_e6"))
  }

  /** Ordered-sequence funnel with a time constraint (the ClickHouse
    * `windowFunnel` shape, which plain [[funnelStages]]-style distinct
    * counting cannot express): per user, the deepest prefix of
    * view → click → purchase completed IN ORDER within
    * [[FunnelWindowMicros]] of the anchoring view. Chain order is
    * stream order ((mic, event_id) — the [[attributionMultitouch]]
    * convention).
    *
    * No pattern-join explosion: step 2→3 is ONE descending per-user
    * window carrying each click's next purchase backward; step 1→2 is
    * ONE ascending RANGE frame (earliest click in (v, v+W]); the two
    * meet in a (user, click-time) equi-join against the deduplicated
    * click table. Greedy earliest-click is provably optimal here: for
    * clicks c1 < c2 inside the window, next_purchase(c1) <=
    * next_purchase(c2), so the earliest click maximizes the chance the
    * purchase lands before the deadline. All comparisons are BIGINT
    * micros — nothing FP.
    */
  val FunnelWindowMicros: Long = 3600L * 1000000L

  def funnelWindowDepth(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("mic"),
        $"event_type")
    // each event's next purchase, STRICTLY later in stream order
    val wDesc = Window.partitionBy($"user_id")
      .orderBy($"mic".desc, $"event_id".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val clicks = e
      .withColumn("next_p_mic",
        min(when($"event_type" === "purchase", $"mic")).over(wDesc))
      .filter($"event_type" === "click")
      // equal-time clicks collapse to the best (earliest) next purchase
      .groupBy($"user_id", $"mic".as("c_mic"))
      .agg(min($"next_p_mic").as("next_p_mic"))
    // earliest click strictly after each view, within the window
    val wRange = Window.partitionBy($"user_id").orderBy($"mic")
      .rangeBetween(1L, FunnelWindowMicros)
    val views = e
      .withColumn("c_mic",
        min(when($"event_type" === "click", $"mic")).over(wRange))
      .filter($"event_type" === "view")
    val depths = views
      .join(clicks, Seq("user_id", "c_mic"), "left")
      .withColumn("depth",
        when($"c_mic".isNull, 1L)
          .when($"next_p_mic".isNull ||
            $"next_p_mic" > $"mic" + FunnelWindowMicros, 2L)
          .otherwise(3L))
      .groupBy($"user_id").agg(max($"depth").as("depth"))
    depths.groupBy($"depth").agg(count(lit(1)).as("n_users"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each order draws an exponential key -ln(u)/w from a content-hash
    * uniform u and its price as weight w; the global bottom-
    * [[WeightedSampleK]] keys are the sample. Keys are scaled and
    * rounded to 4dp before ranking (tie-break o_orderkey) so the
    * selection cannot depend on last-ulp ln() differences between
    * engines. Compiles to TakeOrderedAndProject: per-partition heaps +
    * driver merge, no global sort, rerun-stable at any partitioning.
    */
  val WeightedSampleK = 200

  def weightedSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, d)
      .withColumn("u",
        (graft.text.Dedup.md5Prefix32($"o_orderkey".cast("string"), 1)
          .cast("double") + 0.5) / 4294967296.0)
      .withColumn("skey", round(-log($"u") * 100000.0 / $"o_totalprice", 4))
      .orderBy($"skey".asc, $"o_orderkey".asc)
      .limit(WeightedSampleK)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice", $"skey")
  }

  /** Market-basket co-occurrence: the top 20 part pairs appearing in the
    * same order, deterministic tie-break (count desc, then pair ids).
    * Pair generation is ONE groupBy(orderkey) building the distinct
    * sorted basket (collect_set is map-side combined), then an
    * in-array C(k,2) pair explode — no keyed self-join: the join
    * formulation shuffles the item list three times (distinct, both
    * join branches), this shape shuffles once before the pair count's
    * own exchange (measured ~2x at sf0.1; re-measured head-to-head at
    * sf10 in r8: join form 41 s / 39 GB spill / 2.3 GB shuffle vs this
    * shape 31 s / 36 GB / 1.8 GB — the spill lives in the shared ~90M-row
    * pair aggregate, not in the basket-building object agg, so the
    * single-shuffle shape wins at BOTH scales). Fan-out per order is
    * C(items,2), so the basket is HARD-CAPPED at [[MaxBasket]] items
    * before pairing (`slice` of the ascending-sorted distinct basket =
    * the [[graft.text.Dedup.MaxBucket]] discipline): one degenerate
    * 100k-item cart at 100x scale would otherwise explode a single row
    * into 5e9 pairs inside the explode. The cap keeps fan-out <=
    * C(64,2) = 2016 pairs per order; the deterministic keep-lowest-ids
    * rule is the same recall trade MaxBucket records, and TPC-H-ish
    * orders (<= 7 items) are never touched by it.
    * AnalyticsSpec plants a degenerate giant basket to prove the bound.
    * Top-k compiles to TakeOrderedAndProject (per-partition heaps, no
    * global sort).
    */
  val BasketTopK = 20

  /** Per-order basket cap: pairs are mined over at most this many
    * (lowest-id) distinct parts per order.
    */
  val MaxBasket = 64

  /** Fixed-size-per-stratum deterministic sample: exactly K docs per
    * source, chosen by md5(doc_id) order — the fixed-N complement of
    * [[stratifiedSample]]'s fixed-RATE thresholds. Content-hash order
    * makes the pick independent of partitioning, engine, and rerun
    * (same property as orders_hash_sample); row_number over a
    * per-stratum window is one shuffle on the stratum key, and the
    * K-row-per-group filter is rank-pushdown-friendly
    * (WindowGroupLimit in the physical plan). The md5-order "shuffle
    * then take K" is exactly how large pipelines draw eval/holdout
    * slices per domain.
    */
  val StratTopN = 5

  def stratifiedTopN(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables.documents(spark, d)
      .select($"source", $"doc_id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= StratTopN)
  }

  /** Pre-top-k pair counts over any (l_orderkey, l_partkey) frame —
    * exposed so AnalyticsSpec can plant a degenerate 10k-item basket
    * and assert the [[MaxBasket]] cap bounds the explode.
    */
  def basketPairCounts(lineitems: DataFrame): DataFrame = {
    import lineitems.sparkSession.implicits._
    // r14: the pair explode — the corpus-scale inner loop — runs through
    // the native PairStructs expression instead of the nested
    // interpreted transform/slice lambdas (HOF lambdas are
    // CodegenFallback; the SQL spelling also allocated a sub-array per
    // element). Same (i < j) pairs in the same sorted order.
    lineitems
      .groupBy($"l_orderkey")
      .agg(slice(array_sort(collect_set($"l_partkey")), 1, MaxBasket).as("basket"))
      .select(explode(Native(es => PairStructs(es.head), $"basket")).as("p"))
      .groupBy($"p.part_a".as("part_a"), $"p.part_b".as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
  }

  def basketPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    basketPairCounts(Tables.lineitem(spark, d))
      .orderBy($"n_orders".desc, $"part_a".asc, $"part_b".asc)
      .limit(BasketTopK)
  }

  /** Sequential-pattern mining (order-3): the top 20 consecutive
    * event-type trigrams across user timelines — "what do users do in
    * what order", the path-analysis counterpart of [[eventTransitions]]'
    * first-order matrix. Two stacked lead()s on ONE user_id shuffle
    * build the trigram, then a bounded (|types|³) aggregate ranks via
    * TakeOrderedAndProject. Timeline order is (ts, event_id) — the
    * catalog-wide total tiebreak, so the trigram stream is deterministic.
    */
  val SeqTopK = 20

  def eventSeqTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .filter($"e2".isNotNull && $"e3".isNotNull)
      .groupBy($"event_type".as("e1"), $"e2", $"e3")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"e1".asc, $"e2".asc, $"e3".asc)
      .limit(SeqTopK)
  }

  // ---------------------------------------------------------------- oracles

  private def stratifiedOracle: String = {
    val cases = sampleThresholds
      .map { case (p, t) => s"WHEN o_orderpriority = '$p' THEN $t" }
      .mkString("\n           ")
    s"""SELECT o_orderpriority,
       |       count(*) AS n_sampled,
       |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS sum_price,
       |       min(o_orderkey) AS min_key
       |FROM orders
       |WHERE CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
       |      < CASE $cases ELSE -1 END
       |GROUP BY o_orderpriority""".stripMargin
  }

  /** Two-proportion z-test on same-day click→purchase conversion
    * between the two deterministic experiment arms (user_id parity —
    * the hash-bucket assignment an experimentation platform uses) —
    * the A/B readout every product analytics deployment runs. Unit =
    * a user-day with ≥1 click; converted ⇔ that user-day also has ≥1
    * purchase. Per arm: unit count, converter count, rates, and the
    * pooled-variance z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)).
    *
    * Shape: ONE per-(user, day) flag aggregate (map-side combined)
    * then a 2-row arm fold; all counts exact BIGINTs, FP only in the
    * rate divisions and the final z, identical op order both engines,
    * 6dp-rounded, −0.0-normalized (z is signed), degenerate pooled
    * rate guarded to z = 0.
    */
  def abConversionZtest(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val arms = Tables.events(spark, d)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(
        max(when($"event_type" === "click", 1L).otherwise(0L)).as("clk"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .filter($"clk" === 1L)
      .groupBy(($"user_id" % 2).as("arm"))
      .agg(count(lit(1)).as("n"), sum($"conv").as("x"))
    val g = arms.agg(
      sum(when($"arm" === 0L, $"n").otherwise(0L)).as("n_a"),
      sum(when($"arm" === 0L, $"x").otherwise(0L)).as("x_a"),
      sum(when($"arm" === 1L, $"n").otherwise(0L)).as("n_b"),
      sum(when($"arm" === 1L, $"x").otherwise(0L)).as("x_b"))
    val pA = $"x_a".cast("double") / $"n_a".cast("double")
    val pB = $"x_b".cast("double") / $"n_b".cast("double")
    val pool = ($"x_a" + $"x_b").cast("double") /
      ($"n_a" + $"n_b").cast("double")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / $"n_a".cast("double") + lit(1.0) / $"n_b".cast("double")))
    g.select(
      $"n_a", $"x_a", $"n_b", $"x_b",
      (round(pA, 6) + lit(0.0)).as("p_a"),
      (round(pB, 6) + lit(0.0)).as("p_b"),
      when(se > 0.0, round((pA - pB) / se, 6) + lit(0.0))
        .otherwise(lit(0.0)).as("z"))
  }

  private def abOracle: String =
    """WITH conv AS (
      |  SELECT user_id,
      |    CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS clk,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS conv
      |  FROM events
      |  GROUP BY user_id,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)),
      |arms AS (
      |  SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(conv) AS BIGINT) AS x
      |  FROM conv WHERE clk = 1 GROUP BY 1),
      |g AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS x_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS x_b
      |  FROM arms)
      |SELECT n_a, x_a, n_b, x_b,
      |  round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) + 0.0 AS p_a,
      |  round(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) + 0.0 AS p_b,
      |  CASE WHEN sqrt(
      |      (CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
      |      (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
      |      (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0.0
      |    THEN round(
      |      (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
      |       CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
      |      sqrt(
      |        (CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
      |        (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) *
      |        (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))),
      |      6) + 0.0
      |    ELSE 0.0 END AS z
      |FROM g""".stripMargin

  /** Cohort lifetime-value curve — the revenue companion of
    * [[cohortRetention]] (retention counts heads; LTV counts money,
    * and the CUMULATIVE per-age curve is what a payback model reads):
    * per signup cohort (month of first order) and month age ≤ 12, the
    * order count, period revenue, and running cumulative revenue.
    *
    * Same two-aggregate shape as retention (first-order month via one
    * customer-keyed aggregate joined back, then the bounded
    * (cohort × age) grid, ≤ ~months² cells at ANY corpus size); the
    * cumulative is a window over the bounded grid. Revenue rides the
    * exact cent grid; /100 at emission.
    */
  def cohortLtv(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val om = Tables.orders(spark, d)
      .select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long")
          .as("m"),
        round($"o_totalprice" * 100, 0).cast("long").as("cents"))
    val first = om.groupBy($"o_custkey").agg(min($"m").as("m0"))
    val grid = om.join(first, "o_custkey")
      .filter($"m" - $"m0" <= 12)
      .groupBy($"m0", ($"m" - $"m0").as("months_since"))
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("rev_cents"))
    val w = Window.partitionBy($"m0").orderBy($"months_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_cents", sum($"rev_cents").over(w))
      .select(
        make_date(floor(($"m0" - 1) / 12).cast("int"),
          (($"m0" - 1) % 12 + 1).cast("int"), lit(1)).as("cohort_month"),
        $"months_since", $"n_orders",
        ($"rev_cents".cast("double") / 100).as("revenue"),
        ($"cum_cents".cast("double") / 100).as("cum_revenue"))
  }

  private def ltvOracle: String =
    """WITH om AS (
      |  SELECT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT o_custkey, min(m) AS m0 FROM om GROUP BY o_custkey),
      |grid AS (
      |  SELECT m0, m - m0 AS months_since,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(cents) AS BIGINT) AS rev_cents
      |  FROM om JOIN f USING (o_custkey)
      |  WHERE m - m0 <= 12 GROUP BY 1, 2)
      |SELECT make_date(CAST((m0 - 1) // 12 AS INT),
      |                 CAST((m0 - 1) % 12 + 1 AS INT), 1) AS cohort_month,
      |  months_since, n_orders,
      |  CAST(rev_cents AS DOUBLE) / 100 AS revenue,
      |  CAST(sum(rev_cents) OVER (PARTITION BY m0 ORDER BY months_since
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
      |    AS cum_revenue
      |FROM grid""".stripMargin

  /** Poisson-bootstrap 95% CI for the A/B conversion-rate uplift — the
    * interval [[abConversionZtest]]'s asymptotic z cannot honestly
    * provide on small or skewed arms: per resample b, every user-day
    * unit gets the deterministic Poisson(1) multiplier of a 32-bit
    * lane of md5(user ':' day ':' ⌊b/4⌋) ([[StatModels.bootstrapCi]]'s
    * no-shuffle-resampling discipline — all 64 replicates fold in ONE
    * narrow pass with map-side combine onto 2·B group rows), and
    * uplift_b = p̂_A(b) − p̂_B(b); the CI bounds are order statistics
    * of the B-row bounded table. Per-resample sums are BIGINT-exact;
    * FP enters at the two divisions per resample and the final
    * 6dp-rounded, −0.0-normalized signed outputs.
    */
  def abUpliftBootstrap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val B = StatModels.BootB
    val units = Tables.events(spark, d)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(
        max(when($"event_type" === "click", 1L).otherwise(0L)).as("clk"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("conv"))
      .filter($"clk" === 1L)
      .select($"user_id", $"day", ($"user_id" % 2).as("arm"), $"conv")
    val point = units.groupBy($"arm")
      .agg(count(lit(1)).as("n"), sum($"conv").as("x"))
      .agg(
        sum(when($"arm" === 0L, $"n").otherwise(0L)).as("n_a"),
        sum(when($"arm" === 0L, $"x").otherwise(0L)).as("x_a"),
        sum(when($"arm" === 1L, $"n").otherwise(0L)).as("n_b"),
        sum(when($"arm" === 1L, $"x").otherwise(0L)).as("x_b"))
    // 4 draws per digest ([[StatModels.bootstrapCi]]'s lane scheme):
    // md5(user ':' day ':' ⌊b/4⌋) split into four 32-bit hex lanes.
    // Explicit-count repartition before the 64x explode for the same
    // reason as bootstrapCi: units is post-shuffle, and AQE coalesces
    // its few-MB exchange to one partition, serializing the md5 kernel
    // r14: the whole resampling fold is ONE typed aggregate (see
    // [[StatModels.bootstrapCi]] / [[graft.functions.BootFold]]) — the
    // unit key prefix is user ':' day exactly as the md5 concat spelled
    // it, and the four arm-conditional sums ride as weight cells; the
    // 64× explode and the groupBy(b) exchange disappear.
    val foldC = Native(
      es => BootFold(es(0), es(1), B, 4, StatModels.bootThresholds.toArray)
        .toAggregateExpression(),
      concat($"user_id".cast("string"), lit(":"), $"day".cast("string")),
      array(
        when($"arm" === 0L, $"conv").otherwise(0L),
        when($"arm" === 0L, 1L).otherwise(0L),
        when($"arm" === 1L, $"conv").otherwise(0L),
        when($"arm" === 1L, 1L).otherwise(0L)))
    val ups = units
      .repartition(spark.sparkContext.defaultParallelism,
        $"user_id", $"day")
      .agg(foldC.as("cells"))
      .select(posexplode($"cells").as(Seq("b", "s")))
      .select($"b",
        (element_at($"s", 1).cast("double") /
          element_at($"s", 2).cast("double") -
          element_at($"s", 3).cast("double") /
            element_at($"s", 4).cast("double")).as("uplift_b"))
    val rnW = Window.orderBy($"uplift_b", $"b")
    val loRank = (B - 1) * 25 / 1000 + 1
    val hiRank = (B - 1) * 975 / 1000 + 1
    val ci = ups.withColumn("rn", row_number().over(rnW))
      .agg(
        count(lit(1)).as("n_resamples"),
        max(when($"rn" === loRank, $"uplift_b")).as("lo"),
        max(when($"rn" === hiRank, $"uplift_b")).as("hi"))
    point.crossJoin(broadcast(ci)).select(
      $"n_a", $"n_b", $"n_resamples",
      (round($"x_a".cast("double") / $"n_a".cast("double") -
        $"x_b".cast("double") / $"n_b".cast("double"), 6) + lit(0.0))
        .as("uplift"),
      (round($"lo", 6) + lit(0.0)).as("ci_lo"),
      (round($"hi", 6) + lit(0.0)).as("ci_hi"))
  }

  /** Quantile (rank) transform of event values — the feature-
    * engineering normalizer that maps every value to its empirical
    * CDF position in per-mille (robust to any monotone distortion of
    * the raw scale; what "quantile normalization" means in sklearn
    * terms, exact instead of subsampled): cdf_permille(v) =
    * 1000·|{x ≤ v}| / n.
    *
    * The CDF is exact integer counts over the value-bounded cent grid
    * (single-partition cumulative window on the bounded frequency
    * table), broadcast back onto one event scan — same two-exchange
    * shape as [[graft.relational.StatModels.spearmanDocSignals]]'
    * rank tables; all integer arithmetic (integer div).
    */
  def quantileTransformValues(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
      .select($"event_id", round($"value" * 100, 0).cast("long").as("c"))
    val w = Window.orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val cdf = ev.groupBy($"c").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wAll))
      .select($"c", expr("(cum * 1000) div n").as("cdf_permille"))
    ev.join(broadcast(cdf), "c")
      .select($"event_id", ($"c".cast("double") / 100).as("value"),
        $"cdf_permille")
  }

  private def qtOracle: String =
    """WITH ev AS (
      |  SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS c
      |  FROM events),
      |cdf AS (
      |  SELECT c, (cum * 1000) // n AS cdf_permille FROM (
      |    SELECT c,
      |      CAST(sum(cnt) OVER (ORDER BY c
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |        AS cum,
      |      CAST(sum(cnt) OVER () AS BIGINT) AS n
      |    FROM (SELECT c, CAST(count(*) AS BIGINT) AS cnt
      |          FROM ev GROUP BY c) f) g)
      |SELECT event_id, CAST(c AS DOUBLE) / 100 AS value, cdf_permille
      |FROM ev JOIN cdf USING (c)""".stripMargin

  /** Leave-one-out target encoding of `source` against document
    * length — the standard high-cardinality-categorical feature
    * (Micci-Barreca 2001) in its leakage-free form: each document's
    * encoding is the mean target of the OTHER documents of its
    * source, enc = (Σ_src − xᵢ)/(n_src − 1). The sums are exact
    * BIGINTs from ONE source-keyed aggregate broadcast back onto the
    * scan; the encoding is a single division of exact integers,
    * 6dp-rounded; singleton sources emit NULL (no peers to encode
    * from — the honest answer, not the global mean smoothing a
    * production system would layer on).
    */
  def targetEncodeLoo(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
      .select($"doc_id", $"source", $"n_chars")
    val agg = docs.groupBy($"source")
      .agg(sum($"n_chars").as("s"), count(lit(1)).as("n"))
    docs.join(broadcast(agg), "source")
      .select(
        $"doc_id", $"source", $"n_chars",
        when($"n" > 1L,
          round(($"s" - $"n_chars").cast("double") /
            ($"n" - 1L).cast("double"), 6) + lit(0.0))
          .otherwise(lit(null).cast("double")).as("loo_mean_chars"))
  }

  private def looOracle: String =
    """WITH agg AS (
      |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY source)
      |SELECT doc_id, source, n_chars,
      |  CASE WHEN n > 1
      |       THEN round(CAST(s - n_chars AS DOUBLE) / CAST(n - 1 AS DOUBLE),
      |                  6) + 0.0
      |       ELSE NULL END AS loo_mean_chars
      |FROM documents JOIN agg USING (source)""".stripMargin

  /** ABC / Pareto classification of customers by revenue: class A
    * carries the first 80% of cumulative revenue (descending), B the
    * next 15%, C the tail — the inventory-management classic (and the
    * data-layout heuristic for hot/warm/cold tiering). Classification
    * is at the VALUE level: the per-customer cent totals collapse onto
    * the value-frequency grid, the descending cumulative mass is exact
    * DECIMAL, and the two thresholds compare as integer
    * cross-multiplications (5·cum ≤ 4·T, 20·cum ≤ 19·T) — no division
    * anywhere, ties (equal revenue) land in the same class by
    * construction. The bounded class table broadcasts back onto the
    * customer totals; no global sort.
    */
  def abcClassification(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val cust = Tables.orders(spark, d)
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
    val w = Window.orderBy($"cents".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val classes = cust.groupBy($"cents").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(dec($"cents") * dec($"cnt")).over(w))
      .withColumn("tot", sum(dec($"cents") * dec($"cnt")).over(wAll))
      .select($"cents",
        when(dec(lit(5L)) * $"cum" <= dec(lit(4L)) * $"tot", "A")
          .when(dec(lit(20L)) * $"cum" <= dec(lit(19L)) * $"tot", "B")
          .otherwise(lit("C")).as("abc_class"))
    cust.join(broadcast(classes), "cents")
      .select($"o_custkey", ($"cents".cast("double") / 100).as("revenue"),
        $"abc_class")
  }

  private def abcOracle: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_custkey),
      |cls AS (
      |  SELECT cents,
      |    CASE WHEN 5 * cum <= 4 * tot THEN 'A'
      |         WHEN 20 * cum <= 19 * tot THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM (
      |    SELECT cents,
      |      sum(CAST(cents AS HUGEINT) * cnt) OVER (ORDER BY cents DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      sum(CAST(cents AS HUGEINT) * cnt) OVER () AS tot
      |    FROM (SELECT cents, CAST(count(*) AS BIGINT) AS cnt
      |          FROM cust GROUP BY cents) f) g)
      |SELECT o_custkey, CAST(cents AS DOUBLE) / 100 AS revenue, abc_class
      |FROM cust JOIN cls USING (cents)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "abc_classification" -> (abcClassification _),
    "quantile_transform_values" -> (quantileTransformValues _),
    "target_encode_loo" -> (targetEncodeLoo _),
    "ab_uplift_bootstrap" -> (abUpliftBootstrap _),
    "cohort_ltv" -> (cohortLtv _),
    "ab_conversion_ztest" -> (abConversionZtest _),
    "funnel_stages" -> (funnelStages _),
    "cohort_retention" -> (cohortRetention _),
    "sessions_concurrency" -> (sessionsConcurrency _),
    "scd2_compaction" -> (scd2Compaction _),
    "anomaly_zscore" -> (anomalyZscore _),
    "histogram_prices" -> (histogramPrices _),
    "stratified_sample" -> (stratifiedSample _),
    "stratified_topn" -> (stratifiedTopN _),
    "window_first_last" -> (windowFirstLast _),
    "data_quality_audit" -> (dataQualityAudit _),
    "event_transitions" -> (eventTransitions _),
    "window_gap_fill" -> (windowGapFill _),
    "fuzzy_part_names" -> (fuzzyPartNames _),
    "entity_match_jw" -> (entityMatchJw _),
    "attribution_multitouch" -> (attributionMultitouch _),
    "funnel_window_depth" -> (funnelWindowDepth _),
    "weighted_sample" -> (weightedSample _),
    "basket_pairs" -> (basketPairs _),
    "event_seq_topk" -> (eventSeqTopk _))

  private def upliftOracle: String = {
    val b = StatModels.BootB
    val loRank = (b - 1) * 25 / 1000 + 1
    val hiRank = (b - 1) * 975 / 1000 + 1
    s"""WITH units AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
       |    user_id % 2 AS arm,
       |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS conv
       |  FROM events
       |  GROUP BY 1, 2, 3
       |  HAVING max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1),
       |point AS (
       |  SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
       |  FROM units),
       |draws AS (
       |  SELECT arm, conv, g * 4 + lane AS b,
       |    CASE ${StatModels.poissonMultiplierSqlCases} ELSE 6 END AS m
       |  FROM (
       |    SELECT arm, conv, g, lane,
       |      CAST(CAST('0x' || substring(md5(
       |        CAST(user_id AS VARCHAR) || ':' || CAST(day AS VARCHAR)
       |        || ':' || CAST(g AS VARCHAR)), 1 + 8 * lane, 8)
       |        AS BIGINT) AS DOUBLE) / 4294967296e0 AS u
       |    FROM units, (SELECT unnest(range(${b / 4})) AS g) gg,
       |         (SELECT unnest(range(4)) AS lane) ll) bs),
       |ups AS (
       |  SELECT b,
       |    CAST(sum(CASE WHEN arm = 0 THEN m * conv ELSE 0 END) AS DOUBLE) /
       |    CAST(sum(CASE WHEN arm = 0 THEN m ELSE 0 END) AS DOUBLE) -
       |    CAST(sum(CASE WHEN arm = 1 THEN m * conv ELSE 0 END) AS DOUBLE) /
       |    CAST(sum(CASE WHEN arm = 1 THEN m ELSE 0 END) AS DOUBLE)
       |      AS uplift_b
       |  FROM draws GROUP BY b),
       |ci AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_resamples,
       |    max(CASE WHEN rn = $loRank THEN uplift_b END) AS lo,
       |    max(CASE WHEN rn = $hiRank THEN uplift_b END) AS hi
       |  FROM (SELECT uplift_b,
       |          row_number() OVER (ORDER BY uplift_b, b) AS rn
       |        FROM ups) r)
       |SELECT n_a, n_b, n_resamples,
       |  round(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
       |        CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) + 0.0 AS uplift,
       |  round(lo, 6) + 0.0 AS ci_lo,
       |  round(hi, 6) + 0.0 AS ci_hi
       |FROM point, ci""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "abc_classification" -> abcOracle,
    "quantile_transform_values" -> qtOracle,
    "target_encode_loo" -> looOracle,
    "ab_uplift_bootstrap" -> upliftOracle,
    "cohort_ltv" -> ltvOracle,
    "ab_conversion_ztest" -> abOracle,
    "stratified_topn" ->
      s"""SELECT source, doc_id, rk FROM (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents) t
         |WHERE rk <= $StratTopN""".stripMargin,
    "event_seq_topk" ->
      s"""WITH t AS (
         |  SELECT event_type AS e1,
         |    lead(event_type, 1) OVER w AS e2,
         |    lead(event_type, 2) OVER w AS e3
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT e1, e2, e3, count(*) AS n
         |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY n DESC, e1, e2, e3
         |LIMIT $SeqTopK""".stripMargin,
    "basket_pairs" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |capped AS (
         |  SELECT ok, pk FROM (
         |    SELECT ok, pk,
         |           row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
         |    FROM items)
         |  WHERE rn <= $MaxBasket)
         |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
         |FROM capped a JOIN capped b ON a.ok = b.ok AND a.pk < b.pk
         |GROUP BY 1, 2
         |ORDER BY n_orders DESC, part_a, part_b
         |LIMIT $BasketTopK""".stripMargin,
    "funnel_stages" ->
      """WITH w1 AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_view
        |  FROM events),
        |w2 AS (
        |  SELECT *,
        |         CASE WHEN event_type = 'click' AND seen_view IS NOT NULL THEN ts END AS qclick_ts,
        |         min(CASE WHEN event_type = 'click' AND seen_view IS NOT NULL THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_qclick
        |  FROM w1),
        |u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
        |         max(CASE WHEN qclick_ts IS NOT NULL THEN 1 ELSE 0 END) AS s2,
        |         max(CASE WHEN event_type = 'purchase' AND seen_qclick IS NOT NULL
        |                  THEN 1 ELSE 0 END) AS s3
        |  FROM w2 GROUP BY user_id)
        |SELECT 'view' AS stage, CAST(sum(s1) AS BIGINT) AS n_users FROM u
        |UNION ALL
        |SELECT 'view>click', CAST(sum(s2) AS BIGINT) FROM u
        |UNION ALL
        |SELECT 'view>click>purchase', CAST(sum(s3) AS BIGINT) FROM u""".stripMargin,
    "cohort_retention" ->
      """WITH om AS (
        |  SELECT o_custkey,
        |         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS m0 FROM om GROUP BY o_custkey)
        |SELECT make_date(CAST(floor((m0 - 1) / 12) AS INT),
        |                 CAST((m0 - 1) % 12 + 1 AS INT), 1) AS cohort_month,
        |       om.m - f.m0 AS months_since,
        |       count(DISTINCT om.o_custkey) AS n_active
        |FROM om JOIN f ON om.o_custkey = f.o_custkey
        |WHERE om.m - f.m0 <= 12
        |GROUP BY m0, om.m - f.m0""".stripMargin,
    "sessions_concurrency" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess,
        |         event_id
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM x),
        |iv AS (
        |  SELECT user_id, sess, min(ts) AS st, max(ts) AS en
        |  FROM s GROUP BY user_id, sess)
        |SELECT CAST(h AS TIMESTAMP) AS hour, count(*) AS n_active
        |FROM (SELECT unnest(generate_series(date_trunc('hour', st),
        |                                    date_trunc('hour', en),
        |                                    INTERVAL 1 HOUR)) AS h
        |      FROM iv) t
        |GROUP BY h""".stripMargin,
    "scd2_compaction" ->
      """WITH x AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |         CASE WHEN lag(o_orderstatus) OVER w IS NULL
        |                OR o_orderstatus <> lag(o_orderstatus) OVER w
        |              THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |g AS (
        |  SELECT *,
        |         sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM x),
        |iv AS (
        |  SELECT o_custkey, grp, o_orderstatus,
        |         min(o_orderdate) AS vf, count(*) AS n_orders
        |  FROM g GROUP BY o_custkey, grp, o_orderstatus)
        |SELECT o_custkey, o_orderstatus,
        |       CAST(vf AS DATE) AS valid_from,
        |       CAST(lead(vf) OVER (PARTITION BY o_custkey ORDER BY grp) AS DATE) AS valid_to,
        |       n_orders
        |FROM iv""".stripMargin,
    "anomaly_zscore" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS revenue
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |st AS (SELECT avg(revenue) AS mu, stddev_samp(revenue) AS sd FROM daily)
        |SELECT day, revenue, round((revenue - mu) / sd, 4) + 0.0 AS z
        |FROM daily, st
        |WHERE abs((revenue - mu) / sd) > 2""".stripMargin,
    "histogram_prices" ->
      """SELECT least(CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 500000,
        |             20) AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
        |FROM lineitem
        |GROUP BY 1""".stripMargin,
    "stratified_sample" -> stratifiedOracle,
    "event_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |g AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM t WHERE to_type IS NOT NULL
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 4) AS prob
        |FROM g""".stripMargin,
    "window_gap_fill" ->
      """SELECT event_id, user_id,
        |       last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events""".stripMargin,
    "fuzzy_part_names" ->
      s"""WITH names AS (
         |  SELECT p_name, count(*) AS n_parts,
         |         string_split(p_name, ' ')[len(string_split(p_name, ' '))] AS blk
         |  FROM part GROUP BY p_name)
         |SELECT a.p_name AS name_a, b.p_name AS name_b,
         |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
         |       a.n_parts AS n_a, b.n_parts AS n_b
         |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
         |WHERE levenshtein(a.p_name, b.p_name) <= $MaxEditDistance""".stripMargin,
    "funnel_window_depth" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS mic, event_type
         |  FROM events),
         |np AS (
         |  SELECT *,
         |    min(CASE WHEN event_type = 'purchase' THEN mic END) OVER
         |      (PARTITION BY user_id ORDER BY mic DESC, event_id DESC
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_p_mic
         |  FROM e),
         |clicks AS (
         |  SELECT user_id, mic AS c_mic, min(next_p_mic) AS next_p_mic
         |  FROM np WHERE event_type = 'click' GROUP BY 1, 2),
         |vc AS (
         |  SELECT user_id, mic, c_mic FROM (
         |    SELECT user_id, mic, event_type,
         |      min(CASE WHEN event_type = 'click' THEN mic END) OVER
         |        (PARTITION BY user_id ORDER BY mic
         |         RANGE BETWEEN 1 FOLLOWING AND $FunnelWindowMicros FOLLOWING)
         |        AS c_mic
         |    FROM e) x
         |  WHERE event_type = 'view'),
         |dpt AS (
         |  SELECT vc.user_id,
         |    CAST(max(CASE WHEN vc.c_mic IS NULL THEN 1
         |             WHEN clicks.next_p_mic IS NULL
         |                  OR clicks.next_p_mic > vc.mic + $FunnelWindowMicros
         |             THEN 2 ELSE 3 END) AS BIGINT) AS depth
         |  FROM vc LEFT JOIN clicks
         |    ON vc.user_id = clicks.user_id AND vc.c_mic = clicks.c_mic
         |  GROUP BY vc.user_id)
         |SELECT depth, CAST(count(*) AS BIGINT) AS n_users
         |FROM dpt GROUP BY depth""".stripMargin,
    "attribution_multitouch" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         |  FROM events),
         |nxt AS (
         |  SELECT *,
         |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END
         |               IGNORE NULLS) OVER w AS p_id,
         |    last_value(CASE WHEN event_type = 'purchase' THEN ts END
         |               IGNORE NULLS) OVER w AS p_ts
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |touches AS (
         |  SELECT * FROM nxt
         |  WHERE event_type IN ('view', 'click', 'signup')
         |    AND p_id IS NOT NULL
         |    AND epoch_us(p_ts) - epoch_us(ts)
         |        <= ${AttribWindowDays.toLong * 86400L * 1000000L}),
         |credited AS (
         |  SELECT event_type, user_id, p_id,
         |    CAST(row_number() OVER wp AS BIGINT) AS pos,
         |    CAST(count(*) OVER (PARTITION BY user_id, p_id) AS BIGINT) AS n
         |  FROM touches
         |  WINDOW wp AS (PARTITION BY user_id, p_id ORDER BY ts ASC, event_id ASC)),
         |scored AS (
         |  SELECT event_type, p_id,
         |    1000000 // n AS linear_e6,
         |    CASE WHEN n = 1 THEN 1000000
         |         WHEN n = 2 THEN 500000
         |         WHEN pos = 1 OR pos = n THEN 400000
         |         ELSE 200000 // (n - 2) END AS ushape_e6
         |  FROM credited)
         |SELECT event_type AS channel,
         |  CAST(count(*) AS BIGINT) AS touches,
         |  CAST(count(DISTINCT p_id) AS BIGINT) AS conversions,
         |  CAST(sum(linear_e6) AS BIGINT) AS linear_credit_e6,
         |  CAST(sum(ushape_e6) AS BIGINT) AS ushape_credit_e6
         |FROM scored GROUP BY event_type""".stripMargin,
    "entity_match_jw" ->
      s"""WITH names AS (
         |  SELECT p_name, count(*) AS n_parts,
         |         string_split(p_name, ' ')[len(string_split(p_name, ' '))] AS blk
         |  FROM part GROUP BY p_name)
         |SELECT a.p_name AS name_a, b.p_name AS name_b,
         |       CAST(round(jaro_winkler_similarity(a.p_name, b.p_name) * 10000, 0)
         |            AS BIGINT) AS jw_e4,
         |       a.n_parts AS n_a, b.n_parts AS n_b
         |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
         |WHERE CAST(round(jaro_winkler_similarity(a.p_name, b.p_name) * 10000, 0)
         |           AS BIGINT) >= $MinJwE4""".stripMargin,
    "weighted_sample" ->
      s"""SELECT o_orderkey, o_orderpriority, o_totalprice, skey FROM (
         |  SELECT o_orderkey, o_orderpriority, o_totalprice,
         |         round(-ln((CAST(CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5)
         |                   / 4294967296.0) * 100000.0 / o_totalprice, 4) AS skey
         |  FROM orders) t
         |ORDER BY skey ASC, o_orderkey ASC
         |LIMIT $WeightedSampleK""".stripMargin,
    "window_first_last" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(first_value(l_shipdate) OVER w AS DATE) AS first_ship,
        |       CAST(last_value(l_shipdate) OVER w AS DATE) AS last_ship,
        |       CAST(nth_value(l_shipdate, 2) OVER w AS DATE) AS second_ship,
        |       count(*) OVER w AS n_lines
        |FROM lineitem
        |WHERE l_orderkey % 7 = 0
        |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_shipdate
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "data_quality_audit" ->
      """SELECT 'orders_rows' AS check_name, count(*) AS n FROM orders
        |UNION ALL SELECT 'orders_null_custkey',
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders_dup_orderkey',
        |  count(*) - count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'orders_nonpositive_price',
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'lineitem_rows', count(*) FROM lineitem
        |UNION ALL SELECT 'lineitem_bad_discount',
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |UNION ALL SELECT 'lineitem_nonpositive_qty',
        |  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'documents_rows', count(*) FROM documents
        |UNION ALL SELECT 'documents_dup_id',
        |  count(*) - count(DISTINCT doc_id) FROM documents
        |UNION ALL SELECT 'documents_empty_text',
        |  CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM documents
        |UNION ALL SELECT 'orders_orphan_custkey',
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |UNION ALL SELECT 'lineitem_orphan_orderkey',
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))""".stripMargin)
}
