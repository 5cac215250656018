package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.Tables

/** In-database statistical modeling: per-group OLS regression and
  * per-source KL divergence — the "fit a small model inside the scan"
  * tier (trend detection per segment, mixture-drift diagnostics)
  * every analytics deployment layers over its fact tables.
  *
  * Reference basis: none (SURVEY.md §2.3 — the reference has no
  * statistical operators); companions to [[StatAudit]]'s Benford and
  * chi-square audits.
  *
  * Determinism: both operators follow the exact-sufficient-statistics
  * discipline — every cross-row aggregate is a sum of exact integers
  * (grid-scaled observations), carried in DECIMAL(38,0) on the Spark
  * side and HUGEINT on DuckDB so no scale overflows int64; the closed-
  * form estimates are then computed from identical correctly-rounded
  * doubles in identical operation order. No FP value is ever summed
  * across rows (the KL term sum is the one exception, at magnitudes
  * where a 6-decimal round absorbs association order, the
  * [[graft.text.TextAnalysis.unigramLogprob]] precedent).
  */
object StatModels extends graft.Catalog {

  /** Per-priority OLS of order value against time: slope (cents/day),
    * intercept, and Pearson correlation from the five exact sufficient
    * statistics n, Σx, Σy, Σxy, Σx², Σy² — the classic single-pass
    * distributed regression: one grouped aggregate, closed form on the
    * group row. x = epoch day, y = total price on the cent grid.
    */
  /** Robust anomaly detection by median absolute deviation — the
    * breakdown-resistant complement of [[Analytics.anomalyZscore]]
    * (mean/stddev are themselves dragged by the outliers they hunt;
    * median/MAD have 50% breakdown). Per event type: median value,
    * MAD, and the count of |v − med| > 3·MAD outliers.
    *
    * Scale shape — the whole operator is FREQUENCY-TABLE algebra: the
    * raw scan collapses once onto the (type, cent) grid (domain-
    * bounded: ≤ ~49k cells/type at ANY corpus size, map-side
    * combined), and medians come from cumulative counts over that
    * table — never a per-group value buffer (the exact-`percentile`
    * OOM shape) and never a global sort. The deviation pass re-derives
    * from the SAME checkpointed table, so events is scanned exactly
    * once. This is the by-group twin of
    * [[Quantiles.quantileNarrowExact]]'s whole-table narrowing.
    *
    * Exactness: medians are located as the two order statistics
    * ((n−1) div 2, n div 2) in BIGINT cumulative counts; med2/mad4
    * carry 2×/4× the cent value so interpolation stays integer; the
    * only FP is the final single correctly-rounded /200 and /400 back
    * to dollars (one op, identical integer inputs ⇒ identical doubles).
    * The outlier test 2·d2 > 3·mad4 is all-integer.
    */
  def anomalyMad(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val freq = Tables.events(spark, d)
      .select($"event_type", round($"value" * 100, 0).cast("long").as("c"))
      .groupBy($"event_type", $"c").agg(count(lit(1)).as("cnt"))
      .transform(graft.Ckpt.cut) // domain-bounded; three consumers, one scan
    val meds = medianFromFreq(freq).withColumnRenamed("med2", "med2")
    val dev = freq.join(broadcast(meds), "event_type")
      .select($"event_type", abs(lit(2L) * $"c" - $"med2").as("c"), $"cnt")
      .groupBy($"event_type", $"c").agg(sum($"cnt").as("cnt"))
    val mads = medianFromFreq(dev)
      .select($"event_type", $"med2".as("mad4"))
    freq.join(broadcast(meds), "event_type")
      .join(broadcast(mads), "event_type")
      .groupBy($"event_type")
      .agg(
        sum($"cnt").as("n"),
        first($"med2").as("med2"), first($"mad4").as("mad4"),
        sum(when(lit(2L) * abs(lit(2L) * $"c" - $"med2") > lit(3L) * $"mad4",
          $"cnt").otherwise(0L)).as("n_outliers"))
      .select($"event_type", $"n",
        ($"med2".cast("double") / 200).as("med"),
        ($"mad4".cast("double") / 400).as("mad"),
        $"n_outliers")
  }

  /** (key, n, med2) from a (event_type, c, cnt) frequency table: the
    * two middle order statistics by cumulative count, summed (2× the
    * interpolated median, exactly).
    */
  private def medianFromFreq(freq: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
    val wAll = Window.partitionBy(col("event_type"))
    freq
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("klo", expr("(n - 1) div 2"))
      .withColumn("khi", expr("n div 2"))
      .groupBy(col("event_type"))
      .agg(
        (min(when(col("cum") - col("cnt") <= col("klo") &&
          col("klo") < col("cum"), col("c"))) +
          min(when(col("cum") - col("cnt") <= col("khi") &&
            col("khi") < col("cum"), col("c")))).as("med2"))
  }

  def olsPriceTrend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val obs = Tables.orders(spark, d)
      .select($"o_orderpriority".as("priority"),
        datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"),
        round($"o_totalprice" * 100, 0).cast("long").as("y"))
    def dsum(e: org.apache.spark.sql.Column) =
      sum(e.cast("decimal(38,0)"))
    val g = obs.groupBy($"priority").agg(
      count(lit(1)).as("n"),
      dsum($"x").as("sx"), dsum($"y").as("sy"),
      dsum($"x" * $"y").as("sxy"),
      dsum($"x" * $"x").as("sxx"),
      dsum($"y" * $"y").as("syy"))
    // closed form on correctly-rounded doubles of the exact sums,
    // identical operation order on both engines
    val nD = $"n".cast("double")
    def dbl(c: String) = col(c).cast("double")
    val covN = nD * dbl("sxy") - dbl("sx") * dbl("sy")
    val varxN = nD * dbl("sxx") - dbl("sx") * dbl("sx")
    val varyN = nD * dbl("syy") - dbl("sy") * dbl("sy")
    g.select($"priority", $"n",
      round(covN / varxN, 6).as("slope"),
      round((dbl("sy") - covN / varxN * dbl("sx")) / nD, 4).as("intercept"),
      round(covN / (sqrt(varxN) * sqrt(varyN)), 6).as("corr"))
  }

  private def olsOracle: String =
    s"""WITH obs AS (
       |  SELECT o_orderpriority AS priority,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |         AS BIGINT) AS x,
       |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
       |  FROM orders),
       |g AS (
       |  SELECT priority, CAST(count(*) AS BIGINT) AS n,
       |    sum(x) AS sx, sum(y) AS sy,
       |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
       |  FROM obs GROUP BY priority)
       |SELECT priority, n,
       |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS slope,
       |  round((CAST(sy AS DOUBLE)
       |         - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) + 0.0 AS intercept,
       |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |           * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
       |    AS corr
       |FROM g""".stripMargin

  /** Per-source KL divergence of the token distribution from the
    * corpus distribution — the mixture-drift diagnostic behind
    * [[graft.pipeline.Curation]]'s rates: a source whose KL spikes has
    * shifted vocabulary. Exact counts end-to-end; the per-token
    * p·ln(p/q) terms are the only FP aggregation (6-decimal round
    * absorbs association order, magnitudes ≤ 1e1 over vocab-many
    * ≤ 1e-3 terms).
    */
  def sourceKl(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // the (source, token) count table is vocab-sized, not corpus-sized;
    // materialize it once — its three consumers (source totals, token
    // totals, the term join) must not re-tokenize the corpus each
    val st = Tables.documents(spark, d)
      .select($"source", explode(graft.text.TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c_st"))
      .transform(graft.Ckpt.cut)
    val srcTot = st.groupBy($"source").agg(sum($"c_st").as("c_s"))
    val tokTot = st.groupBy($"tok").agg(sum($"c_st").as("c_t"))
    val corpus = srcTot.agg(sum($"c_s").as("c_tot"))
    st.join(tokTot, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpus))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_types"),
        round(sum(
          ($"c_st".cast("double") / $"c_s".cast("double")) *
            log(($"c_st".cast("double") / $"c_s".cast("double")) /
              ($"c_t".cast("double") / $"c_tot".cast("double")))), 6)
          .as("kl"))
  }

  private def klOracle: String =
    s"""WITH st AS (
       |  SELECT source, t AS tok, CAST(count(*) AS BIGINT) AS c_st
       |  FROM (SELECT source,
       |          unnest(list_filter(string_split_regex(text, '\\s+'),
       |                             x -> x <> '')) AS t
       |        FROM documents) x
       |  GROUP BY source, t),
       |src AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS c_s
       |        FROM st GROUP BY source),
       |tok AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t
       |        FROM st GROUP BY tok),
       |corpus AS (SELECT CAST(sum(c_s) AS BIGINT) AS c_tot FROM src)
       |SELECT st.source AS source, CAST(count(*) AS BIGINT) AS n_types,
       |  round(sum(
       |    (CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE)) *
       |    ln((CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE)) /
       |       (CAST(c_t AS DOUBLE) / CAST(c_tot AS DOUBLE)))), 6) + 0.0 AS kl
       |FROM st
       |JOIN tok ON st.tok = tok.tok
       |JOIN src ON st.source = src.source
       |CROSS JOIN corpus
       |GROUP BY st.source""".stripMargin

  /** Zipf-law fit over the corpus vocabulary: OLS of ln(frequency)
    * against ln(rank) on the top-[[ZipfTop]] tokens — the corpus-health
    * "law" check (natural text fits slope ≈ −1; a corpus of boilerplate
    * or template spam bends the curve). Two-stage shape: the
    * vocabulary-sized frequency aggregate is distributed, the ranked
    * head is a bounded TakeOrdered cut (never a global sort), and the
    * [[ZipfTop]]-point regression is a driver fold on the exact 1e-6
    * log grid — the same bounded-fit reasoning as
    * [[Graph.pagerankNations]]'s contracted iteration. Grid terms keep
    * every cross-point sum an exact integer, so the driver fold and the
    * oracle's SQL aggregate agree bit for bit.
    */
  val ZipfTop = 1000

  def zipfFit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val top = Tables.documents(spark, d)
      .select(explode(graft.text.TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok".asc)
      .limit(ZipfTop)
      .collect()
    def grid(v: Double): Long =
      BigDecimal(v * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    val pts = top.zipWithIndex.map { case (r, i) =>
      (grid(math.log((i + 1).toDouble)), grid(math.log(r.getAs[Long]("c").toDouble)))
    }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum
    val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val covN = n * sxy.toDouble - sx.toDouble * sy.toDouble
    val varxN = n * sxx.toDouble - sx.toDouble * sx.toDouble
    val varyN = n * syy.toDouble - sy.toDouble * sy.toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((pts.length.toLong,
      r6(covN / varxN),
      r6((sy.toDouble - covN / varxN * sx.toDouble) / n / 1000000.0),
      r6(covN / (math.sqrt(varxN) * math.sqrt(varyN)))))
      .toDF("n_tokens", "slope", "intercept_ln", "corr")
  }

  private def zipfOracle: String =
    s"""WITH freq AS (
       |  SELECT t AS tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
       |                                  x -> x <> '')) AS t
       |        FROM documents) x
       |  GROUP BY t),
       |top AS (
       |  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
       |  FROM freq ORDER BY c DESC, tok ASC LIMIT $ZipfTop),
       |pts AS (
       |  SELECT CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
       |         CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
       |  FROM top),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM pts)
       |SELECT n AS n_tokens,
       |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS slope,
       |  round((CAST(sy AS DOUBLE)
       |         - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000e0, 6) + 0.0
       |    AS intercept_ln,
       |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |           * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
       |    AS corr
       |FROM g""".stripMargin

  /** RFM customer segmentation — recency / frequency / monetary tertile
    * scores (1..3, 3 best) against corpus-fitted boundaries, the
    * classic marketing-analytics segmentation. The per-customer
    * aggregate [1 exchange] is 100–1000× smaller than the fact table
    * and is materialized once for its three consumers (anchor date,
    * tertile boundaries, scoring). Boundaries use the exact
    * interpolating percentile for oracle parity (the
    * [[RelExtras.aggPercentiles]] convention) — at true 100 TB
    * customer cardinality the swap is `approx_percentile`, which
    * changes boundaries, not the operator shape. Recency anchors on
    * the corpus max order date (scale-free), monetary on the exact
    * cent grid.
    */
  def customerRfm(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val per = Tables.orders(spark, d)
      .groupBy($"o_custkey".as("custkey"))
      .agg(
        max($"o_orderdate".cast("date")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .transform(graft.Ckpt.cut)
    val bounds = per.agg(
      max($"last_order").as("anchor"),
      percentile($"frequency", lit(1.0 / 3)).as("f1"),
      percentile($"frequency", lit(2.0 / 3)).as("f2"),
      percentile($"cents", lit(1.0 / 3)).as("m1"),
      percentile($"cents", lit(2.0 / 3)).as("m2"))
    val scored = per.crossJoin(broadcast(bounds))
      .withColumn("recency_days",
        datediff($"anchor", $"last_order").cast("long"))
    // recency tertiles need the recency distribution, which needs the
    // anchor — second one-row fit over the small aggregate table
    val rb = scored.agg(
      percentile($"recency_days", lit(1.0 / 3)).as("r1"),
      percentile($"recency_days", lit(2.0 / 3)).as("r2"))
    scored.crossJoin(broadcast(rb))
      .select($"custkey", $"recency_days", $"frequency",
        ($"cents".cast("double") / 100).as("monetary"),
        when($"recency_days" <= $"r1", 3L)
          .when($"recency_days" <= $"r2", 2L).otherwise(1L).as("r_score"),
        when($"frequency" >= $"f2", 3L)
          .when($"frequency" >= $"f1", 2L).otherwise(1L).as("f_score"),
        when($"cents" >= $"m2", 3L)
          .when($"cents" >= $"m1", 2L).otherwise(1L).as("m_score"))
      .withColumn("rfm",
        concat($"r_score".cast("string"), $"f_score".cast("string"),
          $"m_score".cast("string")))
  }

  private def rfmOracle: String =
    s"""WITH per AS (
       |  SELECT o_custkey AS custkey,
       |    max(CAST(o_orderdate AS DATE)) AS last_order,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY o_custkey),
       |bounds AS (
       |  SELECT max(last_order) AS anchor,
       |    quantile_cont(frequency, 1.0 / 3) AS f1,
       |    quantile_cont(frequency, 2.0 / 3) AS f2,
       |    quantile_cont(cents, 1.0 / 3) AS m1,
       |    quantile_cont(cents, 2.0 / 3) AS m2
       |  FROM per),
       |scored AS (
       |  SELECT per.*, bounds.*,
       |    CAST(date_diff('day', last_order, anchor) AS BIGINT) AS recency_days
       |  FROM per, bounds),
       |rb AS (
       |  SELECT quantile_cont(recency_days, 1.0 / 3) AS r1,
       |         quantile_cont(recency_days, 2.0 / 3) AS r2
       |  FROM scored)
       |SELECT custkey, recency_days, frequency,
       |  CAST(cents AS DOUBLE) / 100 AS monetary,
       |  CAST(CASE WHEN recency_days <= r1 THEN 3
       |            WHEN recency_days <= r2 THEN 2 ELSE 1 END AS BIGINT) AS r_score,
       |  CAST(CASE WHEN frequency >= f2 THEN 3
       |            WHEN frequency >= f1 THEN 2 ELSE 1 END AS BIGINT) AS f_score,
       |  CAST(CASE WHEN cents >= m2 THEN 3
       |            WHEN cents >= m1 THEN 2 ELSE 1 END AS BIGINT) AS m_score,
       |  CAST(CASE WHEN recency_days <= r1 THEN 3
       |            WHEN recency_days <= r2 THEN 2 ELSE 1 END AS VARCHAR) ||
       |  CAST(CASE WHEN frequency >= f2 THEN 3
       |            WHEN frequency >= f1 THEN 2 ELSE 1 END AS VARCHAR) ||
       |  CAST(CASE WHEN cents >= m2 THEN 3
       |            WHEN cents >= m1 THEN 2 ELSE 1 END AS VARCHAR) AS rfm
       |FROM scored, rb""".stripMargin

  /** Market-concentration report over supplier revenue: Herfindahl–
    * Hirschman index and the top-[[TopShare]] suppliers' revenue share,
    * one row. HHI = Σᵢ sᵢ² needs NO ranking — it folds from the exact
    * per-supplier cent sums (Σ cᵢ² via DECIMAL(38), ÷ (Σ cᵢ)² in
    * double), so the concentration scalar costs one keyed aggregate at
    * any scale; only the bounded top-k cut touches order (TakeOrdered,
    * driver fold — the zipf discipline).
    */
  val TopShare = 10

  def revenueConcentration(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val per = Tables.lineitem(spark, d)
      .groupBy($"l_suppkey")
      .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 100, 0)
        .cast("long")).as("cents"))
      .transform(graft.Ckpt.cut)
    val g = per.agg(
      count(lit(1)).as("n_suppliers"),
      sum($"cents".cast("decimal(38,0)")).as("tot"),
      // cast BEFORE the square: the long x long product overflows at
      // scale; decimal x long stays exact
      sum($"cents".cast("decimal(38,0)") * $"cents").as("sq"))
      .collect()(0)
    val n = g.getAs[Long]("n_suppliers")
    val tot = g.getAs[java.math.BigDecimal]("tot").doubleValue()
    val sq = g.getAs[java.math.BigDecimal]("sq").doubleValue()
    val topCents = per.orderBy($"cents".desc, $"l_suppkey".asc)
      .limit(TopShare).collect().map(_.getAs[Long]("cents"))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((n, r6(sq / (tot * tot)),
      r6(topCents.map(_.toDouble).sum / tot)))
      .toDF("n_suppliers", "hhi", "top10_share")
  }

  /** Theil–Sen robust trend of daily revenue: the median of all
    * pairwise slopes (x = epoch day, y = daily cents), with the
    * companion robust intercept = median of (y_i − slope·x_i). The
    * 29.3%-breakdown complement of [[olsPriceTrend]]'s least squares
    * (one wild day drags OLS; the slope median shrugs), closing the
    * robust-statistics tier: MAD for location/spread ([[anomalyMad]]),
    * Theil–Sen for trend.
    *
    * Exactness: slopes live on the e6 grid via explicit FLOOR division
    * (slope_e6 = ⌊1e6·Δcents/Δdays⌋ — Spark `div` truncates toward
    * zero while DuckDB `//` floors negatives differently, so the floor
    * is spelled `(a − pmod(a, b)) div b` / `(a − ((a % b) + b) % b)
    * // b`, the [[TimeSeries.interpolateHourly]] convention); the
    * median is two order statistics in BIGINT cumulative counts (med2
    * carries 2× the value, the [[anomalyMad]] spelling); residuals are
    * computed in DECIMAL(38,0)/HUGEINT (1e6·y at the 100× corpus
    * brushes int64). The only FP is the final /2e6 display division of
    * identical exact integers.
    *
    * Scale shape: the daily aggregate is the only data-scale exchange.
    * The O(d²) pair set is CALENDAR-bounded (2.4k days → ≤2.9M pairs
    * per 6.5 fixture-years at ANY corpus size — bounded by time span,
    * not volume, the [[tsAutocorr]]/date_spine discipline). The two
    * medians run through [[FreqSelect.med2]]'s iterative histogram
    * narrowing — until r12 they were single-task cumulative-count
    * windows over the slope frequency table, the catalog's last
    * unpartitioned hot-path window and its only multi-process spiller
    * (698 MB at the r11 cluster bench); narrowing replaces that with
    * ≤B-row histogram passes over the cached frequency tables. The
    * slope scalar re-enters the residual pass as a literal.
    */
  /** Daily (x = epoch day, y = cents) series — the op checkpoints it;
    * exposed (with the slope/residual frequency builders below) so the
    * plan spec can gate the INTERNAL frames: theilsenTrend executes
    * eagerly and returns a LocalRelation, which the catalog-wide plan
    * gates cannot see through.
    */
  private[graft] def theilsenDaily(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .select(
        datediff($"day", lit("1970-01-01").cast("date")).cast("long").as("x"),
        $"cents".as("y"))
  }

  private[graft] def theilsenSlopesFreq(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    // (value, 1) rows, NOT a grouped frequency table: the e6 slope grid
    // is ~all-distinct (2,890,779 distinct of 2,890,810 pairs at the
    // 6.5-year fixture — measured), so the former groupBy(s) was a full
    // pair-set exchange that compressed nothing. FreqSelect only needs
    // (v, cnt) rows; cnt=1 keeps the multiset identical and drops the
    // only data-sized shuffle in the query. The calendar-bounded daily
    // side round-robins across the cores first (one ≤2.4k-row exchange)
    // so the pair fan-out — and every FreqSelect pass over its
    // checkpoint — stays parallel instead of inheriting the aggregate's
    // AQE-coalesced single partition.
    daily.repartition(daily.sparkSession.sparkContext.defaultParallelism).as("a")
      .join(broadcast(daily.as("b")), $"a.x" > $"b.x")
      .select(
        (($"a.y" - $"b.y") * 1000000L).as("a2"),
        // greatest(,1) is identity on every row the join keeps (a.x >
        // b.x ⇒ b2 ≥ 1); it exists because downstream range filters
        // (FreqSelect's pass-2+ narrowing, now above an UNmaterialized
        // lineage) are pushable into the nested-loop join, where Spark
        // may evaluate them on candidate pairs BEFORE the join
        // predicate prunes b2 = 0 — a bare pmod there throws
        // REMAINDER_BY_ZERO under ANSI (observed r14)
        greatest($"a.x" - $"b.x", lit(1L)).as("b2"))
      .select(expr("(a2 - pmod(a2, b2)) div b2").as("s"), lit(1L).as("cnt"))
  }

  private[graft] def theilsenResidFreq(daily: DataFrame,
      slopeMed2: BigInt): DataFrame = {
    import daily.sparkSession.implicits._
    daily
      .select(
        ($"y".cast("decimal(38,0)") * 2000000L -
          lit(new java.math.BigDecimal(slopeMed2.bigInteger)) * $"x").as("r"))
      .groupBy($"r").agg(count(lit(1)).as("cnt"))
  }

  def theilsenTrend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // calendar-bounded; pair + residual consumers
    val daily = theilsenDaily(spark, d)
      .transform(graft.Ckpt.cut)
    // materialize = false: both frequency lineages are BOUNDED work over
    // the checkpointed daily table (slope grid = broadcast NLJ pair
    // fan-out, residual grid = one ≤2.4k-row aggregate), so re-running
    // them per narrowing pass beats checkpointing and re-reading the
    // 2.9M-row slope output (r14 A/B; the materialization was most of
    // the query's 4.1 s jvmGCTime in BENCH_r14opt_before)
    val (nPairs, slopeMed2) =
      FreqSelect.med2(theilsenSlopesFreq(daily), "s", "cnt", materialize = false)
    val (nDays, rMed2) =
      FreqSelect.med2(theilsenResidFreq(daily, slopeMed2), "r", "cnt",
        materialize = false)
    Seq((nDays, nPairs,
      slopeMed2.toDouble / 2000000.0,
      // r carries 2x(1e6 y) and med2 doubles again -> /4e6 cents
      rMed2.toDouble / 4000000.0))
      .toDF("n_days", "n_pairs", "slope", "intercept_cents")
  }

  /** Gini coefficient of customer revenue — the inequality scalar
    * beside [[revenueConcentration]]'s HHI (HHI says "how dominated by
    * the top", Gini says "how unequal overall"; training-data curation
    * reads the same pair over source token counts). Formula
    * G = (2·Σᵢ i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-sorted values
    * — but computed WITHOUT any global sort: per-customer cent sums
    * collapse onto the cent-value frequency grid, ranks come from
    * cumulative counts over that (value-bounded) table, and the rank
    * sum for a tied value c with count k starting after m rows is
    * Σ_{i=m+1..m+k} i·c = c·(k·m + k(k+1)/2) — all exact integers,
    * DECIMAL(38,0)/HUGEINT where products pass int64. The two FP
    * divisions at the end run on identical correctly-rounded doubles.
    *
    * Scale shape: the per-customer aggregate is the only data-scale
    * exchange; the frequency table is bounded by the distinct cent
    * values, and its cumulative window is the [[anomalyMad]]
    * frequency-algebra discipline.
    */
  def revenueGini(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val per = Tables.orders(spark, d)
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
    val freq = per.groupBy($"cents").agg(count(lit(1)).as("k"))
    val wc = Window.orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    freq
      .withColumn("m", sum($"k").over(wc) - $"k")
      .select(
        $"k", $"cents",
        // rank-weighted sum for this tie block, exactly
        ($"cents".cast("decimal(38,0)") *
          ($"k" * $"m" + expr("(k * (k + 1)) div 2"))).as("rw"))
      .agg(
        sum($"k").as("n"),
        sum($"cents".cast("decimal(38,0)") * $"k").as("tot"),
        sum($"rw").as("rwsum"))
      .select($"n",
        ($"tot".cast("double") / lit(100.0)).as("total_revenue"),
        (round(
          lit(2.0) * $"rwsum".cast("double") /
            ($"n".cast("double") * $"tot".cast("double")) -
            ($"n" + 1L).cast("double") / $"n".cast("double"), 6) + lit(0.0))
          .as("gini"))
  }

  private def giniOracle: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |freq AS (
      |  SELECT cents, CAST(count(*) AS BIGINT) AS k FROM per GROUP BY 1),
      |cum AS (
      |  SELECT cents, k,
      |    CAST(sum(k) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - k AS m
      |  FROM freq),
      |g AS (
      |  SELECT CAST(sum(k) AS BIGINT) AS n,
      |    sum(CAST(cents AS HUGEINT) * k) AS tot,
      |    sum(CAST(cents AS HUGEINT) * (k * m + (k * (k + 1)) // 2)) AS rwsum
      |  FROM cum)
      |SELECT n,
      |  CAST(tot AS DOUBLE) / 100.0 AS total_revenue,
      |  round(2.0 * CAST(rwsum AS DOUBLE)
      |          / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
      |        - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS gini
      |FROM g""".stripMargin

  /** Number of bootstrap resamples. */
  val BootB = 64

  /** Cumulative Poisson(1) CDF thresholds c_k = e⁻¹·Σ_{j≤k} 1/j!,
    * k = 0..5 (P(m > 5) ≈ 6e-4 collapses to m = 6). Computed once and
    * the SAME doubles drive both engines — the Spark side via `lit`,
    * the oracle via shortest-round-trip literals with an `e0` suffix
    * (scientific notation parses as DOUBLE in both engines; a bare
    * 17-digit decimal literal would go through DECIMAL and could land
    * one ulp off).
    */
  private[graft] lazy val bootThresholds: Seq[Double] = {
    var term = 1.0
    var cum = 0.0
    (0 to 5).map { k =>
      if (k > 0) term /= k
      cum += term
      cum * math.exp(-1.0)
    }
  }

  /** Poisson(1) inverse-CDF multiplier of a uniform [0,1) draw —
    * the shared resampling kernel ([[bootstrapCi]],
    * [[Analytics.abUpliftBootstrap]]).
    */
  def poissonMultiplier(u: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column =
    bootThresholds.zipWithIndex.foldRight(lit(6L)) {
      case ((c, k), rest) => when(u < lit(c), k.toLong).otherwise(rest)
    }

  /** The same thresholds as SQL CASE arms (shortest-round-trip `e0`
    * literals — see [[bootThresholds]]).
    */
  def poissonMultiplierSqlCases: String =
    bootThresholds.zipWithIndex
      .map { case (c, k) => s"WHEN u < ${c}e0 THEN $k" }
      .mkString(" ")

  /** Poisson bootstrap of the mean order value (cents): the
    * uncertainty quantification every corpus-level point estimate
    * should ship with, in the only bootstrap shape that works at
    * 100 TB. Classical resampling draws n rows WITH replacement per
    * resample — a global shuffle per replicate; the Poisson bootstrap
    * (multinomial ≈ independent Poisson(1) multipliers, exact as
    * n → ∞) instead gives every row an i.i.d. multiplier PER RESAMPLE,
    * so all [[BootB]] replicates fold in ONE narrow scan with map-side
    * partial aggregation down to B group rows — no data shuffle at any
    * corpus size, the [[graft.pipeline.Curation.stratifiedSample]]
    * derandomization applied to inference.
    *
    * Determinism: the multiplier is the Poisson(1) inverse CDF of a
    * hash-uniform draw — md5(o_orderkey ':' ⌊b/4⌋) split into four
    * 8-hex-char lanes, lane b mod 4 over 2³² (one digest feeds 4
    * resamples; 32-bit resolution is far below the ~1e-3 threshold
    * granularity and a 32-bit integer / 2³² is exact in double) —
    * rerun-stable on both engines. Per-resample sums Σm·c, Σm are
    * BIGINT-exact; mean_b is one division of identical exact integers;
    * the 95% CI bounds are order statistics of the B=64 resample means
    * (ranks 2 and 62), located by row_number over a B-row bounded
    * table — no data-scale sort anywhere.
    */
  def bootstrapCi(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, d)
      .select($"o_orderkey",
        round($"o_totalprice" * 100, 0).cast("long").as("cents"))
    val point = o.agg(
      count(lit(1)).as("n_orders"), sum($"cents").as("tot"))
    // 4 draws per digest: one md5 per (row, b-group of 4), the 32 hex
    // chars split into four 8-char (32-bit) lanes — 16 digests instead
    // of 64 per row cuts the dominant md5 CPU ~4x (the r8 bench-tail
    // item) while staying bit-identical across both engines (a 32-bit
    // int / 2^32 is exact in double on each side).
    //
    // Kernel-parallelism exchange (the r9 "~6 s" claim adjudicated in
    // r10): the md5+conv kernel amplifies each input row 64x AFTER the
    // scan, so it inherits the scan's task count — one small parquet
    // file = ONE task doing 100% of the CPU (6 tasks total, 10.4 s idle
    // at sf0.1). An explicit-count repartition of the narrow pre-explode
    // rows (16 B each) spreads the kernel across every core; the
    // explicit count keeps AQE from byte-coalescing the tiny exchange
    // back to one partition (AQE can't see the downstream row blowup).
    val drawsIn = o.repartition(
      spark.sparkContext.defaultParallelism, $"o_orderkey")
    // r14: the whole resampling fold runs as ONE typed aggregate
    // ([[graft.functions.BootFold]]): per order, the 64 multipliers
    // (16 digests on the raw key bytes, four 32-bit lanes each, the
    // same inverse-CDF threshold doubles) accumulate Σm·cents / Σm into
    // a 64×2 BIGINT buffer in-row — the former explode(sequence) +
    // md5-hex + conv lanes + when-chain + 64× row blow-up + groupBy(b)
    // exchange disappears outright (guide §2.3 aggregate-before-
    // shuffle, taken to its limit: nothing per-resample ever leaves the
    // task). Sums are exact integers in any order, so the per-resample
    // cells — and mean_b — are bit-identical to the grouped spelling.
    val foldC = Native(
      es => graft.functions.BootFold(es(0), es(1), BootB, 2, bootThresholds.toArray)
        .toAggregateExpression(),
      $"o_orderkey".cast("string"), array($"cents", lit(1L)))
    val means = drawsIn.agg(foldC.as("cells"))
      .select(posexplode($"cells").as(Seq("b", "s")))
      .select($"b",
        (element_at($"s", 1).cast("double") /
          element_at($"s", 2).cast("double")).as("mean_b"))
    val rnW = Window.orderBy($"mean_b", $"b")
    val loRank = (BootB - 1) * 25 / 1000 + 1
    val hiRank = (BootB - 1) * 975 / 1000 + 1
    val ci = means.withColumn("rn", row_number().over(rnW))
      .agg(
        count(lit(1)).as("n_resamples"),
        max(when($"rn" === loRank, $"mean_b")).as("lo"),
        max(when($"rn" === hiRank, $"mean_b")).as("hi"))
    point.crossJoin(broadcast(ci)).select(
      $"n_orders", $"n_resamples",
      (round($"tot".cast("double") / $"n_orders".cast("double"), 4) +
        lit(0.0)).as("mean_cents"),
      (round($"lo", 4) + lit(0.0)).as("ci_lo_cents"),
      (round($"hi", 4) + lit(0.0)).as("ci_hi_cents"))
  }

  private def bootstrapOracle: String = {
    val cases = bootThresholds.zipWithIndex
      .map { case (c, k) => s"WHEN u < ${c}e0 THEN $k" }
      .mkString(" ")
    val loRank = (BootB - 1) * 25 / 1000 + 1
    val hiRank = (BootB - 1) * 975 / 1000 + 1
    s"""WITH o AS (
       |  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders),
       |pt AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_orders,
       |         CAST(sum(cents) AS BIGINT) AS tot
       |  FROM o),
       |draws AS (
       |  SELECT g * 4 + lane AS b, cents,
       |    CASE $cases ELSE 6 END AS m
       |  FROM (
       |    SELECT g.g, lanes.lane, o.cents,
       |      CAST(CAST(CONCAT('0x',
       |        substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':' ||
       |                   CAST(g.g AS VARCHAR)), 1 + 8 * lanes.lane, 8))
       |        AS BIGINT) AS DOUBLE) / 4294967296e0 AS u
       |    FROM o
       |    CROSS JOIN
       |      (SELECT unnest(generate_series(0, ${BootB / 4 - 1})) AS g) g
       |    CROSS JOIN
       |      (SELECT unnest(generate_series(0, 3)) AS lane) lanes)),
       |means AS (
       |  SELECT b,
       |    CAST(CAST(sum(m * cents) AS BIGINT) AS DOUBLE)
       |      / CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) AS mean_b
       |  FROM draws GROUP BY b),
       |ranked AS (
       |  SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn
       |  FROM means),
       |ci AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_resamples,
       |    max(CASE WHEN rn = $loRank THEN mean_b END) AS lo,
       |    max(CASE WHEN rn = $hiRank THEN mean_b END) AS hi
       |  FROM ranked)
       |SELECT n_orders, n_resamples,
       |  round(CAST(tot AS DOUBLE) / CAST(n_orders AS DOUBLE), 4) + 0.0
       |    AS mean_cents,
       |  round(lo, 4) + 0.0 AS ci_lo_cents,
       |  round(hi, 4) + 0.0 AS ci_hi_cents
       |FROM pt, ci""".stripMargin
  }

  private def theilsenOracle: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
      |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |sl AS (
      |  SELECT (a2 - ((a2 % b2) + b2) % b2) // b2 AS s,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT (a.y - b.y) * 1000000 AS a2, a.x - b.x AS b2
      |        FROM daily a JOIN daily b ON a.x > b.x)
      |  GROUP BY 1),
      |sl0 AS (
      |  SELECT s, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY s) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM sl),
      |smed AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n_pairs,
      |    min(CASE WHEN cum - cnt <= (n - 1) // 2 AND (n - 1) // 2 < cum
      |        THEN s END) +
      |    min(CASE WHEN cum - cnt <= n // 2 AND n // 2 < cum THEN s END)
      |      AS slope_med2
      |  FROM sl0),
      |res AS (
      |  SELECT CAST(d.y AS HUGEINT) * 2000000
      |           - CAST(m.slope_med2 AS HUGEINT) * d.x AS r,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM daily d, smed m GROUP BY 1),
      |r0 AS (
      |  SELECT r, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY r) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM res),
      |rmed AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n_days,
      |    min(CASE WHEN cum - cnt <= (n - 1) // 2 AND (n - 1) // 2 < cum
      |        THEN r END) +
      |    min(CASE WHEN cum - cnt <= n // 2 AND n // 2 < cum THEN r END)
      |      AS r_med2
      |  FROM r0)
      |SELECT rmed.n_days AS n_days, smed.n_pairs AS n_pairs,
      |  CAST(slope_med2 AS DOUBLE) / 2000000.0 AS slope,
      |  CAST(r_med2 AS DOUBLE) / 4000000.0 AS intercept_cents
      |FROM smed, rmed""".stripMargin

  private def concOracle: String =
    s"""WITH per AS (
       |  SELECT l_suppkey,
       |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
       |                  AS BIGINT)) AS BIGINT) AS cents
       |  FROM lineitem GROUP BY l_suppkey),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
       |    CAST(sum(cents) AS DOUBLE) AS tot,
       |    CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS sq
       |  FROM per),
       |topk AS (
       |  SELECT sum(CAST(cents AS DOUBLE)) AS topc
       |  FROM (SELECT cents FROM per
       |        ORDER BY cents DESC, l_suppkey ASC LIMIT $TopShare))
       |SELECT n_suppliers,
       |  round(sq / (tot * tot), 6) + 0.0 AS hhi,
       |  round(topc / tot, 6) + 0.0 AS top10_share
       |FROM g, topk""".stripMargin

  private def madOracle: String =
    s"""WITH freq AS (
       |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |m0 AS (
       |  SELECT event_type, c, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM freq),
       |meds AS (
       |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       |    min(CASE WHEN cum - cnt <= (n - 1) // 2 AND (n - 1) // 2 < cum
       |        THEN c END) +
       |    min(CASE WHEN cum - cnt <= n // 2 AND n // 2 < cum THEN c END)
       |      AS med2
       |  FROM m0 GROUP BY 1),
       |dev AS (
       |  SELECT f.event_type, abs(2 * f.c - m.med2) AS c,
       |         CAST(sum(f.cnt) AS BIGINT) AS cnt
       |  FROM freq f JOIN meds m USING (event_type) GROUP BY 1, 2),
       |d0 AS (
       |  SELECT event_type, c, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM dev),
       |mads AS (
       |  SELECT event_type,
       |    min(CASE WHEN cum - cnt <= (n - 1) // 2 AND (n - 1) // 2 < cum
       |        THEN c END) +
       |    min(CASE WHEN cum - cnt <= n // 2 AND n // 2 < cum THEN c END)
       |      AS mad4
       |  FROM d0 GROUP BY 1),
       |outl AS (
       |  SELECT f.event_type,
       |    CAST(sum(CASE WHEN 2 * abs(2 * f.c - m.med2) > 3 * d.mad4
       |             THEN f.cnt ELSE 0 END) AS BIGINT) AS n_outliers
       |  FROM freq f JOIN meds m USING (event_type)
       |              JOIN mads d USING (event_type)
       |  GROUP BY 1)
       |SELECT m.event_type AS event_type, m.n AS n,
       |       CAST(m.med2 AS DOUBLE) / 200 AS med,
       |       CAST(d.mad4 AS DOUBLE) / 400 AS mad,
       |       o.n_outliers AS n_outliers
       |FROM meds m JOIN mads d USING (event_type)
       |            JOIN outl o USING (event_type)""".stripMargin

  /** ln 2 as a compile-time double literal, embedded identically in
    * both engines (never computed as `ln(2)` at query time — the
    * [[StatAudit]] no-query-time-transcendental-constant discipline).
    */
  private val Ln2 = 0.6931471805599453

  /** Jensen–Shannon divergence of each source's unigram distribution
    * from the corpus mixture — the SYMMETRIC, bounded ([0, ln 2])
    * companion of [[sourceKl]] (KL is infinite under missing mass and
    * asymmetric; JSD is the score data-mixture monitors actually
    * threshold on, Lin 1991).
    *
    * The out-of-vocabulary trick keeps the dataflow source-vocab-sized:
    * for tokens ABSENT from source s, p=0 so the p-side term vanishes
    * and the q-side term is q·ln(q/(q/2)) = q·ln2 — so
    * JSD = ½·Σ_{t∈s}[p·ln(p/m) + q·ln(q/m)] + ½·ln2·(1 − Σ_{t∈s} q),
    * and the complement mass Σ_{t∈s} q is an EXACT integer sum of
    * corpus token counts over the source's vocabulary divided once.
    * Same (source, token) frequency backbone as [[sourceKl]] (vocab-
    * bounded exchanges, map-side combined); FP only in the bounded
    * per-source term sum, 6dp-rounded per the KL association-order
    * precedent, −0.0-normalized (a source matching the corpus exactly
    * rounds to zero from below).
    */
  def sourceJs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val st = Tables.documents(spark, d)
      .select($"source", explode(graft.text.TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c_st"))
      .transform(graft.Ckpt.cut)
    val srcTot = st.groupBy($"source").agg(sum($"c_st").as("c_s"))
    val tokTot = st.groupBy($"tok").agg(sum($"c_st").as("c_t"))
    val corpus = srcTot.agg(sum($"c_s").as("c_tot"))
    val p = $"c_st".cast("double") / $"c_s".cast("double")
    val q = $"c_t".cast("double") / $"c_tot".cast("double")
    val m = (p + q) / lit(2.0)
    st.join(tokTot, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpus))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_types"),
        sum(p * log(p / m) + q * log(q / m)).as("in_vocab"),
        sum($"c_t").as("c_t_sum"),
        first($"c_tot").as("c_tot"))
      .select(
        $"source", $"n_types",
        (round($"c_t_sum".cast("double") / $"c_tot".cast("double"), 6)
          + lit(0.0)).as("vocab_mass"),
        (round(lit(0.5) * $"in_vocab" +
          lit(0.5) * lit(Ln2) *
            (lit(1.0) - $"c_t_sum".cast("double") / $"c_tot".cast("double")),
          6) + lit(0.0)).as("jsd"))
  }

  private def jsOracle: String =
    s"""WITH st AS (
       |  SELECT source, t AS tok, CAST(count(*) AS BIGINT) AS c_st
       |  FROM (SELECT source,
       |          unnest(list_filter(string_split_regex(text, '\\s+'),
       |                             x -> x <> '')) AS t
       |        FROM documents) x
       |  GROUP BY source, t),
       |src AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS c_s
       |        FROM st GROUP BY source),
       |tok AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t
       |        FROM st GROUP BY tok),
       |corpus AS (SELECT CAST(sum(c_s) AS BIGINT) AS c_tot FROM src),
       |terms AS (
       |  SELECT st.source AS source,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    sum(
       |      (CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE)) *
       |      ln((CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE)) /
       |         ((CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE) +
       |           CAST(c_t AS DOUBLE) / CAST(c_tot AS DOUBLE)) / 2.0)) +
       |      (CAST(c_t AS DOUBLE) / CAST(c_tot AS DOUBLE)) *
       |      ln((CAST(c_t AS DOUBLE) / CAST(c_tot AS DOUBLE)) /
       |         ((CAST(c_st AS DOUBLE) / CAST(c_s AS DOUBLE) +
       |           CAST(c_t AS DOUBLE) / CAST(c_tot AS DOUBLE)) / 2.0)))
       |      AS in_vocab,
       |    CAST(sum(c_t) AS BIGINT) AS c_t_sum,
       |    CAST(first(c_tot) AS BIGINT) AS c_tot
       |  FROM st
       |  JOIN tok ON st.tok = tok.tok
       |  JOIN src ON st.source = src.source
       |  CROSS JOIN corpus
       |  GROUP BY st.source)
       |SELECT source, n_types,
       |  round(CAST(c_t_sum AS DOUBLE) / CAST(c_tot AS DOUBLE), 6) + 0.0
       |    AS vocab_mass,
       |  round(0.5 * in_vocab +
       |        0.5 * $Ln2 *
       |          (1.0 - CAST(c_t_sum AS DOUBLE) / CAST(c_tot AS DOUBLE)),
       |        6) + 0.0 AS jsd
       |FROM terms""".stripMargin

  /** Two-sample Kolmogorov–Smirnov drift test between the click and
    * purchase value distributions — the nonparametric whole-shape
    * comparison a drift monitor runs when mean/quantile deltas are too
    * blunt (any distributional change moves sup|F₁−F₂|).
    *
    * Scale shape: the raw scan collapses once onto the value cent grid
    * (domain-bounded ≤ ~49k cells at ANY corpus size, map-side
    * combined); both empirical CDFs are cumulative BIGINT counts over
    * that bounded grid (single-partition window — the [[anomalyMad]]
    * frequency-table discipline, never a data-scale sort). The D
    * statistic is located as max|cum₁·n₂ − cum₂·n₁| in EXACT
    * cross-multiplied integers (DECIMAL(38,0) so 100 TB counts cannot
    * overflow the product); the only FP is the final division, the
    * asymptotic scaling λ = D·√(n₁n₂/(n₁+n₂)), and the 3-term
    * Smirnov tail Q(λ) = 2Σ(−1)^{k−1}e^{−2k²λ²} — identical op order
    * both engines, 6dp-rounded.
    */
  def ksValueDrift(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val freq = Tables.events(spark, d)
      .filter($"event_type" === "click" || $"event_type" === "purchase")
      .select($"event_type", round($"value" * 100, 0).cast("long").as("c"))
      .groupBy($"c")
      .agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("f1"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("f2"))
    val w = Window.orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dNum = abs(
      $"cum1".cast("decimal(38,0)") * $"n2".cast("decimal(38,0)") -
        $"cum2".cast("decimal(38,0)") * $"n1".cast("decimal(38,0)"))
    val agg = freq
      .withColumn("cum1", sum($"f1").over(w))
      .withColumn("cum2", sum($"f2").over(w))
      .withColumn("n1", sum($"f1").over(Window.partitionBy()))
      .withColumn("n2", sum($"f2").over(Window.partitionBy()))
      .agg(first($"n1").as("n1"), first($"n2").as("n2"),
        max(dNum).as("d_num"))
    val dStat = $"d_num".cast("double") /
      ($"n1".cast("double") * $"n2".cast("double"))
    val lam = dStat * sqrt(
      ($"n1".cast("double") * $"n2".cast("double")) /
        ($"n1".cast("double") + $"n2".cast("double")))
    val l2 = lam * lam
    // The truncated 3-term Smirnov series exceeds 1 for small lambda
    // (identical distributions: D=0 -> series = 2.0); clamp to the
    // probability domain so the no-drift case reports exactly 1.0.
    val pVal = least(lit(1.0),
      lit(2.0) * (exp(lit(-2.0) * l2) - exp(lit(-8.0) * l2) +
        exp(lit(-18.0) * l2)))
    agg.select(
      $"n1".as("n_click"), $"n2".as("n_purchase"),
      (round(dStat, 6) + lit(0.0)).as("d_stat"),
      (round(lam, 6) + lit(0.0)).as("lambda"),
      (round(pVal, 6) + lit(0.0)).as("p_value"))
  }

  private def ksOracle: String =
    """WITH freq AS (
      |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f1,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f2
      |  FROM events
      |  WHERE event_type = 'click' OR event_type = 'purchase'
      |  GROUP BY 1),
      |cum AS (
      |  SELECT c, f1, f2,
      |    sum(f1) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
      |    sum(f2) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
      |    sum(f1) OVER () AS n1,
      |    sum(f2) OVER () AS n2
      |  FROM freq),
      |agg AS (
      |  SELECT CAST(first(n1) AS BIGINT) AS n1,
      |    CAST(first(n2) AS BIGINT) AS n2,
      |    max(abs(CAST(cum1 AS HUGEINT) * CAST(n2 AS HUGEINT) -
      |            CAST(cum2 AS HUGEINT) * CAST(n1 AS HUGEINT)))
      |      AS d_num
      |  FROM cum),
      |stat AS (
      |  SELECT n1, n2,
      |    CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |      AS d_stat,
      |    CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) *
      |      sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) /
      |           (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) AS lam
      |  FROM agg)
      |SELECT n1 AS n_click, n2 AS n_purchase,
      |  round(d_stat, 6) + 0.0 AS d_stat,
      |  round(lam, 6) + 0.0 AS lambda,
      |  round(least(1.0,
      |        2.0 * (exp(-2.0 * (lam * lam)) - exp(-8.0 * (lam * lam)) +
      |               exp(-18.0 * (lam * lam)))), 6) + 0.0 AS p_value
      |FROM stat""".stripMargin

  /** Spearman rank correlation between the two per-document size
    * signals (stored character count vs whitespace token count) —
    * the monotone-association check that Pearson misses (a heavy-tail
    * corpus can have near-zero linear correlation yet perfect rank
    * agreement); the standard screen before fitting anything linear
    * on corpus stats.
    *
    * Exactness via DOUBLED midranks: per distinct value v with
    * frequency c and cumulative count before it C, the doubled
    * midrank 2r(v) = 2C + c + 1 is an exact BIGINT, so Spearman
    * reduces to Pearson over integer (2rₓ, 2r_y) pairs with the full
    * six DECIMAL(38,0) sufficient statistics — no FP until the one
    * closed-form division (the [[olsPriceTrend]] discipline; the
    * doubling cancels in r).
    *
    * Scale shape: ONE corpus scan collapses onto the joint (x, y)
    * frequency grid (value-domain-bounded, map-side combined,
    * checkpointed — three consumers); the marginal doubled-midrank
    * tables are re-aggregates of that grid (single-partition
    * cumulative window over the bounded marginals) broadcast back
    * onto it; one final count-weighted aggregate. The corpus is never
    * rescanned and never re-tokenized.
    */
  def spearmanDocSignals(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val jf = Tables.documents(spark, d)
      .select($"n_chars".as("x"),
        size(graft.text.TextAnalysis.toks($"text")).cast("long").as("y"))
      .groupBy($"x", $"y").agg(count(lit(1)).as("cnt"))
      .transform(graft.Ckpt.cut)
    def rank2(col0: String): DataFrame = {
      val w = Window.orderBy(col(col0))
        .rowsBetween(Window.unboundedPreceding, -1)
      jf.groupBy(col(col0)).agg(sum($"cnt").as("c"))
        .withColumn("r2",
          lit(2L) * coalesce(sum($"c").over(w), lit(0L)) + $"c" + 1L)
        .select(col(col0), $"r2")
    }
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val g = jf
      .join(broadcast(rank2("x").withColumnRenamed("r2", "rx")), "x")
      .join(broadcast(rank2("y").withColumnRenamed("r2", "ry")), "y")
      .agg(
        sum($"cnt").as("n"),
        sum(dec($"cnt") * dec($"rx")).as("su"),
        sum(dec($"cnt") * dec($"ry")).as("sv"),
        sum(dec($"cnt") * (dec($"rx") * dec($"ry"))).as("suv"),
        sum(dec($"cnt") * (dec($"rx") * dec($"rx"))).as("suu"),
        sum(dec($"cnt") * (dec($"ry") * dec($"ry"))).as("svv"))
    val num = (dec($"n") * $"suv" - $"su" * $"sv").cast("double")
    val denx = (dec($"n") * $"suu" - $"su" * $"su").cast("double")
    val deny = (dec($"n") * $"svv" - $"sv" * $"sv").cast("double")
    g.select($"n",
      when(denx * deny > 0.0,
        round(num / sqrt(denx * deny), 6) + lit(0.0))
        .otherwise(lit(0.0)).as("rho"))
  }

  private def spearmanOracle: String =
    """WITH jf AS MATERIALIZED (
      |  SELECT n_chars AS x,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |                         t -> t <> '')) AS BIGINT) AS y,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |rx AS (
      |  SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      |      AS rx
      |  FROM (SELECT x, CAST(sum(cnt) AS BIGINT) AS c
      |        FROM jf GROUP BY x) fx),
      |ry AS (
      |  SELECT y, 2 * coalesce(sum(c) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
      |      AS ry
      |  FROM (SELECT y, CAST(sum(cnt) AS BIGINT) AS c
      |        FROM jf GROUP BY y) fy),
      |g AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |    sum(CAST(cnt AS HUGEINT) * CAST(rx AS HUGEINT)) AS su,
      |    sum(CAST(cnt AS HUGEINT) * CAST(ry AS HUGEINT)) AS sv,
      |    sum(CAST(cnt AS HUGEINT) * (CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)))
      |      AS suv,
      |    sum(CAST(cnt AS HUGEINT) * (CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)))
      |      AS suu,
      |    sum(CAST(cnt AS HUGEINT) * (CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)))
      |      AS svv
      |  FROM jf JOIN rx USING (x) JOIN ry USING (y))
      |SELECT n,
      |  CASE WHEN CAST(CAST(n AS HUGEINT) * suu - su * su AS DOUBLE) *
      |            CAST(CAST(n AS HUGEINT) * svv - sv * sv AS DOUBLE) > 0.0
      |       THEN round(
      |         CAST(CAST(n AS HUGEINT) * suv - su * sv AS DOUBLE) /
      |         sqrt(CAST(CAST(n AS HUGEINT) * suu - su * su AS DOUBLE) *
      |              CAST(CAST(n AS HUGEINT) * svv - sv * sv AS DOUBLE)),
      |         6) + 0.0
      |       ELSE 0.0 END AS rho
      |FROM g""".stripMargin

  /** Tail-trim fraction denominator: n div 20 = 5% per tail. */
  val TrimDiv = 20L

  /** Trimmed and winsorized means of event value per type — the
    * robust-location pair one tier above [[anomalyMad]]'s
    * median/MAD: trim DISCARDS the 5% tails, winsorize CLAMPS them to
    * the cut boundaries (Tukey; the location estimates a metrics
    * pipeline publishes when raw means are outlier-dragged).
    *
    * Entirely frequency-table algebra on the (type, cent) grid
    * (domain-bounded at any corpus size, map-side combined): per cell
    * the in-window mass is max(0, min(cum, hi) − max(cum − cnt, lo))
    * with lo = n div 20, hi = n − n div 20 — EXACT BIGINTs, so both
    * sums and both boundary order statistics (located as the lo/hi−1
    * cumulative positions, the [[medianFromFreq]] shape) are exact;
    * the only FP is the final /100 to dollars, nonnegative.
    */
  def robustTrimmedMean(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val freq = Tables.events(spark, d)
      .select($"event_type", round($"value" * 100, 0).cast("long").as("c"))
      .groupBy($"event_type", $"c").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"c")
    val wAll = Window.partitionBy($"event_type")
    val t = freq
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wAll))
      .withColumn("lo", expr(s"n div $TrimDiv"))
      .withColumn("hi", expr(s"n - n div $TrimDiv"))
      .withColumn("inw",
        greatest(lit(0L),
          least($"cum", $"hi") - greatest($"cum" - $"cnt", $"lo")))
    t.groupBy($"event_type")
      .agg(
        first($"n").as("n"),
        sum($"inw" * $"c").as("tsum"),
        first($"hi" - $"lo").as("tcnt"),
        first($"lo").as("lo_mass"),
        first($"n" - $"hi").as("hi_mass"),
        // boundary order statistics: value at 0-based cumulative
        // position lo (first kept) and hi - 1 (last kept)
        min(when($"cum" - $"cnt" <= $"lo" && $"lo" < $"cum", $"c"))
          .as("p_lo"),
        min(when($"cum" - $"cnt" <= $"hi" - 1L && $"hi" - 1L < $"cum", $"c"))
          .as("p_hi"))
      .select(
        $"event_type", $"n",
        (($"tsum".cast("double") / $"tcnt".cast("double")) / lit(100.0))
          .as("trimmed_mean"),
        ((($"tsum" + $"lo_mass" * $"p_lo" + $"hi_mass" * $"p_hi")
          .cast("double") / $"n".cast("double")) / lit(100.0))
          .as("winsorized_mean"))
  }

  private def trimOracle: String =
    s"""WITH freq AS (
       |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |t AS (
       |  SELECT event_type, c, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM freq),
       |b AS (
       |  SELECT event_type, c, cnt, cum, n,
       |    n // $TrimDiv AS lo, n - n // $TrimDiv AS hi
       |  FROM t),
       |g AS (
       |  SELECT event_type,
       |    CAST(first(n) AS BIGINT) AS n,
       |    CAST(sum(greatest(0, least(cum, hi) - greatest(cum - cnt, lo)) * c)
       |      AS BIGINT) AS tsum,
       |    CAST(first(hi - lo) AS BIGINT) AS tcnt,
       |    CAST(first(lo) AS BIGINT) AS lo_mass,
       |    CAST(first(n - hi) AS BIGINT) AS hi_mass,
       |    CAST(min(CASE WHEN cum - cnt <= lo AND lo < cum THEN c END)
       |      AS BIGINT) AS p_lo,
       |    CAST(min(CASE WHEN cum - cnt <= hi - 1 AND hi - 1 < cum THEN c END)
       |      AS BIGINT) AS p_hi
       |  FROM b GROUP BY event_type)
       |SELECT event_type, n,
       |  (CAST(tsum AS DOUBLE) / CAST(tcnt AS DOUBLE)) / 100.0
       |    AS trimmed_mean,
       |  (CAST(tsum + lo_mass * p_lo + hi_mass * p_hi AS DOUBLE)
       |    / CAST(n AS DOUBLE)) / 100.0 AS winsorized_mean
       |FROM g""".stripMargin

  /** Mann–Whitney U test between the click and purchase value
    * distributions — the rank-based location test completing the
    * drift pair with [[ksValueDrift]] (KS is shape-sensitive,
    * Mann–Whitney is the power-optimal rank test for a location
    * shift). U comes from the same exact doubled-midrank frequency
    * machinery as [[graft.pipeline.Classifier.rocAuc]] (U = AUC·n₁n₂);
    * the normal approximation uses the tie-corrected variance
    * σ² = n₁n₂/12·((n+1) − Σ(t³−t)/(n(n−1))) with every tie-term an
    * exact integer — FP enters only at the final z-score division,
    * 6dp-rounded, −0.0-normalized (z is signed).
    */
  def mannWhitney(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val freq = Tables.events(spark, d)
      .filter($"event_type" === "click" || $"event_type" === "purchase")
      .select($"event_type", round($"value" * 100, 0).cast("long").as("c"))
      .groupBy($"c")
      .agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("f1"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("f2"))
    val w = Window.orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
    val t = $"f1" + $"f2"
    val g = freq
      .withColumn("cb", coalesce(sum($"f1" + $"f2").over(w), lit(0L)))
      .agg(
        sum($"f1").as("n1"), sum($"f2").as("n2"),
        // 2·(rank-sum of group 1): Σ f1·(2·cum_before + t + 1)
        sum(dec($"f1") * dec(lit(2L) * $"cb" + t + 1L)).as("rs2"),
        // tie correction Σ t³ − t over the pooled grid
        sum(dec(t) * dec(t) * dec(t) - dec(t)).as("ties"))
    val n = $"n1" + $"n2"
    val u = ($"rs2" - dec($"n1") * dec($"n1" + 1L)).cast("double") / lit(2.0)
    val mu = (dec($"n1") * dec($"n2")).cast("double") / lit(2.0)
    val sig2 = ((dec($"n1") * dec($"n2")).cast("double") / lit(12.0)) *
      ((n + 1L).cast("double") -
        $"ties".cast("double") /
          (dec(n) * dec(n - 1L)).cast("double"))
    g.select(
      $"n1".as("n_click"), $"n2".as("n_purchase"),
      u.as("u"), mu.as("mu"),
      when(sig2 > 0.0,
        round((u - mu) / sqrt(sig2), 6) + lit(0.0))
        .otherwise(lit(0.0)).as("z"))
  }

  private def mwOracle: String =
    """WITH freq AS (
      |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f1,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS f2
      |  FROM events
      |  WHERE event_type = 'click' OR event_type = 'purchase'
      |  GROUP BY 1),
      |cum AS (
      |  SELECT c, f1, f2,
      |    coalesce(sum(f1 + f2) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM freq),
      |g AS (
      |  SELECT CAST(sum(f1) AS BIGINT) AS n1, CAST(sum(f2) AS BIGINT) AS n2,
      |    sum(CAST(f1 AS HUGEINT) * CAST(2 * cb + (f1 + f2) + 1 AS HUGEINT))
      |      AS rs2,
      |    sum(CAST(f1 + f2 AS HUGEINT) * CAST(f1 + f2 AS HUGEINT) *
      |        CAST(f1 + f2 AS HUGEINT) - CAST(f1 + f2 AS HUGEINT)) AS ties
      |  FROM cum)
      |SELECT n1 AS n_click, n2 AS n_purchase,
      |  CAST(rs2 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT) AS DOUBLE)
      |    / 2.0 AS u,
      |  CAST(CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS DOUBLE) / 2.0 AS mu,
      |  CASE WHEN
      |    (CAST(CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS DOUBLE) / 12.0) *
      |    (CAST(n1 + n2 + 1 AS DOUBLE) -
      |     CAST(ties AS DOUBLE) /
      |       CAST(CAST(n1 + n2 AS HUGEINT) * CAST(n1 + n2 - 1 AS HUGEINT)
      |            AS DOUBLE)) > 0.0
      |  THEN round(
      |    (CAST(rs2 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT) AS DOUBLE)
      |       / 2.0 -
      |     CAST(CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS DOUBLE) / 2.0) /
      |    sqrt(
      |      (CAST(CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS DOUBLE) / 12.0)
      |      * (CAST(n1 + n2 + 1 AS DOUBLE) -
      |         CAST(ties AS DOUBLE) /
      |           CAST(CAST(n1 + n2 AS HUGEINT) * CAST(n1 + n2 - 1 AS HUGEINT)
      |                AS DOUBLE))),
      |    6) + 0.0
      |  ELSE 0.0 END AS z
      |FROM g""".stripMargin

  /** Chao1 vocabulary-richness estimate + Good–Turing unseen mass —
    * the "how much vocabulary haven't we seen yet" question a corpus
    * curator asks before buying more data (Chao 1984; Good 1953):
    * from the frequency-of-frequencies table, V̂ = V + F₁(F₁−1)/
    * (2(F₂+1)) (bias-corrected Chao1) and P₀ = F₁/N (the probability
    * mass of unseen types). Two bounded aggregates above the
    * vocabulary-sized token-frequency table; every count exact, FP in
    * the two closed forms only.
    */
  def vocabChao1(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ff = Tables.documents(spark, d)
      .select(explode(graft.text.TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .groupBy($"c").agg(count(lit(1)).as("f"))
    ff.agg(
      sum($"f").as("v_seen"),
      sum($"c" * $"f").as("n_tokens"),
      sum(when($"c" === 1L, $"f").otherwise(0L)).as("f1"),
      sum(when($"c" === 2L, $"f").otherwise(0L)).as("f2"))
      .select(
        $"v_seen", $"n_tokens", $"f1", $"f2",
        // f1 quadratic in DECIMAL(38,0): past ~3e9 singleton tokens a
        // BIGINT product overflows under ANSI while the oracle's
        // HUGEINT succeeds — ride the repo's quadratic discipline.
        (round($"v_seen".cast("double") +
          ($"f1".cast("decimal(38,0)") *
            ($"f1" - 1L).cast("decimal(38,0)")).cast("double") /
            (lit(2L) * ($"f2" + 1L)).cast("double"), 6) + lit(0.0))
          .as("chao1"),
        (round($"f1".cast("double") / $"n_tokens".cast("double"), 6)
          + lit(0.0)).as("p_unseen"))
  }

  /** Highest raw count the Good–Turing table reports (the classic
    * smoothing cutoff below which N_r is dense enough to trust raw
    * Turing estimates; Gale & Sampson 1995 §3).
    */
  val GtMaxR = 20L

  /** Raw Turing re-estimated counts r* = (r+1)·N_{r+1}/N_r for the head
    * of the frequency-of-frequencies table (Good 1953; Gale & Sampson
    * 1995) — the unseen-mass / rare-token discounting view a language
    * model's smoothing layer consumes, next to [[vocabChao1]]'s
    * richness view. Reported in micro fixed point by exact integer
    * division; gaps (N_{r+1} = 0) report r* = 0, the raw-Turing
    * convention, with N_{r+1} emitted so the reader sees why.
    *
    * Scale shape: the chao1 backbone (token agg → freq-of-freq agg),
    * then ONE lead window over the frequency-of-frequencies table —
    * bounded by distinct count values (O(√N_tokens)), the StatModels
    * single-partition frequency-table discipline — cut to the ≤
    * [[GtMaxR]]-row head. (r+1)·N_{r+1}·1e6 ≤ 21 · V · 1e6 stays in
    * BIGINT to vocabularies of ~4e11 types.
    */
  def vocabGoodTuring(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ff = Tables.documents(spark, d)
      .select(explode(graft.text.TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .groupBy($"c").agg(count(lit(1)).as("f"))
    val w = Window.orderBy($"c")
    ff
      .withColumn("n_r1",
        when(lead($"c", 1).over(w) === $"c" + 1L, lead($"f", 1).over(w))
          .otherwise(0L))
      .filter($"c" <= GtMaxR)
      .select($"c".as("r"), $"f".as("n_r"), $"n_r1",
        expr("(c + 1L) * n_r1 * 1000000L div f").as("r_star_micro"))
  }

  private def goodTuringOracle: String =
    s"""WITH tf AS (
       |  SELECT t AS tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
       |                                  x -> x <> '')) AS t
       |        FROM documents) x
       |  GROUP BY t),
       |ff AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM tf GROUP BY c),
       |led AS (
       |  SELECT c, f,
       |    CASE WHEN lead(c) OVER (ORDER BY c) = c + 1
       |         THEN lead(f) OVER (ORDER BY c) ELSE 0 END AS n_r1
       |  FROM ff)
       |SELECT c AS r, f AS n_r, CAST(n_r1 AS BIGINT) AS n_r1,
       |  CAST(((c + 1) * n_r1 * 1000000) // f AS BIGINT) AS r_star_micro
       |FROM led WHERE c <= $GtMaxR""".stripMargin

  /** Yule's K lexical-repetitiveness characteristic
    * K = 10⁴·(Σ c²·N_c − N)/N² (Yule 1944; Tweedie & Baayen 1998) — the
    * corpus-size-robust repetition scalar a data-quality dashboard
    * tracks alongside entropy and TTR. Σ c²·N_c rides DECIMAL(38,0)
    * (c² can pass 1e18 for a 1e9-count token); the only FP is the one
    * final nonnegative division, 6dp.
    */
  def vocabYuleK(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ff = Tables.documents(spark, d)
      .select(explode(graft.text.TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .groupBy($"c").agg(count(lit(1)).as("f"))
    ff.agg(
      sum($"f").as("v_seen"),
      sum($"c" * $"f").as("n_tokens"),
      sum($"c".cast("decimal(38,0)") * $"c" * $"f").as("m2"))
      .select($"v_seen", $"n_tokens",
        round(lit(10000.0) *
          ($"m2" - $"n_tokens").cast("double") /
          ($"n_tokens".cast("double") * $"n_tokens".cast("double")), 6)
          .as("yule_k"))
  }

  private def yuleKOracle: String =
    """WITH tf AS (
      |  SELECT t AS tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
      |                                  x -> x <> '')) AS t
      |        FROM documents) x
      |  GROUP BY t),
      |ff AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM tf GROUP BY c)
      |SELECT CAST(sum(f) AS BIGINT) AS v_seen,
      |  CAST(sum(c * f) AS BIGINT) AS n_tokens,
      |  round(10000.0 *
      |        CAST(sum(CAST(c AS HUGEINT) * c * f) - sum(c * f) AS DOUBLE) /
      |        (CAST(sum(c * f) AS DOUBLE) * CAST(sum(c * f) AS DOUBLE)), 6)
      |    AS yule_k
      |FROM ff""".stripMargin

  private def chao1Oracle: String =
    """WITH tf AS (
      |  SELECT t AS tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
      |                                  x -> x <> '')) AS t
      |        FROM documents) x
      |  GROUP BY t),
      |ff AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM tf GROUP BY c)
      |SELECT CAST(sum(f) AS BIGINT) AS v_seen,
      |  CAST(sum(c * f) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN c = 1 THEN f ELSE 0 END) AS BIGINT) AS f1,
      |  CAST(sum(CASE WHEN c = 2 THEN f ELSE 0 END) AS BIGINT) AS f2,
      |  round(CAST(sum(f) AS DOUBLE) +
      |        CAST(sum(CASE WHEN c = 1 THEN f ELSE 0 END) *
      |             (sum(CASE WHEN c = 1 THEN f ELSE 0 END) - 1) AS DOUBLE) /
      |        CAST(2 * (sum(CASE WHEN c = 2 THEN f ELSE 0 END) + 1)
      |             AS DOUBLE), 6) + 0.0 AS chao1,
      |  round(CAST(sum(CASE WHEN c = 1 THEN f ELSE 0 END) AS DOUBLE) /
      |        CAST(sum(c * f) AS DOUBLE), 6) + 0.0 AS p_unseen
      |FROM ff""".stripMargin

  /** Heaps'-law coefficient per source: V = N^C ⇒ C = ln V / ln N —
    * the vocabulary-growth exponent (natural text ≈ 0.4–0.6; template
    * spam collapses it, id-like noise inflates it toward 1). One
    * (source, token) distinct-count pair per source off the
    * vocabulary-sized frequency table.
    */
  def sourceHeapsLaw(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select($"source", explode(graft.text.TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(count(lit(1)).as("v"), sum($"c").as("n"))
      .select($"source", $"v", $"n",
        when($"n" > 1L,
          round(log($"v".cast("double")) / log($"n".cast("double")), 6)
            + lit(0.0))
          .otherwise(lit(0.0)).as("heaps_c"))
  }

  private def heapsOracle: String =
    """WITH st AS (
      |  SELECT source, t AS tok, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source,
      |          unnest(list_filter(string_split_regex(text, '\s+'),
      |                             x -> x <> '')) AS t
      |        FROM documents) x
      |  GROUP BY source, t)
      |SELECT source, CAST(count(*) AS BIGINT) AS v,
      |  CAST(sum(c) AS BIGINT) AS n,
      |  CASE WHEN sum(c) > 1
      |       THEN round(ln(CAST(count(*) AS DOUBLE)) /
      |                  ln(CAST(sum(c) AS DOUBLE)), 6) + 0.0
      |       ELSE 0.0 END AS heaps_c
      |FROM st GROUP BY source""".stripMargin

  /** Top-k order statistics for the Hill estimator. */
  val HillK = 100

  /** Hill tail-index estimator of the order-value distribution over
    * the top [[HillK]]+1 order statistics: α̂⁻¹ = (1/k)Σ ln(x_i /
    * x_{k+1}) (Hill 1975) — the heavy-tail diagnostic that decides
    * whether mean-based revenue projections are even meaningful
    * (α ≤ 2 ⇒ infinite variance). The k+1 head is a TakeOrdered cut
    * (deterministic (cents desc, key asc) order, never a global
    * sort); the ≤ k-term log sum follows the 6dp association-order
    * precedent.
    */
  def hillTailIndex(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val top = Tables.orders(spark, d)
      .select(round($"o_totalprice" * 100, 0).cast("long").as("cents"),
        $"o_orderkey")
      .orderBy($"cents".desc, $"o_orderkey".asc)
      .limit(HillK + 1)
      .transform(graft.Ckpt.cut) // k+1 rows; threshold + sum consumers
    val xk = top.agg(min($"cents").as("xk"))
    // rows at the threshold contribute ln(1) = 0, so summing over all
    // k+1 rows and dividing by k IS the Hill sum — no tie-exclusion
    // dance needed
    top.crossJoin(broadcast(xk))
      .agg((count(lit(1)) - 1L).as("k"),
        sum(log($"cents".cast("double") / $"xk".cast("double"))).as("ls"),
        first($"xk").as("x_kplus1_cents"))
      .select($"k", $"x_kplus1_cents",
        (round($"ls" / $"k".cast("double"), 6) + lit(0.0))
          .as("inv_alpha"),
        when($"ls" > 0.0,
          round($"k".cast("double") / $"ls", 6) + lit(0.0))
          .otherwise(lit(0.0)).as("alpha"))
  }

  private def hillOracle: String =
    s"""WITH top AS MATERIALIZED (
       |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
       |  FROM orders
       |  ORDER BY cents DESC, o_orderkey ASC
       |  LIMIT ${HillK + 1}),
       |xk AS (SELECT CAST(min(cents) AS BIGINT) AS xk FROM top)
       |SELECT CAST(count(*) - 1 AS BIGINT) AS k,
       |  CAST(first(xk) AS BIGINT) AS x_kplus1_cents,
       |  round(sum(ln(CAST(cents AS DOUBLE) / CAST(xk AS DOUBLE)))
       |        / CAST(count(*) - 1 AS DOUBLE), 6) + 0.0 AS inv_alpha,
       |  CASE WHEN sum(ln(CAST(cents AS DOUBLE) / CAST(xk AS DOUBLE))) > 0.0
       |       THEN round(CAST(count(*) - 1 AS DOUBLE) /
       |                  sum(ln(CAST(cents AS DOUBLE) / CAST(xk AS DOUBLE))),
       |                  6) + 0.0
       |       ELSE 0.0 END AS alpha
       |FROM top, xk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vocab_chao1" -> (vocabChao1 _),
    "vocab_good_turing" -> (vocabGoodTuring _),
    "vocab_yule_k" -> (vocabYuleK _),
    "source_heaps_law" -> (sourceHeapsLaw _),
    "hill_tail_index" -> (hillTailIndex _),
    "spearman_doc_signals" -> (spearmanDocSignals _),
    "robust_trimmed_mean" -> (robustTrimmedMean _),
    "mannwhitney_value_drift" -> (mannWhitney _),
    "source_js_divergence" -> (sourceJs _),
    "ks_value_drift" -> (ksValueDrift _),
    "ols_price_trend" -> (olsPriceTrend _),
    "source_kl_divergence" -> (sourceKl _),
    "zipf_fit" -> (zipfFit _),
    "customer_rfm" -> (customerRfm _),
    "revenue_concentration" -> (revenueConcentration _),
    "theilsen_trend" -> (theilsenTrend _),
    "bootstrap_ci" -> (bootstrapCi _),
    "revenue_gini" -> (revenueGini _),
    "anomaly_mad" -> (anomalyMad _))

  val oracles: Map[String, String] = Map(
    "vocab_chao1" -> chao1Oracle,
    "vocab_good_turing" -> goodTuringOracle,
    "vocab_yule_k" -> yuleKOracle,
    "source_heaps_law" -> heapsOracle,
    "hill_tail_index" -> hillOracle,
    "spearman_doc_signals" -> spearmanOracle,
    "robust_trimmed_mean" -> trimOracle,
    "mannwhitney_value_drift" -> mwOracle,
    "source_js_divergence" -> jsOracle,
    "ks_value_drift" -> ksOracle,
    "ols_price_trend" -> olsOracle,
    "source_kl_divergence" -> klOracle,
    "zipf_fit" -> zipfOracle,
    "customer_rfm" -> rfmOracle,
    "revenue_concentration" -> concOracle,
    "theilsen_trend" -> theilsenOracle,
    "bootstrap_ci" -> bootstrapOracle,
    "revenue_gini" -> giniOracle,
    "anomaly_mad" -> madOracle)
}
