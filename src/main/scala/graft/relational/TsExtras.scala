package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series structure diagnostics beyond [[TimeSeries]]'s
  * forecasting tier: offline changepoint detection (binary
  * segmentation's first split) and the Hurst exponent by the
  * aggregated-variance method — the "did the process change / is it
  * long-range dependent" questions a metrics platform answers before
  * trusting any forecast.
  *
  * Reference basis: none (SURVEY.md §2.3 — the reference has no
  * time-series operators).
  *
  * Determinism: the [[StatModels]] discipline — prefix/suffix sums of
  * exact cent/count integers in DECIMAL(38,0) over CALENDAR-BOUNDED
  * grids (days, hours — never corpus-scale windows), closed-form
  * doubles in identical operation order, 6dp rounds, −0.0
  * normalization. The Hurst fit grid-rounds each scale's ln(var) to
  * the 1e-6 grid BEFORE the OLS fold so the ≤6-point fit consumes
  * identical integers on both engines.
  */
object TsExtras extends graft.Catalog {

  private def dbl(e: Column): Column = e.cast("double")

  /** Best single mean-shift changepoint of the daily-revenue series
    * (binary segmentation, step-1 of the classic recursion; Scott &
    * Knott's between-group SSE criterion). For every candidate
    * boundary k the gain is the SSE reduction
    * S_l²/n_l + S_r²/n_r − S²/n, computed from ONE prefix-sum window
    * over the calendar-bounded daily table; the winner (earliest day
    * on ties) is reported with both segment means and the gain.
    *
    * Shape: one orders scan → daily exact-cent aggregate (calendar-
    * bounded) → one bounded window + top-1. The doubles compared in
    * the argmax derive from identical exact integers with identical
    * ops on both engines, so the winner is the same row.
    */
  def tsChangepoint(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long"))
        .cast("decimal(38,0)").as("cents"))
    val wc = Window.orderBy($"day") // calendar-bounded daily grid
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pre = daily
      .withColumn("k", count(lit(1)).over(wc))
      .withColumn("sl", sum($"cents").over(wc))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum($"cents").over(wAll))
      .filter($"k" < $"n")
    val gain = (dbl($"sl") * dbl($"sl") / dbl($"k")) +
      ((dbl($"s") - dbl($"sl")) * (dbl($"s") - dbl($"sl")) /
        (dbl($"n") - dbl($"k"))) -
      (dbl($"s") * dbl($"s") / dbl($"n"))
    pre.select(
      $"day".as("split_day"), $"k".as("n_left"), ($"n" - $"k").as("n_right"),
      (round(dbl($"sl") / dbl($"k") / 100.0, 4) + lit(0.0)).as("mean_left"),
      (round((dbl($"s") - dbl($"sl")) / (dbl($"n") - dbl($"k")) / 100.0, 4)
        + lit(0.0)).as("mean_right"),
      (round(gain / 10000.0, 4) + lit(0.0)).as("gain"))
      .orderBy($"gain".desc, $"split_day".asc)
      .limit(1)
  }

  private def changepointOracle: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DECIMAL(38,0)) AS cents
      |  FROM orders GROUP BY 1),
      |pre AS (
      |  SELECT day,
      |    CAST(count(*) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS k,
      |    CAST(sum(cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS sl,
      |    CAST(count(*) OVER () AS BIGINT) AS n,
      |    CAST(sum(cents) OVER () AS DECIMAL(38,0)) AS s
      |  FROM daily)
      |SELECT day AS split_day, k AS n_left, n - k AS n_right,
      |  round(CAST(sl AS DOUBLE) / CAST(k AS DOUBLE) / 100.0, 4) + 0.0 AS mean_left,
      |  round((CAST(s AS DOUBLE) - CAST(sl AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) / 100.0, 4) + 0.0 AS mean_right,
      |  round((CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(k AS DOUBLE)
      |       + (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE)) * (CAST(s AS DOUBLE) - CAST(sl AS DOUBLE))
      |         / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
      |       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 10000.0, 4) + 0.0 AS gain
      |FROM pre WHERE k < n
      |ORDER BY gain DESC, split_day ASC LIMIT 1""".stripMargin

  /** Scales for the aggregated-variance Hurst fit: block sizes in
    * hours. 2^0..2^5 spans the month-long hourly grid with ≥ ~22
    * complete blocks at the largest scale.
    */
  val HurstScales: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L, 32L)

  /** Hurst exponent of the hourly event-arrival series by the
    * aggregated-variance method (Taqqu, Teverovsky & Willinger 1995):
    * for block size m, the variance of the block means of the hourly
    * counts scales as m^(2H−2); H comes from the OLS slope of
    * ln var(m) vs ln m. H ≈ 0.5 = short-range dependence; H → 1 =
    * long-range dependence (the self-similarity diagnostic of network
    * and event-arrival traffic).
    *
    * Exactness: hourly counts and per-block sums are exact BIGINTs on
    * the calendar-bounded hourly grid; each scale's sample variance of
    * block means comes from the exact sufficient statistics
    * (nb·ΣS² − (ΣS)²) / (m²·nb·(nb−1)) — only COMPLETE blocks count;
    * ln(var) and ln(m) are grid-rounded to 1e-6 and the ≤6-point OLS
    * fold then sums exact micro-unit integers, so the fit consumes
    * identical inputs on both engines. Output: one row per scale
    * (m, n_blocks, var of block means) with the fitted slope and H on
    * each row.
    */
  def tsHurstAggvar(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(spark, d)
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1)
      .transform(graft.Ckpt.cut) // calendar-bounded (~hours in the corpus span)
    val indexed = hourly
      .withColumn("i", row_number().over(Window.orderBy($"hour")) - 1L)
    val scales = HurstScales.toDF("m")
    val blocks = indexed.crossJoin(broadcast(scales))
      .groupBy($"m", ($"i" / $"m").cast("long").as("blk"))
      .agg(count(lit(1)).as("nh"), sum($"cnt").as("sb"))
      .filter($"nh" === $"m") // complete blocks only
    val perScale = blocks.groupBy($"m")
      .agg(count(lit(1)).as("nb"),
        sum($"sb".cast("decimal(38,0)")).as("ssum"),
        sum($"sb".cast("decimal(38,0)") * $"sb").as("ssq"))
      .filter($"nb" > 1)
      .withColumn("var_bm",
        (dbl($"nb") * dbl($"ssq") - dbl($"ssum") * dbl($"ssum")) /
          (dbl($"m") * dbl($"m") * dbl($"nb") * (dbl($"nb") - 1.0)))
      .filter($"var_bm" > 0.0)
      // micro-unit grid via round(x·1e6, 0): correctly rounded to the
      // NEAREST integer (round(x,6)·1e6 can land 1 ulp below and
      // truncate off-grid under a long cast)
      .withColumn("lxi", round(log($"m".cast("double")) * 1e6, 0).cast("long"))
      .withColumn("lyi", round(log($"var_bm") * 1e6, 0).cast("long"))
      .transform(graft.Ckpt.cut) // ≤6 rows; fit + presentation consumers
    val fit = perScale.agg(
      count(lit(1)).as("ns"), sum($"lxi").as("sx"), sum($"lyi").as("sy"),
      sum($"lxi" * $"lyi").as("sxy"), sum($"lxi" * $"lxi").as("sxx"))
    val slope = (dbl($"ns") * dbl($"sxy") - dbl($"sx") * dbl($"sy")) /
      (dbl($"ns") * dbl($"sxx") - dbl($"sx") * dbl($"sx"))
    perScale.crossJoin(broadcast(fit))
      .select($"m", $"nb".as("n_blocks"),
        (round($"var_bm", 6) + lit(0.0)).as("var_bm"),
        (round(slope, 6) + lit(0.0)).as("slope"),
        (round(lit(1.0) + slope / 2.0, 6) + lit(0.0)).as("hurst"))
  }

  private def hurstOracle: String = {
    val scaleList = HurstScales.mkString(", ")
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1),
       |indexed AS (
       |  SELECT cnt, CAST(row_number() OVER (ORDER BY hour) - 1 AS BIGINT) AS i
       |  FROM hourly),
       |blocks AS (
       |  SELECT m, i // m AS blk, CAST(count(*) AS BIGINT) AS nh,
       |    CAST(sum(cnt) AS BIGINT) AS sb
       |  FROM indexed, (SELECT CAST(UNNEST([$scaleList]) AS BIGINT) AS m)
       |  GROUP BY 1, 2),
       |per_scale AS (
       |  SELECT m, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(sum(CAST(sb AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ssum,
       |    CAST(sum(CAST(sb AS DECIMAL(38,0)) * sb) AS DECIMAL(38,0)) AS ssq
       |  FROM blocks WHERE nh = m GROUP BY m),
       |vs AS (
       |  SELECT m, nb,
       |    (CAST(nb AS DOUBLE) * CAST(ssq AS DOUBLE) - CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE))
       |      / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) AS var_bm
       |  FROM per_scale WHERE nb > 1),
       |grid AS (
       |  SELECT m, nb, var_bm,
       |    CAST(round(ln(CAST(m AS DOUBLE)) * 1e6, 0) AS BIGINT) AS lxi,
       |    CAST(round(ln(var_bm) * 1e6, 0) AS BIGINT) AS lyi
       |  FROM vs WHERE var_bm > 0.0),
       |fit AS (
       |  SELECT CAST(count(*) AS BIGINT) AS ns,
       |    CAST(sum(lxi) AS BIGINT) AS sx, CAST(sum(lyi) AS BIGINT) AS sy,
       |    CAST(sum(lxi * lyi) AS BIGINT) AS sxy,
       |    CAST(sum(lxi * lxi) AS BIGINT) AS sxx
       |  FROM grid)
       |SELECT m, nb AS n_blocks,
       |  round(var_bm, 6) + 0.0 AS var_bm,
       |  round((CAST(ns AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(ns AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS slope,
       |  round(1.0 + (CAST(ns AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |        / (CAST(ns AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 2.0, 6) + 0.0 AS hurst
       |FROM grid, fit
       |ORDER BY m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_changepoint" -> (tsChangepoint _),
    "ts_hurst_aggvar" -> (tsHurstAggvar _))

  val oracles: Map[String, String] = Map(
    "ts_changepoint" -> changepointOracle,
    "ts_hurst_aggvar" -> hurstOracle)
}
