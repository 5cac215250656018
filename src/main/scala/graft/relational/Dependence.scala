package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Categorical-dependence profiling: the chi-square independence
  * test, Cramér's V, mutual information, and normalized MI between
  * event type and hour-of-day — "is user behavior time-structured",
  * the data-profiling readout feature stores compute between every
  * categorical column pair before trusting a feature. Complements
  * [[StatAudit]]'s goodness-of-fit chi-square (one distribution vs a
  * law) with the two-column independence form.
  *
  * Determinism: the contingency table is exact BIGINT counts on the
  * bounded |types|×24 grid; every per-cell FP term (chi-square
  * component, MI component, marginal entropies) is grid-rounded to a
  * fixed decimal BEFORE its bounded sum, so the aggregates add exact
  * integers — no association-order exposure at all (the same
  * per-term-grid discipline as [[graft.pipeline.Dsir]]'s log-ratios).
  *
  * Scale shape: one events scan → (type, hour) aggregate (map-side
  * combined, grid-bounded output) → closed-form algebra on the
  * contraction. One data-scale exchange at any corpus size.
  */
object Dependence extends graft.Catalog {

  private def dbl(e: Column): Column = e.cast("double")

  /** round(x·scale, 0) cast long — correctly rounded onto the 1/scale
    * grid (round(x, k)·scale can land 1 ulp under and truncate).
    */
  private def gridInt(e: Column, scale: Double): Column =
    round(e * scale, 0).cast("long")

  def eventMiHour(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, d)
      .groupBy($"event_type".as("x"), hour($"ts").cast("long").as("y"))
      .agg(count(lit(1)).as("n_xy"))
      .coalesce(1)
      .transform(graft.Ckpt.cut) // ≤ |types|·24 rows at ANY corpus size
    val mx = cells.groupBy($"x").agg(sum($"n_xy").as("n_x"))
    val my = cells.groupBy($"y").agg(sum($"n_xy").as("n_y"))
    val tot = cells.agg(sum($"n_xy").as("n"),
      countDistinct($"x").as("r"), countDistinct($"y").as("c"))
    val joined = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(tot))
    val e = dbl($"n_x") * dbl($"n_y") / dbl($"n")
    val chiTerm = (dbl($"n_xy") - e) * (dbl($"n_xy") - e) / e
    val miTerm = (dbl($"n_xy") / dbl($"n")) *
      log(dbl($"n_xy") * dbl($"n") / (dbl($"n_x") * dbl($"n_y")))
    val folded = joined.agg(
      first($"n").as("n"), first($"r").as("r"), first($"c").as("c"),
      sum(gridInt(chiTerm, 1e6)).as("chi_micro"),
      sum(gridInt(miTerm, 1e12)).as("mi_pico"))
    val hx = mx.crossJoin(broadcast(tot.select($"n".as("nx_tot"))))
      .agg(sum(gridInt(
        -(dbl($"n_x") / dbl($"nx_tot")) * log(dbl($"n_x") / dbl($"nx_tot")),
        1e12)).as("hx_pico"))
    val hy = my.crossJoin(broadcast(tot.select($"n".as("ny_tot"))))
      .agg(sum(gridInt(
        -(dbl($"n_y") / dbl($"ny_tot")) * log(dbl($"n_y") / dbl($"ny_tot")),
        1e12)).as("hy_pico"))
    val chi2 = dbl($"chi_micro") / 1e6
    val mi = dbl($"mi_pico") / 1e12
    val hxv = dbl($"hx_pico") / 1e12
    val hyv = dbl($"hy_pico") / 1e12
    val minDim = when($"r" <= $"c", $"r").otherwise($"c") - 1L
    folded.crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select($"n", $"r".as("n_types"), $"c".as("n_hours"),
        (round(chi2, 6) + lit(0.0)).as("chi2"),
        when(minDim > 0L && $"n" > 0L,
          round(sqrt(chi2 / (dbl($"n") * dbl(minDim))), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("cramers_v"),
        (round(mi, 6) + lit(0.0)).as("mi"),
        when(hxv * hyv > 0.0,
          round(mi / sqrt(hxv * hyv), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("nmi"))
  }

  private def miOracle: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT event_type AS x,
      |    CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS y,
      |    CAST(count(*) AS BIGINT) AS n_xy
      |  FROM events GROUP BY 1, 2),
      |mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY x),
      |my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY y),
      |tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n,
      |               CAST(count(DISTINCT x) AS BIGINT) AS r,
      |               CAST(count(DISTINCT y) AS BIGINT) AS c
      |        FROM cells),
      |folded AS (
      |  SELECT
      |    CAST(sum(CAST(round(
      |      (CAST(n_xy AS DOUBLE) - CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(n_xy AS DOUBLE) - CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT))
      |      AS BIGINT) AS chi_micro,
      |    CAST(sum(CAST(round(
      |      (CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
      |           / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1e12, 0) AS BIGINT))
      |      AS BIGINT) AS mi_pico
      |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
      |hx AS (
      |  SELECT CAST(sum(CAST(round(
      |    -(CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE))
      |    * ln(CAST(n_x AS DOUBLE) / CAST(n AS DOUBLE)) * 1e12, 0) AS BIGINT)) AS BIGINT) AS hx_pico
      |  FROM mx CROSS JOIN tot),
      |hy AS (
      |  SELECT CAST(sum(CAST(round(
      |    -(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE))
      |    * ln(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE)) * 1e12, 0) AS BIGINT)) AS BIGINT) AS hy_pico
      |  FROM my CROSS JOIN tot)
      |SELECT n, r AS n_types, c AS n_hours,
      |  round(CAST(chi_micro AS DOUBLE) / 1e6, 6) + 0.0 AS chi2,
      |  CASE WHEN (CASE WHEN r <= c THEN r ELSE c END) - 1 > 0 AND n > 0
      |    THEN round(sqrt(CAST(chi_micro AS DOUBLE) / 1e6
      |         / (CAST(n AS DOUBLE) * CAST((CASE WHEN r <= c THEN r ELSE c END) - 1 AS DOUBLE))), 6) + 0.0
      |    ELSE 0.0 END AS cramers_v,
      |  round(CAST(mi_pico AS DOUBLE) / 1e12, 6) + 0.0 AS mi,
      |  CASE WHEN CAST(hx_pico AS DOUBLE) / 1e12 * (CAST(hy_pico AS DOUBLE) / 1e12) > 0.0
      |    THEN round(CAST(mi_pico AS DOUBLE) / 1e12
      |         / sqrt(CAST(hx_pico AS DOUBLE) / 1e12 * (CAST(hy_pico AS DOUBLE) / 1e12)), 6) + 0.0
      |    ELSE 0.0 END AS nmi
      |FROM folded, tot, hx, hy""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "event_mi_hour" -> (eventMiHour _))

  val oracles: Map[String, String] = Map(
    "event_mi_hour" -> miOracle)
}
