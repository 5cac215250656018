package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Second statistical tier: multivariate OLS by normal equations,
  * the Theil inequality index, and empirical-Bayes rate shrinkage —
  * the "fit a small model inside the scan" pattern of [[StatModels]]
  * extended to multi-feature and hierarchical forms.
  *
  * Reference basis: none (SURVEY.md §2.3 — the reference has no
  * statistical operators).
  *
  * Determinism: the [[StatModels]] discipline throughout — exact
  * integer sufficient statistics in DECIMAL(38,0), closed-form
  * doubles in identical operation order, per-term fixed-decimal grids
  * before any bounded FP sum, 6dp output rounds, −0.0 normalization.
  */
object StatExtras extends graft.Catalog {

  private def dbl(e: Column): Column = e.cast("double")
  private def dec(e: Column): Column = sum(e.cast("decimal(38,0)"))

  /** Three-feature OLS by normal equations, solved in closed form via
    * Cramer's rule — lineitem quantity regressed on price (dollars),
    * discount (basis points) and the ship-date time trend, the "what drives order
    * size" demand readout. The distributed phase is ONE map-side-
    * combined aggregate producing the 14 exact sufficient statistics
    * of X'X / X'y (X = [1, x1, x2, x3]); the 4×4 solve is scalar
    * algebra on the single result row — corpus-size-independent, the
    * multivariate generalization of [[StatModels.olsPriceTrend]].
    *
    * Exactness: x1 = cents, x2 = discount basis points, x3 = epoch
    * ship-day — all exact grid integers; every cross-moment is
    * DECIMAL(38,0); the determinant expansion runs on correctly-
    * rounded doubles of those exact sums in identical operation order
    * on both engines.
    */
  def olsMultifeature(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val obs = Tables.lineitem(spark, d)
      .select(
        round($"l_extendedprice" * 100, 0).cast("long").as("x1"),
        round($"l_discount" * 10000, 0).cast("long").as("x2"),
        datediff($"l_shipdate".cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("x3"),
        round($"l_quantity" * 100, 0).cast("long").as("y"))
    val g = obs.agg(
      count(lit(1)).as("n"),
      dec($"x1").as("s1"), dec($"x2").as("s2"), dec($"x3").as("s3"),
      dec($"x1" * $"x1").as("s11"), dec($"x1" * $"x2").as("s12"),
      dec($"x1" * $"x3").as("s13"), dec($"x2" * $"x2").as("s22"),
      dec($"x2" * $"x3").as("s23"), dec($"x3" * $"x3").as("s33"),
      dec($"y").as("sy"), dec($"x1" * $"y").as("s1y"),
      dec($"x2" * $"y").as("s2y"), dec($"x3" * $"y").as("s3y"))
    // centered second moments (scatter matrix S and vector b): the
    // 3×3 system S·beta = b, then beta0 from the means
    def m(sij: String, si: String, sj: String): Column =
      dbl(col(sij)) - dbl(col(si)) * dbl(col(sj)) / dbl($"n")
    val a11 = m("s11", "s1", "s1"); val a12 = m("s12", "s1", "s2")
    val a13 = m("s13", "s1", "s3"); val a22 = m("s22", "s2", "s2")
    val a23 = m("s23", "s2", "s3"); val a33 = m("s33", "s3", "s3")
    val b1 = m("s1y", "s1", "sy"); val b2 = m("s2y", "s2", "sy")
    val b3 = m("s3y", "s3", "sy")
    val det = a11 * (a22 * a33 - a23 * a23) -
      a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13)
    val beta1 = (b1 * (a22 * a33 - a23 * a23) -
      a12 * (b2 * a33 - a23 * b3) + a13 * (b2 * a23 - a22 * b3)) / det
    val beta2 = (a11 * (b2 * a33 - b3 * a23) -
      b1 * (a12 * a33 - a23 * a13) + a13 * (a12 * b3 - b2 * a13)) / det
    val beta3 = (a11 * (a22 * b3 - a23 * b2) -
      a12 * (a12 * b3 - b2 * a13) + b1 * (a12 * a23 - a22 * a13)) / det
    val beta0 = (dbl($"sy") - beta1 * dbl($"s1") - beta2 * dbl($"s2") -
      beta3 * dbl($"s3")) / dbl($"n")
    g.select(
      $"n",
      (round(beta0 / 100.0, 6) + lit(0.0)).as("intercept"),
      (round(beta1 * 1e6, 6) + lit(0.0)).as("beta_price"),
      (round(beta2 * 1e4, 6) + lit(0.0)).as("beta_discount"),
      (round(beta3, 8) + lit(0.0)).as("beta_trend"))
  }

  private def olsMultiOracle: String =
    """WITH obs AS (
      |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x1,
      |    CAST(round(l_discount * 10000, 0) AS BIGINT) AS x2,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS x3,
      |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
      |    CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
      |    CAST(sum(CAST(x3 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s3,
      |    CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x1) AS DECIMAL(38,0)) AS s11,
      |    CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0)) AS s12,
      |    CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x3) AS DECIMAL(38,0)) AS s13,
      |    CAST(sum(CAST(x2 AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0)) AS s22,
      |    CAST(sum(CAST(x2 AS DECIMAL(38,0)) * x3) AS DECIMAL(38,0)) AS s23,
      |    CAST(sum(CAST(x3 AS DECIMAL(38,0)) * x3) AS DECIMAL(38,0)) AS s33,
      |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
      |    CAST(sum(CAST(x1 AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS s1y,
      |    CAST(sum(CAST(x2 AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS s2y,
      |    CAST(sum(CAST(x3 AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS s3y
      |  FROM obs),
      |c AS (
      |  SELECT n, sy, s1, s2, s3,
      |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS a11,
      |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a12,
      |    CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a13,
      |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a22,
      |    CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a23,
      |    CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a33,
      |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS b1,
      |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS b2,
      |    CAST(s3y AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS b3
      |  FROM g),
      |s AS (
      |  SELECT n, sy, s1, s2, s3, b1, b2, b3, a11, a12, a13, a22, a23, a33,
      |    a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
      |      + a13 * (a12 * a23 - a22 * a13) AS det
      |  FROM c),
      |beta AS (
      |  SELECT n, sy, s1, s2, s3,
      |    (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
      |      + a13 * (b2 * a23 - a22 * b3)) / det AS beta1,
      |    (a11 * (b2 * a33 - b3 * a23) - b1 * (a12 * a33 - a23 * a13)
      |      + a13 * (a12 * b3 - b2 * a13)) / det AS beta2,
      |    (a11 * (a22 * b3 - a23 * b2) - a12 * (a12 * b3 - b2 * a13)
      |      + b1 * (a12 * a23 - a22 * a13)) / det AS beta3
      |  FROM s)
      |SELECT n,
      |  round((CAST(sy AS DOUBLE) - beta1 * CAST(s1 AS DOUBLE) - beta2 * CAST(s2 AS DOUBLE)
      |         - beta3 * CAST(s3 AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0, 6) + 0.0 AS intercept,
      |  round(beta1 * 1e6, 6) + 0.0 AS beta_price,
      |  round(beta2 * 1e4, 6) + 0.0 AS beta_discount,
      |  round(beta3, 8) + 0.0 AS beta_trend
      |FROM beta""".stripMargin

  /** Theil T inequality index of per-customer revenue — the
    * entropy-based complement of [[StatModels]]' Gini (decomposable
    * across subgroups, which Gini is not): T = Σ (x/X)·ln(n·x/X) over
    * customers with revenue. One per-customer aggregate → per-term
    * 1e-12 grid round → exact BIGINT fold (zero association-order
    * exposure, the [[Dependence]] discipline).
    */
  def revenueTheil(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, d)
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .transform(graft.Ckpt.cut) // totals + terms read it once each
    val tot = perCust.agg(dec($"cents").as("x_tot"), count(lit(1)).as("n"))
    val share = dbl($"cents") / dbl($"x_tot")
    perCust.crossJoin(broadcast(tot))
      .agg(
        first($"n").as("n_customers"),
        sum(round(share * log(dbl($"n") * share) * 1e12, 0).cast("long"))
          .as("t_pico"))
      .select($"n_customers",
        (round(dbl($"t_pico") / 1e12, 6) + lit(0.0)).as("theil_t"))
  }

  private def theilOracle: String =
    """WITH per_cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS x_tot,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM per_cust)
      |SELECT n AS n_customers,
      |  round(CAST(CAST(sum(CAST(round(
      |      (CAST(cents AS DOUBLE) / CAST(x_tot AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) * (CAST(cents AS DOUBLE) / CAST(x_tot AS DOUBLE)))
      |      * 1e12, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e12, 6) + 0.0 AS theil_t
      |FROM per_cust, tot GROUP BY n""".stripMargin

  /** Empirical-Bayes (beta-binomial method-of-moments) shrinkage of
    * the per-source Gopher pass rates — the small-segment stabilizer
    * every per-source dashboard needs: a 10-doc source's 100% pass
    * rate should not outrank a 10k-doc source's 95%. The global prior
    * Beta(α, β) is fitted by moments from the per-source rates
    * (bounded |sources| table), then each source reports
    * (k + α)/(n + α + β).
    *
    * Shape: the corpus-scale work is exactly [[QualityRules
    * .gopherRules]]'s one aggregate; the prior fit and shrinkage run
    * on the |sources|-row contraction with deterministic window-order
    * folds for the two FP moments.
    */
  def sourceRateShrinkage(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rates = graft.pipeline.QualityRules.gopherRules(spark, d)
      .select($"source", $"n_docs", $"n_pass")
      .transform(graft.Ckpt.cut) // bounded |sources| table
    // moments of the raw rates in deterministic source order: grid the
    // per-source rate first so the fold adds exact integers
    val withRate = rates
      .withColumn("r_micro",
        round(dbl($"n_pass") / dbl($"n_docs") * 1e6, 0).cast("long"))
    val mom = withRate.agg(
      count(lit(1)).as("k_src"),
      sum($"r_micro").as("sr"),
      sum($"r_micro" * $"r_micro").as("srr"))
    // mean/var of rates; method of moments: m = mean, v = var,
    // common = m(1-m)/v - 1; alpha = m*common, beta = (1-m)*common
    val mean = dbl($"sr") / (dbl($"k_src") * 1e6)
    // k_src = 1 guard: Spark 0/0 is NULL but DuckDB NaN (which DuckDB
    // orders above 0.0), so a single-source corpus would diverge
    val varr = when($"k_src" > 1L,
      (dbl($"srr") / 1e12 -
        (dbl($"sr") / 1e6) * (dbl($"sr") / 1e6) / dbl($"k_src")) /
        (dbl($"k_src") - 1.0)).otherwise(lit(0.0))
    val common = when(varr > 0.0, mean * (lit(1.0) - mean) / varr - 1.0)
      .otherwise(lit(0.0))
    val prior = mom.select(
      (round(greatest(mean * common, lit(0.0)), 6) + lit(0.0)).as("alpha"),
      (round(greatest((lit(1.0) - mean) * common, lit(0.0)), 6) + lit(0.0))
        .as("beta"))
    withRate.crossJoin(broadcast(prior))
      .select($"source", $"n_docs", $"n_pass",
        (round(dbl($"r_micro") / 1e6, 6) + lit(0.0)).as("rate_raw"),
        $"alpha", $"beta",
        (round((dbl($"n_pass") + $"alpha") /
          (dbl($"n_docs") + $"alpha" + $"beta"), 6) + lit(0.0))
          .as("rate_shrunk"))
  }

  private def shrinkOracle: String = {
    val stopSum = graft.pipeline.QualityRules.Stopwords
      .map(w => s"CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH per_doc AS (
       |  SELECT source,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
       |    CAST((length(text) - length(replace(text, '#', ''))) AS BIGINT)
       |      + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
       |    CAST((length(text) - length(replace(text, chr(10), ''))) AS BIGINT) + 1 AS n_lines,
       |    CAST((length(text) - length(replace(text, chr(10) || '- ', ''))) // 3 AS BIGINT)
       |      + CAST((length(text) - length(replace(text, chr(10) || '* ', ''))) // 3 AS BIGINT)
       |      + CASE WHEN starts_with(text, '- ') OR starts_with(text, '* ') THEN 1 ELSE 0 END AS n_bullet,
       |    CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
       |    CAST($stopSum AS BIGINT) AS n_stop
       |  FROM (SELECT source, text,
       |          list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |        FROM documents) d),
       |rules AS (
       |  SELECT source,
       |    (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
       |    * (CASE WHEN n_words > 0 AND chars >= 3 * n_words AND chars <= 10 * n_words THEN 1 ELSE 0 END)
       |    * (CASE WHEN n_words > 0 AND 10 * n_sym <= n_words THEN 1 ELSE 0 END)
       |    * (CASE WHEN 10 * n_bullet < 9 * n_lines THEN 1 ELSE 0 END)
       |    * (CASE WHEN n_words > 0 AND 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END)
       |    * (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS pass
       |  FROM per_doc),
       |rates AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(pass) AS BIGINT) AS n_pass,
       |    CAST(round(CAST(sum(pass) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6, 0) AS BIGINT) AS r_micro
       |  FROM rules GROUP BY source),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k_src,
       |    CAST(sum(r_micro) AS BIGINT) AS sr,
       |    CAST(sum(r_micro * r_micro) AS BIGINT) AS srr
       |  FROM rates),
       |mv AS (
       |  SELECT CAST(sr AS DOUBLE) / (CAST(k_src AS DOUBLE) * 1e6) AS m,
       |    CASE WHEN k_src > 1 THEN
       |      (CAST(srr AS DOUBLE) / 1e12
       |       - (CAST(sr AS DOUBLE) / 1e6) * (CAST(sr AS DOUBLE) / 1e6) / CAST(k_src AS DOUBLE))
       |      / (CAST(k_src AS DOUBLE) - 1.0)
       |    ELSE 0.0 END AS v
       |  FROM mom),
       |prior AS (
       |  SELECT
       |    round(greatest(m * (CASE WHEN v > 0.0 THEN m * (1.0 - m) / v - 1.0 ELSE 0.0 END), 0.0), 6) + 0.0 AS alpha,
       |    round(greatest((1.0 - m) * (CASE WHEN v > 0.0 THEN m * (1.0 - m) / v - 1.0 ELSE 0.0 END), 0.0), 6) + 0.0 AS beta
       |  FROM mv)
       |SELECT source, n_docs, n_pass,
       |  round(CAST(r_micro AS DOUBLE) / 1e6, 6) + 0.0 AS rate_raw,
       |  alpha, beta,
       |  round((CAST(n_pass AS DOUBLE) + alpha)
       |        / (CAST(n_docs AS DOUBLE) + alpha + beta), 6) + 0.0 AS rate_shrunk
       |FROM rates CROSS JOIN prior
       |ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ols_multifeature" -> (olsMultifeature _),
    "revenue_theil" -> (revenueTheil _),
    "source_rate_shrinkage" -> (sourceRateShrinkage _))

  val oracles: Map[String, String] = Map(
    "ols_multifeature" -> olsMultiOracle,
    "revenue_theil" -> theilOracle,
    "source_rate_shrinkage" -> shrinkOracle)
}
