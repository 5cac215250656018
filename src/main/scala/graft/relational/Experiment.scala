package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Experimentation analytics: the A/B-platform readouts layered over
  * the event stream beyond [[Analytics.abConversionZtest]]'s plain
  * two-proportion z — CUPED variance reduction (Deng et al., WSDM'13),
  * difference-in-differences, the sample-ratio-mismatch guardrail,
  * the Kruskal–Wallis k-group rank test, and a Kaplan–Meier retention
  * curve (right-censored at the corpus horizon).
  *
  * Reference basis: none (SURVEY.md §2.3 — the reference has no
  * statistical operators); companions to [[StatModels]] and
  * [[Analytics]]'s A/B tier.
  *
  * Determinism: the [[StatModels]] discipline — every cross-row
  * aggregate is a sum of exact integers (cent/count grid) carried in
  * DECIMAL(38,0); closed forms are computed from correctly-rounded
  * doubles in identical operation order on both engines; the only FP
  * accumulations are over BOUNDED tables in a deterministic window
  * order (Kruskal–Wallis group fold, Kaplan–Meier log-survival
  * cumsum), where left-to-right accumulation is the same sequence of
  * IEEE ops on both engines.
  *
  * Scale shape: every operator is one (or two) map-side-combined
  * corpus-scale aggregates onto a per-user / per-day / per-cent-grid
  * table, then closed-form algebra on the contraction. No corpus-scale
  * window, no unbounded state.
  */
object Experiment extends graft.Catalog {

  private def dec(e: Column): Column = sum(e.cast("decimal(38,0)"))
  private def dbl(e: Column): Column = e.cast("double")

  /** CUPED-adjusted experiment readout. Unit = user (every user in the
    * events table, arm = user_id % 2 — the platform's deterministic
    * hash-bucket assignment). Metric y = the user's post-period
    * purchase value (cents); covariate x = the same user's PRE-period
    * purchase value — the canonical "use the pre-experiment version of
    * the metric" choice. The period split is the midpoint of the
    * observed day span, derived from the data so the query runs at any
    * SF unchanged.
    *
    * theta = cov(x,y)/var(x) is fitted POOLED over all users (fitting
    * per-arm leaks treatment effect into the adjustment); each arm
    * reports its raw mean, its adjusted mean
    * ȳ_a − theta·(x̄_a − x̄_all), and the pooled squared correlation
    * rho² — the fraction of metric variance CUPED removes, i.e. the
    * sample-size multiplier the platform buys.
    *
    * Shape: one scan → per-(user) aggregate (x, y exact cent BIGINTs,
    * map-side combined) → one 2-row arm fold + one 1-row pooled fold
    * (both from the SAME per-user frame, which is localCheckpointed) →
    * broadcast-join algebra on ≤ 2 rows.
    */
  def abCupedAdjust(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
      .select($"user_id", to_date($"ts").as("day"),
        when($"event_type" === "purchase",
          round($"value" * 100, 0).cast("long")).otherwise(0L).as("cents"))
    val bounds = ev.agg(
      min($"day").as("d0"),
      date_add(min($"day"),
        (datediff(max($"day"), min($"day")) / 2).cast("int")).as("mid"))
    // per-user pre/post totals: ONE corpus-scale exchange (user_id)
    val perUser = ev.crossJoin(broadcast(bounds))
      .groupBy($"user_id")
      .agg(
        sum(when($"day" <= $"mid", $"cents").otherwise(0L)).as("x"),
        sum(when($"day" > $"mid", $"cents").otherwise(0L)).as("y"))
      .select(($"user_id" % 2).as("arm"), $"x", $"y")
    // ONE rollup pass computes the pooled (grand-total) and per-arm
    // moment rows together — the former spelling checkpointed the full
    // per-user frame and ran two separate aggregate jobs over it (r13;
    // sums are identical integers/decimals, the rollup's total row IS
    // the pooled aggregate). The 3-row rollup result is checkpointed so
    // its two consumers below don't re-plan the user exchange.
    val g = perUser.rollup($"arm").agg(
      count(lit(1)).as("n"), dec($"x").as("sx"), dec($"y").as("sy"),
      // decimal-first multiply, matching the oracle's CAST(x AS
      // DECIMAL(38,0)) * y: a LONG*LONG product silently wraps in
      // non-ANSI mode once per-user cent totals pass ~3e9
      dec($"x".cast("decimal(38,0)") * $"y").as("sxy"),
      dec($"x".cast("decimal(38,0)") * $"x").as("sxx"),
      dec($"y".cast("decimal(38,0)") * $"y").as("syy"))
      .transform(graft.Ckpt.cut) // ≤3 rows; pooled + arm consumers
    val pooled = g.filter($"arm".isNull).drop("arm")
    val arms = g.filter($"arm".isNotNull).select(
      $"arm", $"n".as("n_arm"), $"sx".as("sx_a"), $"sy".as("sy_a"))
    val covN = dbl($"n") * dbl($"sxy") - dbl($"sx") * dbl($"sy")
    val varxN = dbl($"n") * dbl($"sxx") - dbl($"sx") * dbl($"sx")
    val varyN = dbl($"n") * dbl($"syy") - dbl($"sy") * dbl($"sy")
    val theta = when(varxN > 0.0, covN / varxN).otherwise(lit(0.0))
    val meanY = dbl($"sy_a") / dbl($"n_arm")
    val meanX = dbl($"sx_a") / dbl($"n_arm")
    val meanXAll = dbl($"sx") / dbl($"n")
    arms.crossJoin(broadcast(pooled))
      .select(
        $"arm", $"n_arm".as("n"),
        (round(meanY / 100.0, 6) + lit(0.0)).as("mean_y"),
        (round((meanY - theta * (meanX - meanXAll)) / 100.0, 6) + lit(0.0))
          .as("mean_y_adj"),
        (round(theta, 6) + lit(0.0)).as("theta"),
        (round(when(varxN > 0.0 && varyN > 0.0,
          covN * covN / (varxN * varyN)).otherwise(lit(0.0)), 6) + lit(0.0))
          .as("rho2"))
  }

  private def cupedOracle: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END AS cents
      |  FROM events),
      |bounds AS (
      |  SELECT min(day) AS d0,
      |    min(day) + CAST(CAST(date_diff('day', min(day), max(day)) // 2 AS INTEGER) AS INTEGER) AS mid
      |  FROM ev),
      |per_user AS (
      |  SELECT user_id % 2 AS arm,
      |    CAST(sum(CASE WHEN day <= (SELECT mid FROM bounds) THEN cents ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN day >  (SELECT mid FROM bounds) THEN cents ELSE 0 END) AS BIGINT) AS y
      |  FROM ev GROUP BY user_id),
      |pooled AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS DECIMAL(38,0)) AS sx, CAST(sum(y) AS DECIMAL(38,0)) AS sy,
      |    CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
      |    CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
      |    CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
      |  FROM per_user),
      |arms AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
      |    CAST(sum(x) AS DECIMAL(38,0)) AS sx_a,
      |    CAST(sum(y) AS DECIMAL(38,0)) AS sy_a
      |  FROM per_user GROUP BY arm)
      |SELECT arm, n_arm AS n,
      |  round(CAST(sy_a AS DOUBLE) / CAST(n_arm AS DOUBLE) / 100.0, 6) + 0.0 AS mean_y,
      |  round((CAST(sy_a AS DOUBLE) / CAST(n_arm AS DOUBLE)
      |    - (CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |        THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        ELSE 0.0 END)
      |      * (CAST(sx_a AS DOUBLE) / CAST(n_arm AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      |    / 100.0, 6) + 0.0 AS mean_y_adj,
      |  round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    ELSE 0.0 END, 6) + 0.0 AS theta,
      |  round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |         AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    ELSE 0.0 END, 6) + 0.0 AS rho2
      |FROM arms, pooled
      |ORDER BY arm""".stripMargin

  /** Difference-in-differences on daily purchase revenue. Unit = the
    * (arm, day) cell total of purchase cents — a calendar-bounded
    * contraction (≤ 2 × days rows at any SF). The 2×2 design is
    * arm × {pre, post} around the observed midpoint; the estimate is
    * the classic (B_post − B_pre) − (A_post − A_pre) on the cell means
    * of daily revenue, with the normal-theory standard error from the
    * four cell variances (day-level, via exact sufficient statistics).
    *
    * Shape: one scan → (arm, day) exact-cent aggregate → 4-row cell
    * fold → 1-row closed form.
    */
  def abDiffInDiff(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, d)
      .filter($"event_type" === "purchase")
      .groupBy(($"user_id" % 2).as("arm"), to_date($"ts").as("day"))
      .agg(sum(round($"value" * 100, 0).cast("long")).as("cents"))
      .transform(graft.Ckpt.cut) // calendar-bounded; bounds + cells read it
    val bounds = daily.agg(
      date_add(min($"day"),
        (datediff(max($"day"), min($"day")) / 2).cast("int")).as("mid"))
    val cells = daily.crossJoin(broadcast(bounds))
      .groupBy($"arm", when($"day" > $"mid", lit(1L)).otherwise(0L).as("post"))
      .agg(count(lit(1)).as("nd"), dec($"cents").as("s"),
        dec($"cents".cast("decimal(38,0)") * $"cents").as("ss"))
    def m(arm: Int, post: Int) = "m" + arm + post
    def pick(arm: Int, post: Int, c: Column) =
      max(when($"arm" === arm && $"post" === post, c))
    val g = cells.agg(
      pick(0, 0, $"nd").as("n00"), pick(0, 0, $"s").as("s00"), pick(0, 0, $"ss").as("ss00"),
      pick(0, 1, $"nd").as("n01"), pick(0, 1, $"s").as("s01"), pick(0, 1, $"ss").as("ss01"),
      pick(1, 0, $"nd").as("n10"), pick(1, 0, $"s").as("s10"), pick(1, 0, $"ss").as("ss10"),
      pick(1, 1, $"nd").as("n11"), pick(1, 1, $"s").as("s11"), pick(1, 1, $"ss").as("ss11"))
    def mean(n: Column, s: Column) = dbl(s) / dbl(n)
    // n = 1 guard: Spark double 0/0 yields NULL while DuckDB yields
    // NaN, so a single-day cell would diverge cross-engine — a
    // degenerate cell contributes zero variance instead
    def varm(n: Column, s: Column, ss: Column) =
      when(n > 1L,
        (dbl(ss) - dbl(s) * dbl(s) / dbl(n)) / (dbl(n) - 1.0) / dbl(n))
        .otherwise(lit(0.0))
    val did = (mean($"n11", $"s11") - mean($"n10", $"s10")) -
      (mean($"n01", $"s01") - mean($"n00", $"s00"))
    val se = sqrt(
      varm($"n00", $"s00", $"ss00") + varm($"n01", $"s01", $"ss01") +
        varm($"n10", $"s10", $"ss10") + varm($"n11", $"s11", $"ss11"))
    g.select(
      (round(mean($"n00", $"s00") / 100.0, 6) + lit(0.0)).as("mean_a_pre"),
      (round(mean($"n01", $"s01") / 100.0, 6) + lit(0.0)).as("mean_a_post"),
      (round(mean($"n10", $"s10") / 100.0, 6) + lit(0.0)).as("mean_b_pre"),
      (round(mean($"n11", $"s11") / 100.0, 6) + lit(0.0)).as("mean_b_post"),
      (round(did / 100.0, 6) + lit(0.0)).as("did"),
      (round(se / 100.0, 6) + lit(0.0)).as("se"),
      when(se > 0.0, round(did / se, 6) + lit(0.0)).otherwise(lit(0.0))
        .as("t_stat"))
  }

  private def didOracle: String =
    """WITH daily AS (
      |  SELECT user_id % 2 AS arm,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |bounds AS (
      |  SELECT min(day) + CAST(CAST(date_diff('day', min(day), max(day)) // 2 AS INTEGER) AS INTEGER) AS mid
      |  FROM daily),
      |cells AS (
      |  SELECT arm, CASE WHEN day > (SELECT mid FROM bounds) THEN 1 ELSE 0 END AS post,
      |    CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(cents) AS DECIMAL(38,0)) AS s,
      |    CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS ss
      |  FROM daily GROUP BY 1, 2),
      |g AS (
      |  SELECT
      |    max(CASE WHEN arm = 0 AND post = 0 THEN nd END) AS n00,
      |    max(CASE WHEN arm = 0 AND post = 0 THEN s END) AS s00,
      |    max(CASE WHEN arm = 0 AND post = 0 THEN ss END) AS ss00,
      |    max(CASE WHEN arm = 0 AND post = 1 THEN nd END) AS n01,
      |    max(CASE WHEN arm = 0 AND post = 1 THEN s END) AS s01,
      |    max(CASE WHEN arm = 0 AND post = 1 THEN ss END) AS ss01,
      |    max(CASE WHEN arm = 1 AND post = 0 THEN nd END) AS n10,
      |    max(CASE WHEN arm = 1 AND post = 0 THEN s END) AS s10,
      |    max(CASE WHEN arm = 1 AND post = 0 THEN ss END) AS ss10,
      |    max(CASE WHEN arm = 1 AND post = 1 THEN nd END) AS n11,
      |    max(CASE WHEN arm = 1 AND post = 1 THEN s END) AS s11,
      |    max(CASE WHEN arm = 1 AND post = 1 THEN ss END) AS ss11
      |  FROM cells),
      |v AS (
      |  SELECT g.*,
      |    CASE WHEN n00 > 1 THEN (CAST(ss00 AS DOUBLE) - CAST(s00 AS DOUBLE) * CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) / (CAST(n00 AS DOUBLE) - 1.0) / CAST(n00 AS DOUBLE) ELSE 0.0 END AS v00,
      |    CASE WHEN n01 > 1 THEN (CAST(ss01 AS DOUBLE) - CAST(s01 AS DOUBLE) * CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)) / (CAST(n01 AS DOUBLE) - 1.0) / CAST(n01 AS DOUBLE) ELSE 0.0 END AS v01,
      |    CASE WHEN n10 > 1 THEN (CAST(ss10 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE)) / (CAST(n10 AS DOUBLE) - 1.0) / CAST(n10 AS DOUBLE) ELSE 0.0 END AS v10,
      |    CASE WHEN n11 > 1 THEN (CAST(ss11 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)) / (CAST(n11 AS DOUBLE) - 1.0) / CAST(n11 AS DOUBLE) ELSE 0.0 END AS v11
      |  FROM g)
      |SELECT
      |  round(CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE) / 100.0, 6) + 0.0 AS mean_a_pre,
      |  round(CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) / 100.0, 6) + 0.0 AS mean_a_post,
      |  round(CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE) / 100.0, 6) + 0.0 AS mean_b_pre,
      |  round(CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) / 100.0, 6) + 0.0 AS mean_b_post,
      |  round(((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
      |       - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)))
      |    / 100.0, 6) + 0.0 AS did,
      |  round(sqrt(v00 + v01 + v10 + v11) / 100.0, 6) + 0.0 AS se,
      |  CASE WHEN sqrt(v00 + v01 + v10 + v11) > 0.0
      |  THEN round((
      |      (CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
      |    - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)))
      |    / sqrt(v00 + v01 + v10 + v11), 6) + 0.0
      |  ELSE 0.0 END AS t_stat
      |FROM v""".stripMargin

  /** Sample-ratio-mismatch guardrail: the chi-square goodness-of-fit
    * of the observed per-arm DISTINCT-USER counts against the designed
    * 50/50 split — the first check every experimentation platform runs
    * before reading any metric (a biased assignment invalidates the
    * whole experiment). chi2 (1 df) = (n_a − n_b)²/(n_a + n_b); flag
    * at the 0.001 level (10.83), the industry-standard SRM alarm
    * threshold. One distinct-user aggregate, 1-row output.
    */
  def abSrmCheck(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val g = Tables.events(spark, d)
      .select($"user_id").distinct()
      .agg(
        sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"user_id" % 2 === 1, 1L).otherwise(0L)).as("n_b"))
    val diff = dbl($"n_a") - dbl($"n_b")
    val chi2 = diff * diff / (dbl($"n_a") + dbl($"n_b"))
    g.select($"n_a", $"n_b",
      (round(chi2, 6) + lit(0.0)).as("chi2"),
      when(chi2 > 10.83, 1L).otherwise(0L).as("srm_alarm"))
  }

  private def srmOracle: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |g AS (
      |  SELECT
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM u)
      |SELECT n_a, n_b,
      |  round((CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE)) * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
      |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)), 6) + 0.0 AS chi2,
      |  CASE WHEN (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE)) * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))
      |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) > 10.83
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS srm_alarm
      |FROM g""".stripMargin

  /** Kruskal–Wallis H across the event-type groups on `value` — the
    * k-group generalization of [[StatModels]]' Mann–Whitney, with
    * midrank ties and the tie-corrected H. The whole test is
    * FREQUENCY-TABLE algebra on the cent grid (the
    * [[StatModels.anomalyMad]] discipline): 2×midrank of cent c is the
    * exact integer 2·cum_below(c) + cnt(c) + 1 from ONE bounded global
    * grid window; per-group rank sums are exact DECIMAL(38,0) products
    * of group counts with that integer; ties Σ(t³−t) is exact. The
    * only FP is the final ≤|groups|-term fold, accumulated in
    * event_type order via a deterministic running sum (same
    * left-to-right IEEE sequence both engines) — and the O(N)
    * cancellation in H is absorbed by the 6dp round.
    */
  def kruskalWallis(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.events(spark, d)
      .select($"event_type", round($"value" * 100, 0).cast("long").as("c"))
      .groupBy($"event_type", $"c").agg(count(lit(1)).as("cnt"))
      .transform(graft.Ckpt.cut) // grid-bounded; global + per-group consumers
    val global = freq.groupBy($"c").agg(sum($"cnt").as("t"))
    val wc = Window.orderBy($"c") // bounded cent grid — the StatModels
    // window-without-partition discipline
    val ranked = global
      .withColumn("m2", lit(2L) * (sum($"t").over(wc) - $"t") + $"t" + 1L)
    val groups = freq.join(ranked.select($"c", $"m2"), "c")
      .groupBy($"event_type")
      .agg(sum($"cnt").as("n_g"),
        sum($"cnt".cast("decimal(38,0)") * $"m2").as("r2_g"))
    val nTot = global.agg(
      sum($"t").as("n"),
      sum($"t".cast("decimal(38,0)") * $"t" * $"t" - $"t").as("ties"))
    // ordered fold over the ≤|event types| group rows: term_i =
    // (R2_i/2)² / n_i, running-summed in event_type order
    val wg = Window.orderBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val folded = groups
      .withColumn("term",
        (dbl($"r2_g") / 2.0) * (dbl($"r2_g") / 2.0) / dbl($"n_g"))
      .withColumn("acc", sum($"term").over(wg))
      .withColumn("k", count(lit(1)).over(
        Window.orderBy($"event_type")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn", row_number().over(Window.orderBy($"event_type")))
      .filter($"rn" === $"k")
      .select($"k".cast("long").as("n_groups"), $"acc")
    val h = lit(12.0) / (dbl($"n") * (dbl($"n") + 1.0)) * $"acc" -
      lit(3.0) * (dbl($"n") + 1.0)
    val corr = lit(1.0) - dbl($"ties") / (dbl($"n") * dbl($"n") * dbl($"n") - dbl($"n"))
    folded.crossJoin(broadcast(nTot))
      .select($"n_groups", $"n",
        (round(h, 6) + lit(0.0)).as("h"),
        when(corr > 0.0, round(h / corr, 6) + lit(0.0)).otherwise(lit(0.0))
          .as("h_adj"))
  }

  private def kwOracle: String =
    """WITH freq AS MATERIALIZED (
      |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |gfreq AS MATERIALIZED (
      |  SELECT c, CAST(sum(cnt) AS BIGINT) AS t FROM freq GROUP BY c),
      |ranked AS (
      |  SELECT c, 2 * (sum(t) OVER (ORDER BY c) - t) + t + 1 AS m2 FROM gfreq),
      |groups AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_g,
      |    CAST(sum(CAST(cnt AS DECIMAL(38,0)) * m2) AS DECIMAL(38,0)) AS r2_g
      |  FROM freq JOIN ranked USING (c) GROUP BY event_type),
      |ntot AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n,
      |    CAST(sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS DECIMAL(38,0)) AS ties
      |  FROM gfreq),
      |folded AS (
      |  SELECT event_type,
      |    sum((CAST(r2_g AS DOUBLE) / 2.0) * (CAST(r2_g AS DOUBLE) / 2.0) / CAST(n_g AS DOUBLE))
      |      OVER (ORDER BY event_type ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc,
      |    count(*) OVER () AS k,
      |    row_number() OVER (ORDER BY event_type) AS rn
      |  FROM groups)
      |SELECT CAST(k AS BIGINT) AS n_groups, n,
      |  round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * acc
      |        - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) + 0.0 AS h,
      |  CASE WHEN 1.0 - CAST(ties AS DOUBLE)
      |         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) > 0.0
      |  THEN round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * acc
      |        - 3.0 * (CAST(n AS DOUBLE) + 1.0))
      |       / (1.0 - CAST(ties AS DOUBLE)
      |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) + 0.0
      |  ELSE 0.0 END AS h_adj
      |FROM folded, ntot WHERE rn = k""".stripMargin

  /** Kaplan–Meier time-to-first-purchase (conversion survival) with
    * right censoring at the corpus horizon. Per user: duration t =
    * days from the user's FIRST event to their FIRST purchase; if the
    * user never purchases, t = days to the corpus's last day and the
    * observation is CENSORED (they were still "at risk of converting"
    * when the window closed) — the estimator every activation
    * dashboard runs, and the censoring-correct version of the naive
    * "median days to convert" which silently drops non-converters.
    *
    * S(t) = Π_{u ≤ t, d_u > 0} (1 − d_u / n_u) with n_u = #users with
    * duration ≥ u, computed as exp of the running sum of log terms
    * over the day-bounded duration grid (deterministic t order — same
    * IEEE sequence both engines; a saturated step d = n collapses S to
    * exactly 0 via an explicit guard, not log(0)).
    *
    * Shape: one scan → per-user (min, min-purchase) aggregate →
    * duration frequency table (calendar-bounded) → one bounded
    * window. Output rows at event times only.
    */
  def survivalKm(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val users = Tables.events(spark, d)
      .groupBy($"user_id")
      .agg(min(to_date($"ts")).as("first_day"),
        min(when($"event_type" === "purchase", to_date($"ts"))).as("conv_day"),
        max(to_date($"ts")).as("last_day"))
    val horizon = users.agg(max($"last_day").as("h"))
    val lifetimes = users.crossJoin(broadcast(horizon))
      .select(
        when($"conv_day".isNotNull,
          datediff($"conv_day", $"first_day")).otherwise(
          datediff($"h", $"first_day")).cast("long").as("t"),
        when($"conv_day".isNotNull, 1L).otherwise(0L).as("churn"))
      .groupBy($"t")
      .agg(sum($"churn").as("d"), count(lit(1)).as("m"))
    val wc = Window.orderBy($"t") // lifetime grid ≤ observed day span
    val wcum = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = lifetimes
      .withColumn("n_risk", sum($"m").over(
        wc.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("lterm",
        when($"d" < $"n_risk",
          log(lit(1.0) - dbl($"d") / dbl($"n_risk"))).otherwise(lit(0.0)))
      .withColumn("dead",
        max(when($"d" === $"n_risk", 1L).otherwise(0L)).over(wcum))
      .withColumn("lsum", sum(when($"d" > 0, $"lterm").otherwise(0.0)).over(wcum))
    curve.filter($"d" > 0)
      .select($"t", $"n_risk", $"d",
        when($"dead" === 1L, lit(0.0))
          .otherwise(round(exp($"lsum"), 6) + lit(0.0)).as("surv"))
  }

  private def kmOracle: String =
    """WITH users AS (
      |  SELECT user_id,
      |    min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS first_day,
      |    min(CASE WHEN event_type = 'purchase'
      |        THEN CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) END) AS conv_day,
      |    max(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS last_day
      |  FROM events GROUP BY user_id),
      |horizon AS (SELECT max(last_day) AS h FROM users),
      |lifetimes AS (
      |  SELECT CASE WHEN conv_day IS NOT NULL
      |           THEN CAST(date_diff('day', first_day, conv_day) AS BIGINT)
      |           ELSE CAST(date_diff('day', first_day, (SELECT h FROM horizon)) AS BIGINT) END AS t,
      |    CAST(sum(CASE WHEN conv_day IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM users GROUP BY 1),
      |curve AS (
      |  SELECT t, d, m,
      |    sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk,
      |    max(CASE WHEN d = m_check THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
      |    sum(CASE WHEN d > 0 AND d < m_check
      |        THEN ln(1.0 - CAST(d AS DOUBLE) / CAST(m_check AS DOUBLE)) ELSE 0.0 END)
      |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum
      |  FROM (SELECT t, d, m,
      |          sum(m) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS m_check
      |        FROM lifetimes))
      |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d,
      |  CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lsum), 6) + 0.0 END AS surv
      |FROM curve WHERE d > 0 ORDER BY t""".stripMargin

  /** Per-metric drift testing with Benjamini–Hochberg FDR control —
    * the multiple-comparisons correction a metrics platform applies
    * when it z-tests EVERY metric every day: per event type, the
    * two-sample z of mean value (first half vs second half of the
    * observed span), the normal p-value via the Abramowitz–Stegun
    * 7.1.26 erf polynomial (max error 1.5e-7 — identical closed form
    * on both engines, no erf builtin needed), and the BH step-up
    * adjustment p_adj(i) = min_{j≥i} p(j)·k/j with discoveries at
    * q = 0.05.
    *
    * Determinism: z comes from exact DECIMAL sufficient statistics;
    * p is 1e-9-grid-rounded BEFORE the BH pass, so ranking and the
    * reverse running-min consume identical inputs; the BH windows run
    * over the bounded |types| table in (p, type) order.
    */
  def abZtestFdr(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, d)
      .select($"event_type", to_date($"ts").as("day"),
        round($"value" * 100, 0).cast("long").as("c"))
    val bounds = ev.agg(
      date_add(min($"day"),
        (datediff(max($"day"), min($"day")) / 2).cast("int")).as("mid"))
    val g = ev.crossJoin(broadcast(bounds))
      .withColumn("h", when($"day" <= $"mid", 0L).otherwise(1L))
      .groupBy($"event_type")
      .agg(
        sum(when($"h" === 0L, 1L).otherwise(0L)).as("n1"),
        dec(when($"h" === 0L, $"c").otherwise(0L)).as("s1"),
        dec(when($"h" === 0L, $"c".cast("decimal(38,0)") * $"c")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("ss1"),
        sum(when($"h" === 1L, 1L).otherwise(0L)).as("n2"),
        dec(when($"h" === 1L, $"c").otherwise(0L)).as("s2"),
        dec(when($"h" === 1L, $"c".cast("decimal(38,0)") * $"c")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("ss2"))
    def meanv(n: Column, s: Column) = dbl(s) / dbl(n)
    // n = 1 guard: see [[abDiffInDiff]]'s varm — avoids cross-engine
    // NULL-vs-NaN divergence on a degenerate half
    def varv(n: Column, s: Column, ss: Column) =
      when(n > 1L,
        (dbl(ss) - dbl(s) * dbl(s) / dbl(n)) / (dbl(n) - 1.0))
        .otherwise(lit(0.0))
    val se = sqrt(varv($"n1", $"s1", $"ss1") / dbl($"n1") +
      varv($"n2", $"s2", $"ss2") / dbl($"n2"))
    val z = when(se > 0.0,
      (meanv($"n1", $"s1") - meanv($"n2", $"s2")) / se).otherwise(lit(0.0))
    // Abramowitz–Stegun 7.1.26: erf(x) = 1 − poly(t)·exp(−x²),
    // t = 1/(1 + 0.3275911 x); two-sided p = 1 − erf(|z|/√2)
    val x = abs(z) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t +
      lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    val pRaw = poly * exp(-x * x)
    val scored = g.select($"event_type", $"n1", $"n2",
      (round(z, 6) + lit(0.0)).as("z"),
      // 1e-9 grid BEFORE ranking/BH so both engines rank identical p
      (round(pRaw * 1e9, 0) / 1e9).as("p"))
      .coalesce(1) // bounded |types| rows; BH windows in one task
    val k = Window.orderBy($"p", $"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.orderBy($"p", $"event_type")
    val wRevMin = Window.orderBy($"p", $"event_type")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    scored
      .withColumn("kk", count(lit(1)).over(k))
      .withColumn("i", row_number().over(wRank))
      .withColumn("p_adj_raw",
        min($"p" * dbl($"kk") / dbl($"i")).over(wRevMin))
      .select($"event_type", $"n1", $"n2", $"z",
        (round($"p", 6) + lit(0.0)).as("p"),
        (round(least($"p_adj_raw", lit(1.0)), 6) + lit(0.0)).as("p_adj"),
        when(least($"p_adj_raw", lit(1.0)) <= 0.05, 1L).otherwise(0L)
          .as("discovery"))
  }

  private def fdrOracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    CAST(round(value * 100, 0) AS BIGINT) AS c
      |  FROM events),
      |bounds AS (
      |  SELECT min(day) + CAST(CAST(date_diff('day', min(day), max(day)) // 2 AS INTEGER) AS INTEGER) AS mid
      |  FROM ev),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN day <= (SELECT mid FROM bounds) THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN day <= (SELECT mid FROM bounds) THEN CAST(c AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s1,
      |    CAST(sum(CASE WHEN day <= (SELECT mid FROM bounds) THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS DECIMAL(38,0)) AS ss1,
      |    CAST(sum(CASE WHEN day > (SELECT mid FROM bounds) THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN day > (SELECT mid FROM bounds) THEN CAST(c AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0)) AS s2,
      |    CAST(sum(CASE WHEN day > (SELECT mid FROM bounds) THEN CAST(c AS DECIMAL(38,0)) * c ELSE 0 END) AS DECIMAL(38,0)) AS ss2
      |  FROM ev GROUP BY event_type),
      |vt AS (
      |  SELECT event_type, n1, n2, s1, s2,
      |    CASE WHEN n1 > 1 THEN (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) ELSE 0.0 END AS var1,
      |    CASE WHEN n2 > 1 THEN (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) ELSE 0.0 END AS var2
      |  FROM g),
      |zt AS (
      |  SELECT event_type, n1, n2,
      |    CASE WHEN sqrt(var1 / CAST(n1 AS DOUBLE) + var2 / CAST(n2 AS DOUBLE)) > 0.0
      |    THEN (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |      / sqrt(var1 / CAST(n1 AS DOUBLE) + var2 / CAST(n2 AS DOUBLE))
      |    ELSE 0.0 END AS zv
      |  FROM vt),
      |scored AS (
      |  SELECT event_type, n1, n2, round(zv, 6) + 0.0 AS z,
      |    round(((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0)))) - 1.453152027)
      |      * (1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0)))) + 1.421413741)
      |      * (1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0)))) - 0.284496736)
      |      * (1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0)))) + 0.254829592)
      |      * (1.0 / (1.0 + 0.3275911 * (abs(zv) / sqrt(2.0))))
      |      * exp(-(abs(zv) / sqrt(2.0)) * (abs(zv) / sqrt(2.0))) * 1e9, 0) / 1e9 AS p
      |  FROM zt),
      |bh0 AS (
      |  SELECT event_type, n1, n2, z, p,
      |    count(*) OVER () AS kk,
      |    row_number() OVER (ORDER BY p, event_type) AS i
      |  FROM scored),
      |bh AS (
      |  SELECT event_type, n1, n2, z, p,
      |    min(p * CAST(kk AS DOUBLE) / CAST(i AS DOUBLE))
      |      OVER (ORDER BY p, event_type ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p_adj_raw
      |  FROM bh0)
      |SELECT event_type, n1, n2, z,
      |  round(p, 6) + 0.0 AS p,
      |  round(least(p_adj_raw, 1.0), 6) + 0.0 AS p_adj,
      |  CASE WHEN least(p_adj_raw, 1.0) <= 0.05 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS discovery
      |FROM bh ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ab_cuped_adjust" -> (abCupedAdjust _),
    "ab_diff_in_diff" -> (abDiffInDiff _),
    "ab_srm_check" -> (abSrmCheck _),
    "ab_ztest_fdr" -> (abZtestFdr _),
    "kruskal_wallis_value" -> (kruskalWallis _),
    "survival_km_retention" -> (survivalKm _))

  val oracles: Map[String, String] = Map(
    "ab_cuped_adjust" -> cupedOracle,
    "ab_diff_in_diff" -> didOracle,
    "ab_srm_check" -> srmOracle,
    "ab_ztest_fdr" -> fdrOracle,
    "kruskal_wallis_value" -> kwOracle,
    "survival_km_retention" -> kmOracle)
}
