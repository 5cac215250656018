package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Order-sensitive time-series operators. The interesting engineering
  * problem: a sequential recurrence (EWMA) inside a declarative engine,
  * bit-exact across engines.
  *
  * EWMA's fold `acc*(1-α) + x*α` is NOT order-independent, so it cannot
  * be a shuffle-safe aggregate the way sums are. The scalable shape is:
  * group per key (one shuffle), assemble each key's ordered series, fold
  * it serially. Per-key series are bounded (events per user), so the
  * fold is linear work with no driver involvement — and because BOTH
  * engines execute the identical IEEE-double operation sequence, the
  * result is bit-identical with no rounding bridge needed (we round
  * anyway, defensively).
  *
  * At 100 TB: one shuffle on user_id; state per task = one series at a
  * time. For UNBOUNDED per-key series (years of ticks), swap the
  * collect_list fold for the streaming twin — `mapGroupsWithState` with
  * the running EWMA as constant-size state ([[graft.kv.KVStore]]'s
  * pattern) — same recurrence, O(1) memory.
  *
  * Reference basis: nothing order-sensitive exists in the reference —
  * its reduce folds an UNORDERED value list (mr/worker.go:128-148);
  * sorted-within-partition output (O5) is presentation, not semantics.
  */
object TimeSeries extends graft.Catalog {

  /** Smoothing factor: s_i = s_{i-1}*(1-Alpha) + x_i*Alpha. */
  val Alpha = 0.3

  /** Per-user EWMA of event values, events ordered by (ts, event_id):
    * (user_id, n_events, last value, final EWMA). Seed = first value.
    */
  def ewmaUserValue(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sort_array(collect_list(struct($"ts", $"event_id", $"value"))).as("evs"))
      .select(
        $"user_id",
        $"n_events",
        $"evs"(size($"evs") - 1)("value").as("last_value"),
        round(
          aggregate(
            expr("slice(evs, 2, size(evs) - 1)"),
            $"evs"(0)("value"),
            (acc, e) => acc * (1 - Alpha) + e("value") * Alpha),
          6).as("ewma"))
  }

  /** Hourly resampling with LINEAR interpolation — the interior-gap
    * counterpart of [[graft.relational.Analytics.windowGapFill]]'s
    * forward fill: per user, an hourly grid spanning their observed
    * range; observed hours keep max(value); interior gaps interpolate
    * between the bracketing observations; leading/trailing edges stay
    * null (no extrapolation). Cross-engine exactness: `value` lives on
    * a cents grid, so the interpolation `(pv*(nt-t) + nv*(t-pt)) /
    * (nt-pt)` is computed ENTIRELY in BIGINT (cents-seconds numerator,
    * half-up integer division to micro-units) — FP rounding of an
    * x.xxxxxx5 tie differs between engines (HALF_UP vs half-even),
    * integer floor-div does not. The final /1e6 is one deterministic
    * IEEE division of identical BIGINTs, hence bit-exact both engines.
    *
    * Scale note: the naive formulation (dense grid LEFT JOIN obs, then
    * first/last-IGNORE-NULLS over an [current, unbounded following)
    * frame) is O(partition²) — Spark's UnboundedFollowing frame
    * re-scans the remainder for every row; it measured 44 s at sf0.1
    * vs <1 s for this shape. Instead, lead() over the SMALL observed
    * table pairs consecutive observations, and only the strictly
    * interior gap hours are exploded per segment — linear in output,
    * one narrow shuffle, no dense-grid window at all.
    */
  def interpolateHourly(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val obs = Tables.events(spark, d)
      .groupBy($"user_id", date_trunc("hour", $"ts").as("h"))
      .agg(max(round($"value" * 100).cast("long")).as("v"))
    val observed = obs.select(
      $"user_id", $"h",
      ($"v" * 10000L / 1000000.0).as("value"),
      lit(1L).as("is_observed"))
    val w = Window.partitionBy($"user_id").orderBy($"h")
    val gaps = obs
      .withColumn("nh", lead($"h", 1).over(w))
      .withColumn("nv", lead($"v", 1).over(w))
      .filter($"nh".isNotNull &&
        $"nh" > $"h" + expr("INTERVAL '1' HOUR"))
      .select(
        $"user_id", $"v".as("pv"), $"nv",
        $"h".cast("long").as("pt"), $"nh".cast("long").as("nt"),
        explode(sequence(
          $"h" + expr("INTERVAL '1' HOUR"),
          $"nh" - expr("INTERVAL '1' HOUR"),
          expr("INTERVAL '1' HOUR"))).as("h"))
      .withColumn("hs", $"h".cast("long"))
      .withColumn("num", $"pv" * ($"nt" - $"hs") + $"nv" * ($"hs" - $"pt"))
      .withColumn("den", $"nt" - $"pt")
      // half-up on the micro-unit grid via FLOOR division ((2a+b) fdiv 2b).
      // Spark `div` truncates toward zero while DuckDB `//` floors — they
      // agree only for nonnegative numerators, so the floor is spelled
      // explicitly (a - pmod(a, b) is the largest multiple of b <= a, and
      // `div` on an exact multiple is floor) to keep cross-engine parity
      // even if event values ever go negative.
      .withColumn("a2", $"num" * 10000L * 2L + $"den")
      .withColumn("b2", $"den" * 2L)
      .select(
        $"user_id", $"h",
        (expr("(a2 - pmod(a2, b2)) div b2") / 1000000.0).as("value"),
        lit(0L).as("is_observed"))
    observed.unionByName(gaps)
  }

  /** CUSUM slack (fraction of the reference level, /20 = 5%) and alarm
    * threshold (multiples of the reference daily level).
    */
  val CusumSlackDiv = 20L

  /** Changepoint detection by one-sided CUSUM over the daily revenue
    * series — the drift monitor batch pipelines run on KPI series. The
    * textbook recurrence s_i = max(0, s_{i-1} + (x_i − ref − slack)) is
    * order-dependent and window-hostile; this uses the exact closed
    * form s_i = C_i − min(0, min_{j≤i} C_j) (prefix sums minus running
    * minimum), which IS two cumulative windows — no recursion, no UDF.
    * Every term is BIGINT cents: ref = ⌊total/n⌋, slack = ⌊ref/20⌋,
    * alarm at s > ref (one full reference-day of accumulated drift).
    *
    * Scale: the daily aggregate is the only data-scale exchange; the
    * cumulative windows run over a CALENDAR-bounded series (2.4k rows
    * per 6.5 fixture-years — bounded by time span, not corpus volume),
    * the date_spine/zipf bounded-tail discipline.
    */
  def tsCusum(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("tot", sum($"cents").over(wAll))
      .withColumn("nd", count(lit(1)).over(wAll))
      // BIGINT floor division end to end — a double quotient would lose
      // cents once totals pass 2^53
      .withColumn("ref", expr("tot div nd"))
      .withColumn("dev", $"cents" - $"ref" - expr(s"ref div $CusumSlackDiv"))
      .withColumn("cum", sum($"dev").over(wCum))
      .withColumn("cusum_c", $"cum" - least(lit(0L), min($"cum").over(wCum)))
      .select($"day", ($"cents".cast("double") / 100).as("revenue"),
        $"cusum_c", ($"cusum_c" > $"ref").as("alarm"))
  }

  /** Classical seasonal decomposition of the daily revenue series:
    * centered 7-day moving-average trend, day-of-week seasonal index
    * (mean of the detrended values per weekday), residual. The exact-
    * integer discipline: trend and detrended values carry 7× the cent
    * value (trend7 = Σ of the 7-day window — never divided until
    * display), the per-weekday mean is the single FP division chain
    * (s/n)/700 on identical BIGINT inputs, and residual = det/700 −
    * seasonal reuses those exact doubles. Seasonal/residual are rounded
    * to 6dp and −0.0-normalized (+0.0) on BOTH engines. Weekday is
    * epoch-day mod 7 — engine-neutral, no locale/first-day conventions.
    * Trend is null on the 3-day series edges (full windows only), as
    * the textbook decomposition leaves it.
    */
  def tsSeasonalDecompose(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .withColumn("dow", pmod(datediff($"day", lit("1970-01-01")), lit(7)).cast("long"))
    val w7 = Window.orderBy($"day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend7",
        when(count(lit(1)).over(w7) === 7, sum($"cents").over(w7)))
      .withColumn("det7", lit(7L) * $"cents" - $"trend7")
    val wDow = Window.partitionBy($"dow")
    trended
      .withColumn("s_dow", sum($"det7").over(wDow))
      .withColumn("n_dow", count($"det7").over(wDow))
      .withColumn("seasonal",
        round(($"s_dow".cast("double") / $"n_dow".cast("double")) / 700.0, 6)
          + lit(0.0))
      .withColumn("residual",
        round($"det7".cast("double") / 700.0 -
          (($"s_dow".cast("double") / $"n_dow".cast("double")) / 700.0), 6)
          + lit(0.0))
      .select($"day", ($"cents".cast("double") / 100).as("revenue"),
        ($"trend7".cast("double") / 700).as("trend"),
        $"dow", $"seasonal", $"residual")
  }

  /** Maximum ACF lag, in days. */
  val AcfMaxLag = 14

  /** Autocorrelation function of the daily revenue series at lags
    * 1..[[AcfMaxLag]] — the seasonality detector that motivates
    * [[tsSeasonalDecompose]]'s 7-day period (a weekly cycle shows as an
    * ACF peak at lag 7), and the standard diagnostic before fitting any
    * forecasting model. Standard biased estimator: r_k = Σ_t
    * (x_t−x̄)(x_{t−k}−x̄) / Σ_t (x_t−x̄)², full-series mean and
    * denominator.
    *
    * Exactness: mean-centering is exact via the n-scaling trick — dev_t
    * = n·x_t − T is BIGINT (no FP mean), and both numerator and
    * denominator carry the same n² factor, which cancels in the ratio.
    * dev products reach ~10³⁰ at the 100× corpus, so they multiply and
    * sum in DECIMAL(38,0) / HUGEINT (the [[StatModels.olsPriceTrend]]
    * discipline); the single FP step is one division of identical
    * correctly-rounded doubles, 6dp-rounded and −0.0-normalized.
    *
    * Scale shape: the only data-scale exchange is the daily aggregate;
    * lag pairing is a self-join of the CALENDAR-bounded series (2.4k
    * rows per 6.5 fixture-years — bounded by time span, not corpus
    * volume) on a 14-day date band, broadcast on the lagged side, so
    * the pairing is O(days·maxLag) regardless of corpus size.
    */
  def tsAutocorr(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val devs = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .withColumn("dev",
        count(lit(1)).over(wAll) * $"cents" - sum($"cents").over(wAll))
      .select($"day", $"dev")
      .transform(graft.Ckpt.cut) // calendar-bounded; three consumers, one fan-out
    val den = devs.agg(
      sum($"dev".cast("decimal(38,0)") * $"dev").as("den"))
    val pairs = devs.as("a")
      .join(broadcast(devs.as("b")),
        datediff($"a.day", $"b.day").between(1, AcfMaxLag))
      .groupBy(datediff($"a.day", $"b.day").cast("long").as("lag"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum($"a.dev".cast("decimal(38,0)") * $"b.dev").as("num"))
    pairs.crossJoin(broadcast(den))
      .select($"lag", $"n_pairs",
        (round($"num".cast("double") / $"den".cast("double"), 6) + lit(0.0))
          .as("acf"))
  }

  /** Haar levels in the wavelet spectrum: level ℓ contrasts adjacent
    * 2^(ℓ−1)-day half-blocks, so ℓ=1 is day-to-day and ℓ=8 contrasts
    * 128-day halves of 256-day blocks.
    */
  val WaveletLevels = 8

  /** Haar wavelet variance spectrum of daily revenue: per level ℓ, the
    * energy Σ_b d²(ℓ,b) of the unnormalized detail coefficients
    * d(ℓ,b) = Σ(first half of block b) − Σ(second half) — "where does
    * the variance live, by timescale". A weekly cycle concentrates
    * energy at ℓ=2..3, a trend at the top levels; the multi-resolution
    * companion of [[tsAutocorr]] (which localizes by lag, this by
    * scale).
    *
    * No recursion: the Haar detail at level ℓ only needs block and
    * half-block indices, so ONE pass over (idx, cents) × the 8-row
    * level table computes every coefficient directly — day index from
    * a 1-row min-day broadcast, block = idx div 2^ℓ, sign by the
    * half-block parity. Missing days contribute nothing (implicit
    * zero-imputation) and the ragged final block is the standard
    * zero-padded tail — both deterministic. All coefficients are
    * BIGINT cent sums; squares accumulate in DECIMAL(38,0)/HUGEINT.
    *
    * Output discipline: level energies exceed int64 (cents², ~10²⁰ at
    * sf0.01 alone), and a >2⁶³ integer's conversion to double is NOT
    * guaranteed to round identically across engines (observed 1-ulp
    * divergence at level 6; and Spark's `div` on DECIMAL(38,0)
    * silently overflows through long, verified, so no exact integer
    * rescale exists either). The energy therefore ships LOSSLESS as
    * the decimal string, and the cross-level comparison ships as an
    * exact rank over the 8-row spectrum (decimal comparison is exact)
    * — nothing in the output ever converts a >2⁵³ integer to FP.
    *
    * Scale shape: the daily aggregate is the only data-scale exchange;
    * the coefficient table is calendar-bounded × 8 levels.
    */
  def tsWaveletSpectrum(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
    val d0 = daily.agg(min($"day").as("d0"))
    val levels = (1 to WaveletLevels)
      .map(l => (l.toLong, 1L << l, 1L << (l - 1)))
      .toDF("level", "bs", "hs")
    val det = daily.crossJoin(broadcast(d0))
      .select(datediff($"day", $"d0").cast("long").as("i"), $"cents")
      .crossJoin(broadcast(levels))
      .select($"level",
        expr("i div bs").as("b"),
        when(expr("(i div hs) % 2") === 0L, $"cents")
          .otherwise(-$"cents").as("sc"))
      .groupBy($"level", $"b")
      .agg(sum($"sc").as("dc"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy($"energy".desc, $"level")
    det.groupBy($"level")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum($"dc".cast("decimal(38,0)") * $"dc").as("energy"))
      .withColumn("energy_rank", row_number().over(wRank).cast("long"))
      .select($"level", $"n_blocks",
        $"energy".cast("string").as("energy"), $"energy_rank")
  }

  private def waveletOracle: String = {
    val levelRows = (1 to WaveletLevels)
      .map(l => s"(${l}, ${1L << l}, ${1L << (l - 1)})").mkString(", ")
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |m AS (SELECT min(day) AS d0 FROM daily),
       |lv(level, bs, hs) AS (VALUES $levelRows),
       |det AS (
       |  SELECT CAST(level AS BIGINT) AS level, i // bs AS b,
       |    CAST(sum(CASE WHEN (i // hs) % 2 = 0 THEN cents ELSE -cents END)
       |         AS BIGINT) AS dc
       |  FROM (SELECT CAST(day - (SELECT d0 FROM m) AS BIGINT) AS i, cents
       |        FROM daily), lv
       |  GROUP BY 1, 2),
       |sp AS (
       |  SELECT level, CAST(count(*) AS BIGINT) AS n_blocks,
       |         sum(CAST(dc AS HUGEINT) * dc) AS energy
       |  FROM det GROUP BY 1)
       |SELECT level, n_blocks,
       |  CAST(energy AS VARCHAR) AS energy,
       |  CAST(row_number() OVER (ORDER BY energy DESC, level) AS BIGINT)
       |    AS energy_rank
       |FROM sp""".stripMargin
  }

  private def cusumOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |base AS (
       |  SELECT day, cents,
       |    CAST(sum(cents) OVER () // count(*) OVER () AS BIGINT) AS ref
       |  FROM daily),
       |cums AS (
       |  SELECT day, cents, ref,
       |    CAST(sum(cents - ref - ref // $CusumSlackDiv)
       |         OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         AS BIGINT) AS cum
       |  FROM base)
       |SELECT day, CAST(cents AS DOUBLE) / 100 AS revenue,
       |  cum - least(CAST(0 AS BIGINT),
       |              min(cum) OVER (ORDER BY day
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |    AS cusum_c,
       |  (cum - least(CAST(0 AS BIGINT),
       |               min(cum) OVER (ORDER BY day
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
       |    > ref AS alarm
       |FROM cums""".stripMargin

  private def decomposeOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
       |         CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7 AS BIGINT) AS dow
       |  FROM orders GROUP BY 1, 3),
       |tr AS (
       |  SELECT day, cents, dow,
       |    CASE WHEN count(*) OVER w7 = 7
       |         THEN CAST(sum(cents) OVER w7 AS BIGINT) END AS trend7
       |  FROM daily
       |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |det AS (
       |  SELECT *, 7 * cents - trend7 AS det7 FROM tr),
       |sea AS (
       |  SELECT *,
       |    CAST(sum(det7) OVER (PARTITION BY dow) AS BIGINT) AS s_dow,
       |    CAST(count(det7) OVER (PARTITION BY dow) AS BIGINT) AS n_dow
       |  FROM det)
       |SELECT day, CAST(cents AS DOUBLE) / 100 AS revenue,
       |  CAST(trend7 AS DOUBLE) / 700 AS trend, dow,
       |  round((CAST(s_dow AS DOUBLE) / CAST(n_dow AS DOUBLE)) / 700.0, 6) + 0.0
       |    AS seasonal,
       |  round(CAST(det7 AS DOUBLE) / 700.0 -
       |        (CAST(s_dow AS DOUBLE) / CAST(n_dow AS DOUBLE)) / 700.0, 6) + 0.0
       |    AS residual
       |FROM sea""".stripMargin

  private def autocorrOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |devs AS (
       |  SELECT day,
       |    CAST(count(*) OVER () AS BIGINT) * cents
       |      - CAST(sum(cents) OVER () AS BIGINT) AS dev
       |  FROM daily),
       |den AS (SELECT sum(CAST(dev AS HUGEINT) * dev) AS den FROM devs),
       |pairs AS (
       |  SELECT CAST(a.day - b.day AS BIGINT) AS lag,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    sum(CAST(a.dev AS HUGEINT) * b.dev) AS num
       |  FROM devs a JOIN devs b
       |    ON a.day - b.day BETWEEN 1 AND $AcfMaxLag
       |  GROUP BY 1)
       |SELECT lag, n_pairs,
       |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0 AS acf
       |FROM pairs, den""".stripMargin

  /** Maximum cross-correlation lead/lag in days. */
  val CcfMaxLag = 7

  /** Lead–lag cross-correlation between the daily-revenue and
    * daily-order-count series: Pearson r of (revenue on day d, orders
    * on day d+ℓ) for ℓ ∈ [0, [[CcfMaxLag]]] — the "does volume lead
    * value" diagnostic that [[tsAutocorr]] (self-correlation) cannot
    * answer. Each lag gets the FULL six exact sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy²) because the overlapping window shifts
    * per lag, so per-lag means differ — the [[StatModels]] one-pass
    * OLS/corr discipline, per lag.
    *
    * Scale shape: the fact scan collapses once onto the calendar-
    * bounded daily grid (checkpointed — the band join must not rescan
    * orders); the ≤ (days × 8)-row band join and the 8-group aggregate
    * are bounded at any corpus size. All cross-products are exact
    * DECIMAL(38,0); FP is the closed-form r per group row, identical
    * op order both engines, 6dp-rounded and −0.0-normalized (r is
    * signed).
    */
  def tsCcf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(
        sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"),
        count(lit(1)).as("cnt"))
      .transform(graft.Ckpt.cut) // calendar-bounded; both join sides, one scan
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val g = daily.as("a")
      .join(broadcast(daily.as("b")),
        datediff($"b.day", $"a.day").between(0, CcfMaxLag))
      .groupBy(datediff($"b.day", $"a.day").cast("long").as("lag"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec($"a.cents")).as("sx"), sum(dec($"b.cnt")).as("sy"),
        sum(dec($"a.cents") * dec($"b.cnt")).as("sxy"),
        sum(dec($"a.cents") * dec($"a.cents")).as("sxx"),
        sum(dec($"b.cnt") * dec($"b.cnt")).as("syy"))
    val num = (dec($"n") * $"sxy" - $"sx" * $"sy").cast("double")
    val denx = (dec($"n") * $"sxx" - $"sx" * $"sx").cast("double")
    val deny = (dec($"n") * $"syy" - $"sy" * $"sy").cast("double")
    g.select($"lag", $"n",
      when(denx * deny > 0.0,
        round(num / sqrt(denx * deny), 6) + lit(0.0))
        .otherwise(lit(0.0)).as("ccf"))
  }

  private def ccfOracle: String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |      AS cents,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM orders GROUP BY 1),
       |g AS (
       |  SELECT CAST(b.day - a.day AS BIGINT) AS lag,
       |    CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(a.cents AS HUGEINT)) AS sx,
       |    sum(CAST(b.cnt AS HUGEINT)) AS sy,
       |    sum(CAST(a.cents AS HUGEINT) * CAST(b.cnt AS HUGEINT)) AS sxy,
       |    sum(CAST(a.cents AS HUGEINT) * CAST(a.cents AS HUGEINT)) AS sxx,
       |    sum(CAST(b.cnt AS HUGEINT) * CAST(b.cnt AS HUGEINT)) AS syy
       |  FROM daily a JOIN daily b
       |    ON b.day - a.day BETWEEN 0 AND $CcfMaxLag
       |  GROUP BY 1)
       |SELECT lag, n,
       |  CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) *
       |            CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) > 0.0
       |       THEN round(
       |         CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
       |         sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) *
       |              CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)),
       |         6) + 0.0
       |       ELSE 0.0 END AS ccf
       |FROM g""".stripMargin

  /** Holt smoothing parameters — compile-time literals embedded in
    * both engines.
    */
  val HoltAlpha = 0.5
  val HoltBeta = 0.3
  /** Forecast horizon in days. */
  val HoltHorizon = 7

  /** Holt double-exponential (level + trend) forecast of daily revenue
    * — the classical local-trend forecaster one tier above
    * [[ewmaUserValue]]'s level-only EWMA (Holt 1957): per observation
    * l′ = α·x + (1−α)(l+b), b′ = β(l′−l) + (1−β)b, initialized l=x₁,
    * b=0; the h-step forecast is l+h·b for h ∈ [1, [[HoltHorizon]]].
    *
    * The recursion is inherently sequential, so the scalable split is
    * the [[graft.relational.Graph.pagerankNations]] contract-then-
    * iterate shape: the 100 TB fact scan collapses once onto the
    * calendar-bounded daily grid; the fold then runs INSIDE one row —
    * `aggregate` over the sorted bounded array — never a driver
    * collect, never a data-scale window. FP determinism holds because
    * the fold's op ORDER is fixed by the sorted array on both engines
    * (the cross-row-sum association hazard does not exist for a
    * sequential recursion); DuckDB replays the identical recurrence as
    * a recursive CTE. Output is whole CENTS as BIGINT — a 6dp round at
    * the series' 1e9+ magnitude is engine-divergent (the identical
    * double rounded toward a 16-significant-digit decimal target lands
    * on adjacent doubles; observed at the 100x rehearsal, the
    * [[tsWaveletSpectrum]] hazard), while a 0-decimal round of the
    * same exact double is one well-defined decision on both engines
    * (HALF_UP == half-away-from-zero for every sign).
    */
  def tsHoltForecast(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val state = Tables.orders(spark, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .agg(sort_array(collect_list(struct($"day", $"cents"))).as("s"))
      .select(
        size($"s").cast("long").as("n_days"),
        expr(
          s"""aggregate(
             |  s,
             |  named_struct('l', CAST(0.0 AS DOUBLE),
             |               'b', CAST(0.0 AS DOUBLE), 'i', 0),
             |  (acc, x) -> IF(acc.i = 0,
             |    named_struct('l', CAST(x.cents AS DOUBLE),
             |                 'b', CAST(0.0 AS DOUBLE), 'i', 1),
             |    named_struct(
             |      'l', $HoltAlpha * CAST(x.cents AS DOUBLE) +
             |           ${1 - HoltAlpha} * (acc.l + acc.b),
             |      'b', $HoltBeta * (($HoltAlpha * CAST(x.cents AS DOUBLE) +
             |             ${1 - HoltAlpha} * (acc.l + acc.b)) - acc.l) +
             |           ${1 - HoltBeta} * acc.b,
             |      'i', acc.i + 1)))""".stripMargin).as("st"))
    state
      .select($"n_days", $"st.l".as("l"), $"st.b".as("b"),
        explode(sequence(lit(1L), lit(HoltHorizon.toLong))).as("h"))
      .select(
        $"h", $"n_days",
        round($"l", 0).cast("long").as("level_cents"),
        round($"b", 0).cast("long").as("trend_cents"),
        round($"l" + $"h".cast("double") * $"b", 0).cast("long")
          .as("forecast_cents"))
  }

  private def holtOracle: String =
    s"""WITH RECURSIVE daily AS MATERIALIZED (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY 1),
       |series AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY day) AS rn, cents FROM daily),
       |rec AS (
       |  SELECT 1 AS i, CAST(cents AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
       |  FROM series WHERE rn = 1
       |  UNION ALL
       |  SELECT r.i + 1,
       |    $HoltAlpha * CAST(s.cents AS DOUBLE) +
       |      ${1 - HoltAlpha} * (r.l + r.b),
       |    $HoltBeta * (($HoltAlpha * CAST(s.cents AS DOUBLE) +
       |        ${1 - HoltAlpha} * (r.l + r.b)) - r.l) +
       |      ${1 - HoltBeta} * r.b
       |  FROM rec r JOIN series s ON s.rn = r.i + 1),
       |fin AS (
       |  SELECT i, l, b FROM rec WHERE i = (SELECT max(i) FROM rec)),
       |hs AS (SELECT unnest(range(1, ${HoltHorizon + 1})) AS h)
       |SELECT CAST(h AS BIGINT) AS h, CAST(i AS BIGINT) AS n_days,
       |  CAST(round(l, 0) AS BIGINT) AS level_cents,
       |  CAST(round(b, 0) AS BIGINT) AS trend_cents,
       |  CAST(round(l + CAST(h AS DOUBLE) * b, 0) AS BIGINT)
       |    AS forecast_cents
       |FROM hs, fin""".stripMargin

  /** Time-weighted average value per user (TWAP — the finance/metrics
    * staple that plain AVG gets wrong on irregular event spacing: a
    * value held for an hour must weigh 60× one held for a minute):
    * Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_n − t₁) over each user's timeline, step
    * interpolation.
    *
    * Exactness: weights are exact epoch-microsecond deltas, values
    * exact cents; each product micros×cents can pass int64 (a
    * multi-year hold × a large value), so products and sums ride
    * DECIMAL(38,0)/HUGEINT; ONE user-keyed window (lead) + one
    * aggregate, FP only at the final division. Single-event users
    * (zero span) are excluded — a TWAP over zero time is undefined.
    */
  def twapUserValue(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    Tables.events(spark, d)
      .select($"user_id", unix_micros($"ts").as("t"),
        round($"value" * 100, 0).cast("long").as("c"), $"event_id")
      .withColumn("t2", lead($"t", 1).over(w))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when($"t2".isNotNull, dec($"c") * dec($"t2" - $"t"))
          .otherwise(dec(lit(0L)))).as("wsum"),
        (max($"t") - min($"t")).as("span"))
      .filter($"span" > 0L)
      .select($"user_id", $"n_events",
        (($"wsum".cast("double") / $"span".cast("double")) / lit(100.0))
          .as("twap"))
  }

  private def twapOracle: String =
    """WITH e AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t,
      |    CAST(round(value * 100, 0) AS BIGINT) AS c,
      |    lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS t2
      |  FROM events),
      |g AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    sum(CASE WHEN t2 IS NOT NULL
      |             THEN CAST(c AS HUGEINT) * CAST(t2 - t AS HUGEINT)
      |             ELSE CAST(0 AS HUGEINT) END) AS wsum,
      |    CAST(max(t) - min(t) AS BIGINT) AS span
      |  FROM e GROUP BY user_id)
      |SELECT user_id, n_events,
      |  (CAST(wsum AS DOUBLE) / CAST(span AS DOUBLE)) / 100.0 AS twap
      |FROM g WHERE span > 0""".stripMargin

  /** Exact click→purchase conversion-delay quantiles (p50/p90/p99 in
    * seconds) over the as-of pairs ([[RelQueries.asofPurchaseClick]]'s
    * running-conditional-max shape — no join): the latency
    * distribution an attribution window is calibrated against.
    *
    * The delay domain is calendar-bounded seconds, so quantiles are
    * order statistics located by cumulative counts over the bounded
    * frequency grid (the [[StatModels.robustTrimmedMean]] discipline —
    * never a global sort, never a per-group value buffer): the q-th
    * statistic sits at 0-based position (n−1)·q_num div q_den. All
    * integers end to end; the mean is the one division.
    */
  def conversionDelayQuantiles(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val wu = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val delays = Tables.events(spark, d)
      .withColumn("last_click",
        max(when($"event_type" === "click", unix_micros($"ts"))).over(wu))
      .filter($"event_type" === "purchase" && $"last_click".isNotNull)
      // integer div, not `/`: Column `/` is double division, whose
      // nearest-rounding can cross an integer boundary before the cast
      .withColumn("us", unix_micros($"ts") - $"last_click")
      .select(expr("us div 1000000").as("s"))
    val freq = delays.groupBy($"s").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    def statAt(posNum: Long, posDen: Long) =
      min(when($"cum" - $"cnt" <= expr(s"((n - 1) * $posNum) div $posDen") &&
        expr(s"((n - 1) * $posNum) div $posDen") < $"cum", $"s"))
    freq
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wAll))
      .agg(
        first($"n").as("n"),
        statAt(1L, 2L).as("p50_s"),
        statAt(9L, 10L).as("p90_s"),
        statAt(99L, 100L).as("p99_s"),
        sum($"s" * $"cnt").as("ssum"))
      .select($"n", $"p50_s", $"p90_s", $"p99_s",
        (round($"ssum".cast("double") / $"n".cast("double"), 6) + lit(0.0))
          .as("mean_s"))
  }

  private def delayOracle: String =
    """WITH delays AS (
      |  SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) - last_click) // 1000000)
      |    AS s
      |  FROM (
      |    SELECT ts, event_type,
      |      max(CASE WHEN event_type = 'click'
      |               THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
      |        OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        AS last_click
      |    FROM events) t
      |  WHERE event_type = 'purchase' AND last_click IS NOT NULL),
      |freq AS (
      |  SELECT CAST(s AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS cnt
      |  FROM delays GROUP BY 1),
      |c AS (
      |  SELECT s, cnt,
      |    CAST(sum(cnt) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER () AS BIGINT) AS n
      |  FROM freq)
      |SELECT CAST(first(n) AS BIGINT) AS n,
      |  CAST(min(CASE WHEN cum - cnt <= ((n - 1) * 1) // 2
      |                 AND ((n - 1) * 1) // 2 < cum THEN s END) AS BIGINT)
      |    AS p50_s,
      |  CAST(min(CASE WHEN cum - cnt <= ((n - 1) * 9) // 10
      |                 AND ((n - 1) * 9) // 10 < cum THEN s END) AS BIGINT)
      |    AS p90_s,
      |  CAST(min(CASE WHEN cum - cnt <= ((n - 1) * 99) // 100
      |                 AND ((n - 1) * 99) // 100 < cum THEN s END) AS BIGINT)
      |    AS p99_s,
      |  round(CAST(sum(s * cnt) AS DOUBLE) / CAST(first(n) AS DOUBLE), 6)
      |    + 0.0 AS mean_s
      |FROM c""".stripMargin

  /** Pairwise Pearson correlation matrix of the per-type daily event
    * counts — the co-movement panel above [[tsCcf]]'s single lagged
    * pair (which metric families rise and fall together; an anomaly
    * that breaks a stable correlation is a system signal even when
    * both series stay in-range). Zero-filled day spine (a type absent
    * on a day counts 0 — dropping those days would bias every pair
    * upward), exact DECIMAL(38,0) sufficient statistics per unordered
    * type pair over the calendar-bounded grid, closed-form r.
    */
  def eventCorrMatrix(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, d)
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.cut) // calendar x type bounded; spine + join uses
    val daySpine = counts.select($"day").distinct()
    val types = counts.select($"event_type").distinct()
    val grid = daySpine.crossJoin(broadcast(types))
      .join(counts, Seq("day", "event_type"), "left")
      .select($"day", $"event_type", coalesce($"c", lit(0L)).as("c"))
    val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
    val g = grid.as("a")
      .join(grid.as("b"),
        $"a.day" === $"b.day" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec($"a.c")).as("sx"), sum(dec($"b.c")).as("sy"),
        sum(dec($"a.c") * dec($"b.c")).as("sxy"),
        sum(dec($"a.c") * dec($"a.c")).as("sxx"),
        sum(dec($"b.c") * dec($"b.c")).as("syy"))
    val num = (dec($"n") * $"sxy" - $"sx" * $"sy").cast("double")
    val denx = (dec($"n") * $"sxx" - $"sx" * $"sx").cast("double")
    val deny = (dec($"n") * $"syy" - $"sy" * $"sy").cast("double")
    g.select($"type_a", $"type_b", $"n",
      when(denx * deny > 0.0,
        round(num / sqrt(denx * deny), 6) + lit(0.0))
        .otherwise(lit(0.0)).as("corr"))
  }

  private def corrMatrixOracle: String =
    """WITH counts AS MATERIALIZED (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
      |           AS day,
      |    event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS MATERIALIZED (
      |  SELECT d.day, t.event_type, coalesce(c.c, 0) AS c
      |  FROM (SELECT DISTINCT day FROM counts) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM counts) t
      |  LEFT JOIN counts c
      |    ON c.day = d.day AND c.event_type = t.event_type),
      |g AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(a.c AS HUGEINT)) AS sx, sum(CAST(b.c AS HUGEINT)) AS sy,
      |    sum(CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS sxy,
      |    sum(CAST(a.c AS HUGEINT) * CAST(a.c AS HUGEINT)) AS sxx,
      |    sum(CAST(b.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS syy
      |  FROM grid a JOIN grid b
      |    ON a.day = b.day AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n,
      |  CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) *
      |            CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) > 0.0
      |       THEN round(
      |         CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
      |         sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) *
      |              CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)),
      |         6) + 0.0
      |       ELSE 0.0 END AS corr
      |FROM g""".stripMargin

  /** Inter-arrival profile per event type: exact median and p90 of the
    * per-user gap between consecutive same-type events, in seconds —
    * the arrival-process characterization capacity planning and
    * anomaly baselines read (a Poisson stream has exp-distributed
    * gaps; bursts collapse the median while the p90 holds).
    *
    * One (user, type)-keyed lag window produces the gaps; they
    * collapse onto the calendar-bounded seconds grid per type, and the
    * order statistics are located by cumulative counts (the
    * [[conversionDelayQuantiles]] discipline, partitioned per type —
    * the single-partition variant's bounded-sort caveat does not even
    * arise). All integers; mean is the one division.
    */
  def eventArrivalProfile(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val wu = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"t", $"event_id")
    val gaps = Tables.events(spark, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("t"),
        $"event_id")
      .withColumn("prev", lag($"t", 1).over(wu))
      .filter($"prev".isNotNull)
      .withColumn("us", $"t" - $"prev")
      .select($"event_type", expr("us div 1000000").as("s"))
    val freq = gaps.groupBy($"event_type", $"s").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"event_type")
    def statAt(posNum: Long, posDen: Long) =
      min(when($"cum" - $"cnt" <= expr(s"((n - 1) * $posNum) div $posDen") &&
        expr(s"((n - 1) * $posNum) div $posDen") < $"cum", $"s"))
    freq
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wAll))
      .groupBy($"event_type")
      .agg(
        first($"n").as("n_gaps"),
        statAt(1L, 2L).as("p50_s"),
        statAt(9L, 10L).as("p90_s"),
        sum($"s" * $"cnt").as("ssum"))
      .select($"event_type", $"n_gaps", $"p50_s", $"p90_s",
        (round($"ssum".cast("double") / $"n_gaps".cast("double"), 6)
          + lit(0.0)).as("mean_s"))
  }

  private def arrivalOracle: String =
    """WITH gaps AS (
      |  SELECT event_type, (t - prev) // 1000000 AS s
      |  FROM (
      |    SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
      |      lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |        (PARTITION BY user_id, event_type
      |         ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev
      |    FROM events) x
      |  WHERE prev IS NOT NULL),
      |freq AS (
      |  SELECT event_type, CAST(s AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM gaps GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, s, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM freq)
      |SELECT event_type, CAST(first(n) AS BIGINT) AS n_gaps,
      |  CAST(min(CASE WHEN cum - cnt <= ((n - 1) * 1) // 2
      |                 AND ((n - 1) * 1) // 2 < cum THEN s END) AS BIGINT)
      |    AS p50_s,
      |  CAST(min(CASE WHEN cum - cnt <= ((n - 1) * 9) // 10
      |                 AND ((n - 1) * 9) // 10 < cum THEN s END) AS BIGINT)
      |    AS p90_s,
      |  round(CAST(sum(s * cnt) AS DOUBLE) / CAST(first(n) AS DOUBLE), 6)
      |    + 0.0 AS mean_s
      |FROM c GROUP BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_arrival_profile" -> (eventArrivalProfile _),
    "event_corr_matrix" -> (eventCorrMatrix _),
    "twap_user_value" -> (twapUserValue _),
    "conversion_delay_quantiles" -> (conversionDelayQuantiles _),
    "ts_ccf" -> (tsCcf _),
    "ts_holt_forecast" -> (tsHoltForecast _),
    "ewma_user_value" -> (ewmaUserValue _),
    "ts_interpolate" -> (interpolateHourly _),
    "ts_cusum" -> (tsCusum _),
    "ts_autocorr" -> (tsAutocorr _),
    "ts_wavelet_spectrum" -> (tsWaveletSpectrum _),
    "ts_seasonal_decompose" -> (tsSeasonalDecompose _))

  val oracles: Map[String, String] = Map(
    "events_arrival_profile" -> arrivalOracle,
    "event_corr_matrix" -> corrMatrixOracle,
    "twap_user_value" -> twapOracle,
    "conversion_delay_quantiles" -> delayOracle,
    "ts_ccf" -> ccfOracle,
    "ts_holt_forecast" -> holtOracle,
    "ts_cusum" -> cusumOracle,
    "ts_autocorr" -> autocorrOracle,
    "ts_wavelet_spectrum" -> waveletOracle,
    "ts_seasonal_decompose" -> decomposeOracle,
    "ts_interpolate" ->
      """WITH obs AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    max(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds),
        |j AS (
        |  SELECT g.user_id, g.h, o.v, CAST(epoch(g.h) AS BIGINT) AS hs
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h),
        |w AS (
        |  SELECT *,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN hs END IGNORE NULLS) OVER wp AS pt,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN hs END IGNORE NULLS) OVER wn AS nt
        |  FROM j
        |  WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, h,
        |  (CASE WHEN v IS NOT NULL THEN v * 10000
        |        WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
        |        THEN ((pv * (nt - hs) + nv * (hs - pt)) * 10000 * 2 + (nt - pt))
        |             // ((nt - pt) * 2)
        |   END) / 1000000.0 AS value,
        |  CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
        |FROM w""".stripMargin,
    "ewma_user_value" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  last(value ORDER BY ts, event_id) AS last_value,
         |  round(list_reduce(list(value ORDER BY ts, event_id),
         |                    (acc, x) -> acc * ${1 - Alpha} + x * $Alpha), 6) AS ewma
         |FROM events GROUP BY user_id""".stripMargin)
}
