package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis

/** Distributed trained quality classifier — the learned-filter tier of a
  * curation pipeline (the fastText/CCNet-style quality model, here a
  * Rocchio / nearest-centroid discriminant so the ENTIRE fit is one
  * distributed aggregate of exact integers and therefore bit-reproducible
  * across engines and across stage retries; Rocchio 1971, Manning et al.
  * "Introduction to Information Retrieval" ch. 14).
  *
  * Shape: one narrow pass computes integer surface features per document
  * (token-count decile, stopword percentage, average word length,
  * ASCII-token percentage — the standard bag of surface signals); ONE
  * full-corpus aggregate produces per-class counts and feature sums
  * (map-side partial sums, 10-column payload); the class means go to
  * micro fixed-point by integer division (deterministic on both
  * engines), and every document is scored against the midpoint
  * hyperplane score = 2e6·(d·x) − d·(μ⁺+μ⁻) with d = μ⁺−μ⁻ — all BIGINT,
  * with magnitudes bounded by the FEATURE range (≤ ~8e16), independent
  * of corpus size, so the arithmetic never overflows at 100 TB.
  *
  * Labels here distill the catalog's own handcrafted quality rule
  * (text_quality's stopword/word-length blend in integer form,
  * 5·x2 + 50·x3 > 225) — the realistic bootstrap for a learned filter:
  * heuristic labels in, cheap linear scorer out (the classifier
  * recovers the rule at ~0.97 accuracy through its own geometry, not by
  * copying the threshold). A production filter swaps in curated
  * positive/negative sets and keeps the same dataflow. The only thing
  * that ever reaches the driver is the 10-number summary (a bounded
  * fit, same discipline as the BPE/k-means fits).
  */
object Classifier extends graft.Catalog {

  private val Micro = 1000000L

  /** Integer surface features + heuristic label: (doc_id, y, x1..x4). */
  private def features(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val stop = Set("the", "a", "of", "to")
    Tables.documents(spark, d)
      .select($"doc_id", TextAnalysis.toks($"text").as("t"))
      .select(
        $"doc_id",
        size($"t").cast("long").as("n"),
        size(filter($"t", x => stop.map(x === _).reduce(_ || _)))
          .cast("long").as("stop_hits"),
        coalesce(
          aggregate($"t", lit(0L), (acc, x) => acc + length(x).cast("long")),
          lit(0L)).as("chars"),
        size(filter($"t", x => x.rlike("^[A-Za-z]+$"))).cast("long").as("alpha"))
      .select(
        $"doc_id",
        expr("least(n, 400L) div 20L").as("x1"),
        expr("(stop_hits * 100L) div greatest(n, 1L)").as("x2"),
        expr("least(chars div greatest(n, 1L), 20L)").as("x3"),
        expr("(alpha * 100L) div greatest(n, 1L)").as("x4"))
      .withColumn("y",
        when(lit(5L) * $"x2" + lit(50L) * $"x3" > 225L, 1L).otherwise(-1L))
  }

  /** Fit + score: one aggregate, closed-form discriminant, one scoring
    * scan. Output (doc_id, y, score, pred) for every document — the
    * corpus scoring pass a filter pipeline consumes.
    */
  def qualityClassifier(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val f = features(spark, d)
    val pos = when($"y" === 1L, lit(1L)).otherwise(0L)
    val neg = when($"y" === -1L, lit(1L)).otherwise(0L)
    val s = f.agg(
      sum(pos).as("np"), sum(neg).as("nn"),
      sum(pos * $"x1").as("sp1"), sum(pos * $"x2").as("sp2"),
      sum(pos * $"x3").as("sp3"), sum(pos * $"x4").as("sp4"),
      sum(neg * $"x1").as("sn1"), sum(neg * $"x2").as("sn2"),
      sum(neg * $"x3").as("sn3"), sum(neg * $"x4").as("sn4")).head()
    val (np, nn) = (s.getLong(0), s.getLong(1))
    // micro fixed-point class means — exact integer division, so both
    // engines compute the identical discriminant
    val muP = (0 until 4).map(i => s.getLong(2 + i) * Micro / math.max(np, 1L))
    val muN = (0 until 4).map(i => s.getLong(6 + i) * Micro / math.max(nn, 1L))
    val dv = (0 until 4).map(i => muP(i) - muN(i))
    val m2 = (0 until 4).map(i => muP(i) + muN(i))
    val dDotX = (0 until 4).map(i => lit(dv(i)) * col(s"x${i + 1}")).reduce(_ + _)
    val bias = (0 until 4).map(i => dv(i) * m2(i)).sum
    val score = lit(2L * Micro) * dDotX - lit(bias)
    f.select(
      $"doc_id", $"y",
      score.as("score"),
      when(score > 0, 1L).otherwise(-1L).as("pred"))
  }

  /** Learned filter ∧ mixture draw — the gate a curation job actually
    * ships: a document survives iff the trained classifier accepts it
    * (pred = +1) AND the deterministic hash-Bernoulli draw keeps it
    * under its source's fitted temperature rate ([[Curation]]'s
    * mixture). The classifier side is one scoring scan; the draw side
    * is one narrow scan joined to the broadcast 20-row rate table; the
    * two verdict streams meet on a doc_id equi-join (both sides already
    * pruned, so the shuffle carries survivors only). Rerun-stable end
    * to end: the fit is exact integers, the draw is a pure function of
    * doc_id.
    */
  def qualityGatedSample(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val accepted = qualityClassifier(spark, d)
      .filter($"pred" === 1L).select($"doc_id", $"score")
    Curation.stratifiedSample(spark, d)
      .join(accepted, Seq("doc_id"))
      .select($"doc_id", $"source", $"u", $"score")
  }

  /** Model-eval tooling: the calibration / reliability table for the
    * fitted discriminant — 10 equal-width score bins (bounds from a
    * one-row min/max broadcast, bin index by exact integer arithmetic,
    * so both engines bin identically; equal-WIDTH beats ntile here
    * because a rank-based decile needs a global sort, which the catalog
    * bans), each reporting how often the score's sign agrees with the
    * label. The table a filter operator reads before picking a
    * deployment threshold.
    */
  def qualityCalibration(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val scored = qualityClassifier(spark, d)
    val bounds = scored.agg(
      min($"score").as("mn"), max($"score").as("mx"))
    scored.crossJoin(broadcast(bounds))
      .select($"y", $"pred",
        expr("(score - mn) * 10L div (mx - mn + 1L)").as("bin"))
      .groupBy($"bin")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"y" === 1L, 1L).otherwise(0L)).as("n_label_pos"),
        sum(when($"pred" === 1L, 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when($"pred" === $"y", 1L).otherwise(0L)).as("n_correct"))
  }

  /** Number of PR-curve threshold steps (interior equal-width cuts). */
  val PrSteps = 19

  /** Precision–recall sweep for the fitted discriminant: TP/FP/FN at
    * [[PrSteps]] equal-width score thresholds between the observed
    * min/max (same 1-row bounds broadcast and integer bin arithmetic
    * as [[qualityCalibration]] — a rank-based sweep would need the
    * banned global sort), plus precision/recall/F1. The curve a filter
    * deployment reads to pick its operating point, one tier above the
    * calibration table's fixed sign threshold.
    *
    * Shape: the scored stream crosses the bounded threshold list by
    * explode (CPU-only ×19 amplification), then ONE partial+final
    * aggregate onto 19 group rows — no data-scale shuffle. All counts
    * are exact integers; the three ratios are single divisions of
    * identical exact integers, 6dp-rounded, −0.0-safe (all
    * nonnegative).
    */
  def prCurve(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val scored = qualityClassifier(spark, d)
    val bounds = scored.agg(min($"score").as("mn"), max($"score").as("mx"))
    scored.crossJoin(broadcast(bounds))
      .select($"y", $"score", $"mn", $"mx",
        explode(sequence(lit(1L), lit(PrSteps.toLong))).as("j"))
      .select($"y", $"score", $"j",
        ($"mn" + expr("(j * (mx - mn + 1)) div " + (PrSteps + 1))).as("thr"))
      .groupBy($"j", $"thr")
      .agg(
        sum(when($"score" >= $"thr" && $"y" === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when($"score" >= $"thr" && $"y" === -1L, 1L).otherwise(0L)).as("fp"),
        sum(when($"score" < $"thr" && $"y" === 1L, 1L).otherwise(0L)).as("fn"))
      .select($"j", $"thr", $"tp", $"fp", $"fn",
        round($"tp".cast("double") /
          greatest($"tp" + $"fp", lit(1L)).cast("double"), 6).as("precision"),
        round($"tp".cast("double") /
          greatest($"tp" + $"fn", lit(1L)).cast("double"), 6).as("recall"),
        round(lit(2.0) * $"tp".cast("double") /
          greatest(lit(2L) * $"tp" + $"fp" + $"fn", lit(1L)).cast("double"), 6)
          .as("f1"))
  }

  /** Cohen's kappa between the learned prediction and the heuristic
    * label — chance-corrected agreement, the honest "is the classifier
    * actually learning the rule" scalar (raw accuracy flatters any
    * imbalanced gate; kappa does not). κ = (p_o − p_e)/(1 − p_e) with
    * p_o, p_e computed as single divisions of the exact 2×2 confusion
    * counts from ONE corpus aggregate (identical FP op order both
    * engines; counts would overflow int64 squared, so the marginals
    * divide before multiplying).
    */
  def kappa(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val c = qualityClassifier(spark, d).agg(
      count(lit(1)).as("n"),
      sum(when($"pred" === 1L && $"y" === 1L, 1L).otherwise(0L)).as("tp"),
      sum(when($"pred" === 1L && $"y" === -1L, 1L).otherwise(0L)).as("fp"),
      sum(when($"pred" === -1L && $"y" === 1L, 1L).otherwise(0L)).as("fn"),
      sum(when($"pred" === -1L && $"y" === -1L, 1L).otherwise(0L)).as("tn"))
    val nD = $"n".cast("double")
    val po = ($"tp" + $"tn").cast("double") / nD
    val pe = (($"tp" + $"fp").cast("double") / nD) *
      (($"tp" + $"fn").cast("double") / nD) +
      (($"fn" + $"tn").cast("double") / nD) *
        (($"fp" + $"tn").cast("double") / nD)
    c.select($"n", $"tp", $"fp", $"fn", $"tn",
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      (round((po - pe) / (lit(1.0) - pe), 6) + lit(0.0)).as("kappa"))
  }

  /** Exact ROC AUC of the fitted discriminant via the rank-sum
    * (Mann–Whitney U) identity with midrank tie handling — the
    * threshold-free companion of [[prCurve]]'s 19-point sweep (AUC is
    * the number a model card reports; the identity AUC = U/(n₊·n₋)
    * computes it exactly without enumerating thresholds, Hanley &
    * McNeil 1982).
    *
    * Scale shape: scores collapse onto a (score → pos/neg count)
    * frequency table (bounded by the feature lattice — ≤ |x1|·|x2|·
    * |x3|·|x4| distinct scores at ANY corpus size, map-side combined);
    * one cumulative window over that bounded table (single partition —
    * the [[graft.relational.StatModels]] frequency-table discipline)
    * yields 2U = Σ_s n₊(s)·(2·cumneg(<s) + n₋(s)) in EXACT integers
    * (DECIMAL(38,0) so 100 TB counts cannot overflow the product; ties
    * contribute the ½ via the uncancelled factor of 2). The only FP is
    * the final division — nonnegative, so no −0.0 leaf.
    */
  def rocAuc(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val freq = qualityClassifier(spark, d)
      .groupBy($"score")
      .agg(
        sum(when($"y" === 1L, 1L).otherwise(0L)).as("np_s"),
        sum(when($"y" === -1L, 1L).otherwise(0L)).as("nn_s"))
    val w = Window.orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, -1)
    freq
      .withColumn("cn", coalesce(sum($"nn_s").over(w), lit(0L)))
      .agg(
        sum($"np_s").as("np"), sum($"nn_s").as("nn"),
        sum($"np_s".cast("decimal(38,0)") *
          (lit(2L) * $"cn" + $"nn_s").cast("decimal(38,0)")).as("u2"))
      .select(
        $"np", $"nn",
        (round($"u2".cast("double") /
          (lit(2.0) * $"np".cast("double") * $"nn".cast("double")), 6)
          + lit(0.0)).as("auc"))
  }

  /** Isotonic (PAV) recalibration of the reliability table — the
    * monotone positive-rate fit a deployment reads instead of the raw
    * (possibly non-monotone) per-bin rates (Zadrozny & Elkan 2002;
    * Robertson et al., "Order Restricted Statistical Inference" for the
    * minimax identity iso(i) = max_{j≤i} min_{k≥i} avg(j..k)).
    *
    * Scale shape: the input is [[qualityCalibration]]'s ≤10-row bin
    * table (the ONE data-scale aggregate), localCheckpointed once; the
    * minimax unrolls as three joins/aggregates over that bounded table
    * (≤10² segments × ≤10 positions — constant work at ANY corpus
    * size). Rates go to micro fixed point by integer division — the
    * fit's own overflow envelope (sums × 1e6, safe to ~9.2e12 docs,
    * same as the mu means at Classifier.scala:83) — so both engines
    * compute the identical monotone fit with zero FP accumulation.
    */
  def isotonicCalibration(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cal = qualityCalibration(spark, d)
      .select($"bin", $"n", $"n_label_pos").transform(graft.Ckpt.cut)
    val segs = cal.select($"bin".as("j"))
      .crossJoin(cal.select($"bin".as("k"))).filter($"j" <= $"k")
      .join(cal, $"bin".between($"j", $"k"))
      .groupBy($"j", $"k")
      .agg(sum($"n").as("sn"), sum($"n_label_pos").as("sp"))
      .select($"j", $"k", expr(s"(sp * ${Micro}L) div sn").as("a_micro"))
    val minOverK = cal.select($"bin".as("i"))
      .join(segs, $"j" <= $"i" && $"k" >= $"i")
      .groupBy($"i", $"j").agg(min($"a_micro").as("lo"))
    val iso = minOverK.groupBy($"i").agg(max($"lo").as("iso_micro"))
    cal.join(iso, $"bin" === $"i")
      .select($"bin", $"n", $"n_label_pos",
        expr(s"(n_label_pos * ${Micro}L) div n").as("rate_micro"),
        $"iso_micro")
  }

  /** Brier score + expected calibration error of the score read out as
    * a probability — the two model-card calibration scalars next to
    * [[rocAuc]]'s discrimination scalar (Brier 1950; Murphy 1973 for
    * the reliability framing; Naeini et al. 2015 for binned ECE). The
    * probability is the normalized score p = (score−mn)/(mx−mn+1) in
    * micro fixed point, i.e. the linear read-out a calibration step
    * would correct; ECE bins by the same 10-bin rule as
    * [[qualityCalibration]], so the three calibration views agree on
    * geometry.
    *
    * Scale shape: ONE scoring scan feeds ONE partial+final aggregate
    * onto ≤10 bin rows (map-side combined; the 1-row min/max bounds
    * broadcast is the established calibration shape), then a final fold
    * of that bounded table. All accumulation is exact integer
    * (DECIMAL(38,0) for the squared-error and p_micro sums — per-doc
    * terms ≤1e12 so 100 TB corpora stay within 38 digits); the only FP
    * is the two final divisions, nonnegative, 6dp-rounded.
    */
  def brierEce(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val scored = qualityClassifier(spark, d)
    val bounds = scored.agg(min($"score").as("mn"), max($"score").as("mx"))
    val perBin = scored.crossJoin(broadcast(bounds))
      .select(
        expr("(score - mn) * 10L div (mx - mn + 1L)").as("bin"),
        expr(s"cast(score - mn as decimal(38,0)) * ${Micro}L" +
          " div (mx - mn + 1L)").as("p_micro"),
        when($"y" === 1L, lit(Micro)).otherwise(lit(0L)).as("y_micro"))
      .groupBy($"bin")
      .agg(
        count(lit(1)).as("nb"),
        sum(dec($"p_micro")).as("sp"),
        sum(when($"y_micro" === Micro, 1L).otherwise(0L)).as("posb"),
        sum(dec($"p_micro" - $"y_micro") * ($"p_micro" - $"y_micro"))
          .as("sq"))
      .select($"nb", $"sq",
        expr("sp div nb").as("conf_micro"),
        expr(s"cast(posb as decimal(38,0)) * ${Micro}L div nb")
          .as("acc_micro"))
    perBin
      .agg(
        sum($"nb").as("n"), sum($"sq").as("sqsum"),
        sum(dec($"nb") * abs($"acc_micro" - $"conf_micro")).as("ecenum"))
      .select($"n",
        round($"sqsum".cast("double") /
          ($"n".cast("double") * lit(1e12)), 6).as("brier"),
        round($"ecenum".cast("double") /
          ($"n".cast("double") * lit(1e6)), 6).as("ece"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "classifier_roc_auc" -> (rocAuc _),
    "quality_classifier" -> (qualityClassifier _),
    "quality_gated_sample" -> (qualityGatedSample _),
    "classifier_pr_curve" -> (prCurve _),
    "classifier_kappa" -> (kappa _),
    "quality_calibration" -> (qualityCalibration _),
    "classifier_isotonic" -> (isotonicCalibration _),
    "classifier_brier_ece" -> (brierEce _))

  /** The classifier fit as a reusable CTE block (feature CTE → 1-row
    * class-sum CTE → micro-mean CTE), shared by the standalone oracle
    * and the gated-sample composite.
    */
  private val fitCtes: String =
    s"""f AS MATERIALIZED (
         |  SELECT doc_id, x1, x2, x3, x4,
         |    CAST(CASE WHEN 5*x2 + 50*x3 > 225 THEN 1 ELSE -1 END AS BIGINT) AS y
         |  FROM (
         |    SELECT doc_id,
         |      least(n, 400) // 20 AS x1,
         |      (stop_hits * 100) // greatest(n, 1) AS x2,
         |      least(coalesce(chars, 0) // greatest(n, 1), 20) AS x3,
         |      (alpha * 100) // greatest(n, 1) AS x4
         |    FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
         |            CAST(len(list_filter(t,
         |              x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to'))
         |              AS BIGINT) AS stop_hits,
         |            CAST(list_sum(list_transform(t, x -> length(x)))
         |              AS BIGINT) AS chars,
         |            CAST(len(list_filter(t,
         |              x -> regexp_full_match(x, '[A-Za-z]+')))
         |              AS BIGINT) AS alpha
         |          FROM (SELECT doc_id,
         |                  list_filter(string_split_regex(text, '\\s+'),
         |                              x -> x <> '') AS t
         |                FROM documents) d) q) x),
         |agg AS (
         |  SELECT
         |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
         |    sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS nn,
         |    sum(CASE WHEN y = 1 THEN x1 ELSE 0 END) AS sp1,
         |    sum(CASE WHEN y = 1 THEN x2 ELSE 0 END) AS sp2,
         |    sum(CASE WHEN y = 1 THEN x3 ELSE 0 END) AS sp3,
         |    sum(CASE WHEN y = 1 THEN x4 ELSE 0 END) AS sp4,
         |    sum(CASE WHEN y = -1 THEN x1 ELSE 0 END) AS sn1,
         |    sum(CASE WHEN y = -1 THEN x2 ELSE 0 END) AS sn2,
         |    sum(CASE WHEN y = -1 THEN x3 ELSE 0 END) AS sn3,
         |    sum(CASE WHEN y = -1 THEN x4 ELSE 0 END) AS sn4
         |  FROM f),
         |mu AS (
         |  SELECT
         |    (sp1 * $Micro) // greatest(np, 1) - (sn1 * $Micro) // greatest(nn, 1) AS d1,
         |    (sp2 * $Micro) // greatest(np, 1) - (sn2 * $Micro) // greatest(nn, 1) AS d2,
         |    (sp3 * $Micro) // greatest(np, 1) - (sn3 * $Micro) // greatest(nn, 1) AS d3,
         |    (sp4 * $Micro) // greatest(np, 1) - (sn4 * $Micro) // greatest(nn, 1) AS d4,
         |    (sp1 * $Micro) // greatest(np, 1) + (sn1 * $Micro) // greatest(nn, 1) AS m1,
         |    (sp2 * $Micro) // greatest(np, 1) + (sn2 * $Micro) // greatest(nn, 1) AS m2,
         |    (sp3 * $Micro) // greatest(np, 1) + (sn3 * $Micro) // greatest(nn, 1) AS m3,
         |    (sp4 * $Micro) // greatest(np, 1) + (sn4 * $Micro) // greatest(nn, 1) AS m4
         |  FROM agg)""".stripMargin

  private val scoreExpr: String =
    s"${2 * 1000000}*(d1*x1 + d2*x2 + d3*x3 + d4*x4)" +
      " - (d1*m1 + d2*m2 + d3*m3 + d4*m4)"

  /** The whole fit replayed in SQL: feature CTE → 1-row class-sum CTE →
    * micro-mean CTE → midpoint-hyperplane scoring. Same exact integer
    * algebra, so the hash compare pins training AND scoring. The gated
    * composite appends [[Curation]]'s mixture-rate and hash-draw CTEs
    * and joins the two verdicts.
    */
  val oracles: Map[String, String] = Map(
    "classifier_roc_auc" ->
      s"""WITH $fitCtes,
         |scored AS (
         |  SELECT y, $scoreExpr AS score FROM f, mu),
         |freq AS (
         |  SELECT score,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np_s,
         |    CAST(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn_s
         |  FROM scored GROUP BY score),
         |cum AS (
         |  SELECT np_s, nn_s,
         |    coalesce(sum(nn_s) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
         |  FROM freq)
         |SELECT CAST(sum(np_s) AS BIGINT) AS np,
         |  CAST(sum(nn_s) AS BIGINT) AS nn,
         |  round(CAST(sum(CAST(np_s AS HUGEINT) *
         |                 CAST(2 * cn + nn_s AS HUGEINT)) AS DOUBLE) /
         |        (2.0 * CAST(sum(np_s) AS DOUBLE) * CAST(sum(nn_s) AS DOUBLE)),
         |        6) + 0.0 AS auc
         |FROM cum""".stripMargin,
    "quality_classifier" ->
      s"""WITH $fitCtes
         |SELECT doc_id, y,
         |  CAST($scoreExpr AS BIGINT) AS score,
         |  CAST(CASE WHEN $scoreExpr > 0
         |            THEN 1 ELSE -1 END AS BIGINT) AS pred
         |FROM f, mu""".stripMargin,
    "quality_calibration" ->
      s"""WITH $fitCtes,
         |scored AS (
         |  SELECT doc_id, y, $scoreExpr AS score,
         |    CAST(CASE WHEN $scoreExpr > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |  FROM f, mu),
         |bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM scored)
         |SELECT CAST(((score - mn) * 10) // (mx - mn + 1) AS BIGINT) AS bin,
         |  count(*) AS n,
         |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_label_pos,
         |  CAST(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
         |  CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |FROM scored, bounds GROUP BY 1""".stripMargin,
    "classifier_pr_curve" ->
      s"""WITH $fitCtes,
         |scored AS (
         |  SELECT doc_id, y, $scoreExpr AS score FROM f, mu),
         |bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM scored),
         |thr AS (
         |  SELECT j, CAST(mn + (j * (mx - mn + 1)) // ${PrSteps + 1} AS BIGINT) AS thr
         |  FROM bounds,
         |    (SELECT CAST(unnest(generate_series(1, $PrSteps)) AS BIGINT) AS j))
         |SELECT j, thr,
         |  CAST(sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN score >= thr AND y = -1 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN score < thr AND y = 1 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS fn,
         |  round(CAST(sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END)
         |             AS DOUBLE)
         |        / CAST(greatest(sum(CASE WHEN score >= thr THEN 1 ELSE 0 END),
         |                        1) AS DOUBLE), 6) AS precision,
         |  round(CAST(sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END)
         |             AS DOUBLE)
         |        / CAST(greatest(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END),
         |                        1) AS DOUBLE), 6) AS recall,
         |  round(2.0 * CAST(sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END)
         |              AS DOUBLE)
         |        / CAST(greatest(2 * sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END)
         |                        + sum(CASE WHEN score >= thr AND y = -1 THEN 1 ELSE 0 END)
         |                        + sum(CASE WHEN score < thr AND y = 1 THEN 1 ELSE 0 END),
         |                        1) AS DOUBLE), 6) AS f1
         |FROM scored, thr GROUP BY j, thr""".stripMargin,
    "classifier_kappa" ->
      s"""WITH $fitCtes,
         |scored AS (
         |  SELECT y,
         |    CAST(CASE WHEN $scoreExpr > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |  FROM f, mu),
         |c AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN pred = -1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored)
         |SELECT n, tp, fp, fn, tn,
         |  round(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
         |  round((CAST(tp + fp AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(tp + fn AS DOUBLE) / CAST(n AS DOUBLE))
         |        + (CAST(fn + tn AS DOUBLE) / CAST(n AS DOUBLE))
         |          * (CAST(fp + tn AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS pe,
         |  round((CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE)
         |         - ((CAST(tp + fp AS DOUBLE) / CAST(n AS DOUBLE))
         |              * (CAST(tp + fn AS DOUBLE) / CAST(n AS DOUBLE))
         |            + (CAST(fn + tn AS DOUBLE) / CAST(n AS DOUBLE))
         |              * (CAST(fp + tn AS DOUBLE) / CAST(n AS DOUBLE))))
         |        / (1.0
         |           - ((CAST(tp + fp AS DOUBLE) / CAST(n AS DOUBLE))
         |                * (CAST(tp + fn AS DOUBLE) / CAST(n AS DOUBLE))
         |              + (CAST(fn + tn AS DOUBLE) / CAST(n AS DOUBLE))
         |                * (CAST(fp + tn AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
         |    + 0.0 AS kappa
         |FROM c""".stripMargin,
    "quality_gated_sample" ->
      s"""WITH $fitCtes,
         |src AS (
         |  SELECT source,
         |    CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
         |                             x -> x <> ''))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |         sum(sqrt(CAST(n_tokens AS DOUBLE))) AS z
         |  FROM src),
         |rates AS (
         |  SELECT source,
         |    round(least(1.0,
         |      (CAST(total_tokens AS DOUBLE) * ${Curation.MixBudgetNum} /
         |       ${Curation.MixBudgetDen}) *
         |      (sqrt(CAST(n_tokens AS DOUBLE)) / z) / CAST(n_tokens AS DOUBLE)), 4)
         |      AS sample_rate
         |  FROM src, tot),
         |draws AS (
         |  SELECT doc_id, source,
         |    CAST(CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |              AS BIGINT) AS DOUBLE) / 1152921504606846976e0 AS u
         |  FROM documents),
         |accepted AS (
         |  SELECT doc_id, CAST($scoreExpr AS BIGINT) AS score
         |  FROM f, mu
         |  WHERE $scoreExpr > 0)
         |SELECT d.doc_id, d.source, round(d.u, 6) AS u, a.score
         |FROM draws d
         |JOIN rates r ON d.source = r.source
         |JOIN accepted a ON a.doc_id = d.doc_id
         |WHERE d.u < r.sample_rate""".stripMargin,
    "classifier_isotonic" ->
      s"""WITH $fitCtes,
         |scored AS (
         |  SELECT doc_id, y, $scoreExpr AS score FROM f, mu),
         |bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM scored),
         |cal AS (
         |  SELECT CAST(((score - mn) * 10) // (mx - mn + 1) AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np
         |  FROM scored, bounds GROUP BY 1),
         |segs AS (
         |  SELECT a.bin AS j, b.bin AS k,
         |    CAST((sum(t.np) * $Micro) // sum(t.n) AS BIGINT) AS a_micro
         |  FROM cal a, cal b, cal t
         |  WHERE a.bin <= b.bin AND t.bin BETWEEN a.bin AND b.bin
         |  GROUP BY 1, 2),
         |mm AS (
         |  SELECT c.bin AS i, s.j, min(s.a_micro) AS lo
         |  FROM cal c JOIN segs s ON s.j <= c.bin AND s.k >= c.bin
         |  GROUP BY 1, 2),
         |iso AS (SELECT i, max(lo) AS iso_micro FROM mm GROUP BY 1)
         |SELECT c.bin, c.n, c.np AS n_label_pos,
         |  CAST((c.np * $Micro) // c.n AS BIGINT) AS rate_micro,
         |  i.iso_micro
         |FROM cal c JOIN iso i ON i.i = c.bin""".stripMargin,
    "classifier_brier_ece" ->
      s"""WITH $fitCtes,
         |scored AS (
         |  SELECT doc_id, y, $scoreExpr AS score FROM f, mu),
         |bounds AS (SELECT min(score) AS mn, max(score) AS mx FROM scored),
         |enr AS (
         |  SELECT ((score - mn) * 10) // (mx - mn + 1) AS bin,
         |    CAST((CAST(score - mn AS HUGEINT) * $Micro) // (mx - mn + 1)
         |         AS BIGINT) AS p_micro,
         |    CASE WHEN y = 1 THEN $Micro ELSE 0 END AS y_micro
         |  FROM scored, bounds),
         |perbin AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(p_micro) AS HUGEINT) AS sp,
         |    CAST(sum(CASE WHEN y_micro = $Micro THEN 1 ELSE 0 END)
         |         AS BIGINT) AS posb,
         |    sum(CAST(p_micro - y_micro AS HUGEINT) * (p_micro - y_micro))
         |      AS sq
         |  FROM enr GROUP BY 1),
         |conf AS (
         |  SELECT nb, sq,
         |    CAST(sp // nb AS BIGINT) AS conf_micro,
         |    CAST((CAST(posb AS HUGEINT) * $Micro) // nb AS BIGINT)
         |      AS acc_micro
         |  FROM perbin)
         |SELECT CAST(sum(nb) AS BIGINT) AS n,
         |  round(CAST(sum(sq) AS DOUBLE) /
         |        (CAST(sum(nb) AS DOUBLE) * 1e12), 6) AS brier,
         |  round(CAST(sum(CAST(nb AS HUGEINT) * abs(acc_micro - conf_micro))
         |             AS DOUBLE) /
         |        (CAST(sum(nb) AS DOUBLE) * 1e6), 6) AS ece
         |FROM conf""".stripMargin)
}
