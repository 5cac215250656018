package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Statistical data-QA audits — the distribution-level checks a
  * pipeline runs above row-level validation ([[RelQueries]]
  * `data_quality_audit`): Benford first-digit conformance for numeric
  * fraud/corruption screening, and a chi-square-style contingency
  * audit for categorical drift between dimensions.
  *
  * Both are one partial+final aggregate over a narrow scan; expected
  * distributions enter as COMPILE-TIME integer literals (per-mille),
  * so no transcendental function ever runs in either engine — the
  * catalog's exact-integer discipline (a log10 at query time would tie
  * correctness to two engines' libm rounding).
  *
  * Reference basis: none; SURVEY §2.3 aggregation/QA surface.
  */
object StatAudit extends graft.Catalog {

  /** Benford per-mille expectation for first digit d: round(log10(1 +
    * 1/d) · 1000) — precomputed once here, embedded in both engines.
    */
  private val BenfordPermille: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1000.0))

  /** First-digit distribution of order totals vs Benford's law.
    * o_totalprice is a sum of uniform-ish parts — it deviates, and the
    * audit's point is to MEASURE the deviation exactly: per digit,
    * observed count, observed per-mille, expected per-mille, absolute
    * gap. One aggregate; the 9-row result is the whole driver payload.
    */
  def benfordAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val expected = BenfordPermille.map { case (dig, pm) =>
      (lit(dig.toLong), lit(pm))
    }
    val expectedCol = expected.tail.foldLeft(
      when($"digit" === expected.head._1, expected.head._2)) {
      case (acc, (dig, pm)) => acc.when($"digit" === dig, pm)
    }
    Tables.orders(spark, d)
      // first digit via string head of the integer cents — exact, no
      // float log; cents >= 100 always (totalprice >= $1)
      .select(expr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum($"n").over())
      .select(
        $"digit", $"n",
        expr("(n * 1000) div total").as("obs_permille"),
        expectedCol.as("exp_permille"))
      .withColumn("gap_permille",
        abs($"obs_permille" - $"exp_permille"))
  }

  /** Contingency audit over (source, lang) in documents: observed cell
    * counts vs independence expectation row·col/N in exact e3 fixed
    * point, with the per-cell absolute deviation — the drift table a
    * monitoring job thresholds on. Both margins are bounded dims
    * (≤ sources × langs cells at any corpus size), so everything after
    * the first aggregate is driver-scale.
    */
  def chisqSourceLang(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.documents(spark, d)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
    val W = org.apache.spark.sql.expressions.Window
    cells
      .withColumn("row_n", sum($"n").over(W.partitionBy($"source")))
      .withColumn("col_n", sum($"n").over(W.partitionBy($"lang")))
      .withColumn("total", sum($"n").over())
      .select(
        $"source", $"lang", $"n",
        expr("(row_n * col_n * 1000) div total").as("exp_e3"),
        abs(expr("n * 1000 - (row_n * col_n * 1000) div total"))
          .as("dev_e3"))
  }

  /** Mutual information + normalized MI over the (source, lang)
    * contingency — the information-theoretic upgrade of
    * [[chisqSourceLang]]: chi-square flags dependence, MI QUANTIFIES it
    * in nats, and NMI = I/sqrt(H_s·H_l) normalizes to [0,1] so drift
    * alarms can use one threshold across dimension pairs (Cover &
    * Thomas ch. 2; the standard clustering-agreement score).
    *
    * Shape: ONE corpus-scale aggregate onto the bounded contingency
    * grid (≤ sources × langs cells at any corpus size, map-side
    * combined); margins and entropies are re-aggregates of that tiny
    * frame (checkpointed once — three consumers must not rescan the
    * corpus). All counts are exact BIGINTs; FP appears only in the
    * per-cell terms of the three bounded sums, 6dp-rounded per the
    * [[StatModels.sourceKl]] association-order precedent.
    */
  def miSourceLang(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.documents(spark, d)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
      .coalesce(1)
      .transform(graft.Ckpt.cut) // bounded grid; four consumers, one corpus scan
    val rowm = cells.groupBy($"source").agg(sum($"n").as("row_n"))
    val colm = cells.groupBy($"lang").agg(sum($"n").as("col_n"))
    val tot = cells.agg(sum($"n").as("total"))
    val joined = cells
      .join(broadcast(rowm), "source")
      .join(broadcast(colm), "lang")
      .crossJoin(broadcast(tot))
    val nD = $"n".cast("double")
    val totD = $"total".cast("double")
    val iTerm = (nD / totD) *
      log((nD * totD) / ($"row_n".cast("double") * $"col_n".cast("double")))
    val hsTerm = -($"row_n".cast("double") / totD) *
      log($"row_n".cast("double") / totD)
    val hlTerm = -($"col_n".cast("double") / totD) *
      log($"col_n".cast("double") / totD)
    val hs = rowm.crossJoin(broadcast(tot))
      .agg(sum(hsTerm).as("h_source"))
    val hl = colm.crossJoin(broadcast(tot))
      .agg(sum(hlTerm).as("h_lang"))
    joined
      .agg(sum($"n").as("n_docs"), count(lit(1)).as("n_cells"),
        sum(iTerm).as("mi_raw"))
      .crossJoin(broadcast(hs)).crossJoin(broadcast(hl))
      .select(
        $"n_docs", $"n_cells",
        (round($"mi_raw", 6) + lit(0.0)).as("mi_nats"),
        (round($"h_source", 6) + lit(0.0)).as("h_source"),
        (round($"h_lang", 6) + lit(0.0)).as("h_lang"),
        // degenerate margin (a constant dimension) has zero entropy and
        // can carry no information: NMI := 0 by convention, and the
        // guard keeps the division total under ANSI mode
        when($"h_source" * $"h_lang" > 0.0,
          round($"mi_raw" / sqrt($"h_source" * $"h_lang"), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("nmi"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "benford_audit" -> (benfordAudit _),
    "chisq_source_lang" -> (chisqSourceLang _),
    "mi_source_lang" -> (miSourceLang _))

  private val benfordCaseSql = BenfordPermille.map {
    case (dig, pm) => s"WHEN digit = $dig THEN $pm"
  }.mkString("CASE ", " ", " END")

  val oracles: Map[String, String] = Map(
    "benford_audit" ->
      s"""WITH digits AS (
         |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM orders),
         |counts AS (
         |  SELECT digit, count(*) AS n FROM digits GROUP BY digit),
         |t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM counts)
         |SELECT digit, n,
         |  CAST((n * 1000) // total AS BIGINT) AS obs_permille,
         |  CAST($benfordCaseSql AS BIGINT) AS exp_permille,
         |  CAST(abs((n * 1000) // total - ($benfordCaseSql)) AS BIGINT)
         |    AS gap_permille
         |FROM t""".stripMargin,
    "chisq_source_lang" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS n
        |  FROM documents GROUP BY source, lang),
        |m AS (
        |  SELECT source, lang, n,
        |    CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS row_n,
        |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS col_n,
        |    CAST(sum(n) OVER () AS BIGINT) AS total
        |  FROM cells)
        |SELECT source, lang, n,
        |  CAST((row_n * col_n * 1000) // total AS BIGINT) AS exp_e3,
        |  CAST(abs(n * 1000 - (row_n * col_n * 1000) // total) AS BIGINT)
        |    AS dev_e3
        |FROM m""".stripMargin,
    "mi_source_lang" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source, lang),
        |rowm AS (SELECT source, CAST(sum(n) AS BIGINT) AS row_n
        |         FROM cells GROUP BY source),
        |colm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS col_n
        |         FROM cells GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
        |mi AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_cells,
        |    sum((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) *
        |        ln((CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) /
        |           (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)))) AS mi_raw
        |  FROM cells
        |  JOIN rowm USING (source)
        |  JOIN colm USING (lang)
        |  CROSS JOIN tot),
        |hs AS (
        |  SELECT sum(-(CAST(row_n AS DOUBLE) / CAST(total AS DOUBLE)) *
        |             ln(CAST(row_n AS DOUBLE) / CAST(total AS DOUBLE)))
        |           AS h_source
        |  FROM rowm CROSS JOIN tot),
        |hl AS (
        |  SELECT sum(-(CAST(col_n AS DOUBLE) / CAST(total AS DOUBLE)) *
        |             ln(CAST(col_n AS DOUBLE) / CAST(total AS DOUBLE)))
        |           AS h_lang
        |  FROM colm CROSS JOIN tot)
        |SELECT n_docs, n_cells,
        |  round(mi_raw, 6) + 0.0 AS mi_nats,
        |  round(h_source, 6) + 0.0 AS h_source,
        |  round(h_lang, 6) + 0.0 AS h_lang,
        |  CASE WHEN h_source * h_lang > 0.0
        |       THEN round(mi_raw / sqrt(h_source * h_lang), 6) + 0.0
        |       ELSE 0.0 END AS nmi
        |FROM mi CROSS JOIN hs CROSS JOIN hl""".stripMargin)
}
