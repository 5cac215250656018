package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** MinHash LSH parameter planning (Leskovec–Rajaraman–Ullman ch.3
  * S-curve analysis), grounded in THIS corpus's true near-duplicate
  * similarity profile: for every (bands b, rows r) factorization of
  * the catalog's [[Dedup.NumHashes]] signature, the expected recall
  * over the actual ≥ 0.5-Jaccard pair set — Σ 1−(1−s^r)^b over the
  * true pairs — plus the s50 threshold (1/b)^(1/r) and the
  * false-positive proxy p(s=0.2). The "which banding should this
  * corpus run" planning readout behind [[Dedup]]'s fixed 16×4 choice,
  * computed instead of guessed.
  *
  * Determinism: the pair profile is the catalog's exact blocked
  * token-Jaccard (ratios of small exact ints — identical doubles both
  * engines); each pair's detection probability is 6dp-grid-rounded to
  * micro-units BEFORE the per-plan sum, so the corpus-scale Σ is
  * exact BIGINT arithmetic; plan-level constants are closed-form
  * doubles in identical op order.
  *
  * Scale shape: the corpus-scale work is exactly [[Dedup
  * .jaccardPairsOf]]'s bucket-capped blocked pair derivation (never
  * all-pairs); the ×7 plan expansion rides on the PAIR table (already
  * contracted), and the output is 7 rows at any corpus size.
  */
object LshPlan extends graft.Catalog {

  /** All (bands, rows) factorizations of the 64-hash signature. */
  val Plans: Seq[(Int, Int)] =
    Seq(1, 2, 4, 8, 16, 32, 64).map(b => (b, Dedup.NumHashes / b))

  def lshBandPlan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val pairs = Dedup.jaccardPairs(spark, d)
      .filter($"jacc" >= 0.5)
      .select($"jacc")
    val plans = Plans.toDF("b", "r")
      .select($"b".cast("long").as("b"), $"r".cast("long").as("r"))
    pairs.crossJoin(broadcast(plans))
      .withColumn("p_micro",
        round(round(lit(1.0) -
          pow(lit(1.0) - pow($"jacc", $"r".cast("double")),
            $"b".cast("double")), 6) * 1e6, 0).cast("long"))
      .groupBy($"b", $"r")
      .agg(count(lit(1)).as("n_pairs"), sum($"p_micro").as("psum"))
      .select($"b", $"r", $"n_pairs",
        (round($"psum".cast("double") / ($"n_pairs".cast("double") * 1e6), 6)
          + lit(0.0)).as("expected_recall"),
        (round(pow(lit(1.0) / $"b".cast("double"),
          lit(1.0) / $"r".cast("double")), 6) + lit(0.0)).as("s50"),
        (round(lit(1.0) - pow(lit(1.0) - pow(lit(0.2), $"r".cast("double")),
          $"b".cast("double")), 6) + lit(0.0)).as("p_fp02"))
  }

  private def planOracle: String = {
    val planRows = Plans.map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s"""WITH ${Dedup.jaccardPairCtes},
       |pairs AS MATERIALIZED (SELECT jacc FROM jp WHERE jacc >= 0.5),
       |plans AS (SELECT CAST(p.b AS BIGINT) AS b, CAST(p.r AS BIGINT) AS r
       |          FROM (VALUES $planRows) p(b, r)),
       |scored AS (
       |  SELECT b, r,
       |    CAST(round(round(1.0 - pow(1.0 - pow(jacc, CAST(r AS DOUBLE)),
       |      CAST(b AS DOUBLE)), 6) * 1e6, 0) AS BIGINT) AS p_micro
       |  FROM pairs CROSS JOIN plans)
       |SELECT b, r, CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(CAST(CAST(sum(p_micro) AS BIGINT) AS DOUBLE)
       |        / (CAST(count(*) AS DOUBLE) * 1e6), 6) + 0.0 AS expected_recall,
       |  round(pow(1.0 / CAST(b AS DOUBLE), 1.0 / CAST(r AS DOUBLE)), 6) + 0.0 AS s50,
       |  round(1.0 - pow(1.0 - pow(0.2, CAST(r AS DOUBLE)), CAST(b AS DOUBLE)), 6) + 0.0 AS p_fp02
       |FROM scored GROUP BY b, r ORDER BY b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lsh_band_plan" -> (lshBandPlan _))

  val oracles: Map[String, String] = Map(
    "lsh_band_plan" -> planOracle)
}
