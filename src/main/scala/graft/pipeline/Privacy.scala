package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Privacy auditing over the customer dimension: k-anonymity and
  * l-diversity (Sweeney '02; Machanavajjhala '07) — the release gate a
  * training-data pipeline runs before shipping any table that joins
  * user-level attributes, one tier above the per-document PII scrub
  * ([[graft.text.TextAnalysis]] `text_pii_redact`).
  *
  * Quasi-identifier (QI) tuple: (nation, market segment, $1000 account
  * balance band) — the kind of low-cardinality demographic triple that
  * re-identifies when a group is small. Sensitive attribute: the exact
  * balance in cents. A QI group is releasable iff at least K rows share
  * it (k-anonymity) AND those rows carry at least L distinct sensitive
  * values (l-diversity — a size-K group whose members all share one
  * balance still leaks it).
  *
  * Scale shape: both passes are one partial+final hash aggregate on the
  * QI tuple. QI cardinality is structurally bounded (25 nations × 5
  * segments × ~12 bands ≈ 1500 groups at ANY corpus size), so the group
  * table broadcasts back to the row stream in the suppression pass — no
  * second shuffle of the fact table, which is the property that holds at
  * 100 TB. All arithmetic is exact integers (cents via the catalog's
  * round-to-BIGINT discipline), so both engines band and count
  * identically.
  *
  * Reference basis: the reference has no privacy tier (its records are
  * opaque string KVs, mr/worker.go:128-148); this is SURVEY §2.3
  * pipeline surface.
  */
object Privacy extends graft.Catalog {

  private val K = 5L
  private val L = 2L

  /** (c_custkey, nation, segment, band, cents) — QI + sensitive cols. */
  private def qiRows(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, d).select(
      $"c_custkey",
      $"c_nationkey",
      $"c_mktsegment",
      // exact cents, then $1000 bands; Spark `div` and DuckDB `//`
      // both truncate toward zero for BIGINT (verified: -7//2 = -3 in
      // both), so negative balances band identically in both engines
      expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("cents"))
      .withColumn("bal_band", expr("cents div 100000"))
  }

  /** The audit: every QI group that fails k-anonymity or l-diversity,
    * with its k, l and violation flags. Empty output = releasable table.
    */
  def kanonymityAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    qiRows(spark, d)
      .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
      .agg(
        count(lit(1)).as("k_count"),
        countDistinct($"cents").as("l_distinct"))
      .withColumn("k_violation", when($"k_count" < K, 1L).otherwise(0L))
      .withColumn("l_violation", when($"l_distinct" < L, 1L).otherwise(0L))
      .filter($"k_violation" === 1L || $"l_violation" === 1L)
  }

  /** The fix: per-row generalization. Rows in violating groups get their
    * finest QI column (the balance band) suppressed to NULL — the
    * cheapest rung of the generalization ladder; a production run would
    * iterate up the ladder (wider bands → segment → nation) until the
    * audit comes back empty. The group verdict table is bounded by QI
    * cardinality, so it joins back by broadcast — the fact table
    * shuffles zero times.
    */
  def kanonymitySuppress(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val verdicts = qiRows(spark, d)
      .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
      .agg(count(lit(1)).as("k_count"), countDistinct($"cents").as("l_distinct"))
      .select($"c_nationkey", $"c_mktsegment", $"bal_band",
        ($"k_count" >= K && $"l_distinct" >= L).as("ok"))
    qiRows(spark, d)
      .join(broadcast(verdicts), Seq("c_nationkey", "c_mktsegment", "bal_band"))
      .select(
        $"c_custkey", $"c_nationkey", $"c_mktsegment",
        when($"ok", $"bal_band").otherwise(lit(null)).cast("long")
          .as("bal_band_out"),
        when($"ok", 0L).otherwise(1L).as("suppressed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kanonymity_audit" -> (kanonymityAudit _),
    "kanonymity_suppress" -> (kanonymitySuppress _))

  private val qiRowsSql =
    """SELECT c_custkey, c_nationkey, c_mktsegment,
      |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
      |  CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100000 AS bal_band
      |FROM customer""".stripMargin

  val oracles: Map[String, String] = Map(
    "kanonymity_audit" ->
      s"""WITH qi AS ($qiRowsSql)
         |SELECT c_nationkey, c_mktsegment, bal_band,
         |  count(*) AS k_count,
         |  count(DISTINCT cents) AS l_distinct,
         |  CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT) AS k_violation,
         |  CAST(CASE WHEN count(DISTINCT cents) < 2 THEN 1 ELSE 0 END AS BIGINT) AS l_violation
         |FROM qi GROUP BY 1, 2, 3
         |HAVING count(*) < 5 OR count(DISTINCT cents) < 2""".stripMargin,
    "kanonymity_suppress" ->
      s"""WITH qi AS ($qiRowsSql),
         |v AS (
         |  SELECT c_nationkey, c_mktsegment, bal_band,
         |    (count(*) >= 5 AND count(DISTINCT cents) >= 2) AS ok
         |  FROM qi GROUP BY 1, 2, 3)
         |SELECT qi.c_custkey, qi.c_nationkey, qi.c_mktsegment,
         |  CASE WHEN v.ok THEN qi.bal_band ELSE NULL END AS bal_band_out,
         |  CAST(CASE WHEN v.ok THEN 0 ELSE 1 END AS BIGINT) AS suppressed
         |FROM qi
         |JOIN v USING (c_nationkey, c_mktsegment, bal_band)""".stripMargin)
}
