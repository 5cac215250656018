package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental aggregate maintenance — the materialized-view refresh a
  * warehouse runs instead of recomputing a 100 TB group-by on every
  * batch: keep the MV as PARTIAL aggregate state (count + sum per key —
  * both self-mergeable monoids), aggregate ONLY the delta batch, and
  * upsert via a full-outer merge of two aggregate tables. Refresh cost
  * is |MV| + |delta|, independent of base-fact volume; with the MV
  * bucketed by its group key the merge join is co-partitioned and
  * shuffle-free. (avg/stddev maintain the same way from (n, Σ, Σx²);
  * MIN/MAX only support insert-only deltas — both documented limits of
  * every incremental-view engine.)
  *
  * The fixture splits orders at [[Cutoff]]: base (< cutoff) plays the
  * long-lived MV, the rest plays the incoming delta. The DuckDB oracle
  * is the FULL recompute over all orders — so the hash match IS the
  * incremental-maintenance correctness proof: merge(agg(base),
  * agg(delta)) must equal agg(base ∪ delta) byte for byte.
  *
  * Reference basis: none (the reference recomputes whole jobs);
  * SURVEY §2.3 aggregation surface, the refresh path next to
  * [[Reconcile]]'s validation path.
  */
object MaterializedView extends graft.Catalog {

  private val Cutoff = "1997-01-01"

  /** The refreshed MV per customer: order count + exact total cents. */
  def mvDeltaMerge(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def agg(df: DataFrame): DataFrame = df
      .groupBy($"o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("total_cents"))
    val orders = Tables.orders(spark, d)
      .withColumn("day", to_date($"o_orderdate"))
    // the stored MV (base partition, aggregated once in its lifetime)
    val mv = agg(orders.filter($"day" < lit(Cutoff)))
    // the incoming batch — the only fact data this refresh scans
    val deltaAgg = agg(orders.filter($"day" >= lit(Cutoff)))
    mv.select($"o_custkey", $"n_orders".as("bn"), $"total_cents".as("bc"))
      .join(deltaAgg.select($"o_custkey", $"n_orders".as("dn"),
        $"total_cents".as("dc")), Seq("o_custkey"), "full_outer")
      .select(
        $"o_custkey",
        (coalesce($"bn", lit(0L)) + coalesce($"dn", lit(0L))).as("n_orders"),
        (coalesce($"bc", lit(0L)) + coalesce($"dc", lit(0L))).as("total_cents"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_delta_merge" -> (mvDeltaMerge _))

  /** Full recompute: the merge above must hash-match this exactly. */
  val oracles: Map[String, String] = Map(
    "mv_delta_merge" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1""".stripMargin)
}
