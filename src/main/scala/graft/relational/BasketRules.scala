package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.functions.PairStructs
import graft.Tables

/** Association rules (Agrawal & Srikant, VLDB'94 level-2) over the
  * order/part baskets — the support/confidence/lift/leverage readout
  * layered on [[Analytics.basketPairs]]' raw co-occurrence counts:
  * "customers who buy A also buy B" with the strength metrics a
  * recommender actually thresholds on.
  *
  * Shares [[Analytics.MaxBasket]]'s cap (the degenerate-basket
  * explode guard) and [[Analytics.BasketTopK]]'s ranking, so the rule
  * table covers exactly the pairs `basket_pairs` reports. All counts
  * are exact BIGINTs; the four ratios are doubles from exact integers
  * in identical operation order, 6dp-rounded.
  *
  * Scale shape: the corpus-scale work is the SAME capped-basket
  * build + pair explode as basket_pairs (bounded at MaxBasket²/2 pairs
  * per order) plus ONE per-item count aggregate; the rule algebra
  * joins the 20-row top-pair table (broadcast) against the item
  * counts — 20 output rows at any corpus size.
  */
object BasketRules extends graft.Catalog {

  private def dbl(e: Column): Column = e.cast("double")

  def basketRules(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // three consumers (N, item counts, pair counts) share one
    // checkpointed basket frame whose replicated blocks must stay
    // bounded at the 100x corpus (Ckpt.sharded's scaladoc has the
    // measured OOM this prevents). r13: the block bound now comes from
    // an explicit-count KEYED repartition UNDER the aggregate instead
    // of Ckpt.sharded's round-robin pass ABOVE it — the aggregate's
    // required clustering is already satisfied, so the plan carries ONE
    // exchange where sharded paid two (agg exchange + re-shard), and
    // AQE never coalesces a user-specified count, so the checkpointed
    // frame keeps shuffle.partitions-many task-sized blocks at any
    // corpus size (same bound, one fewer data-scale shuffle).
    val shards = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val baskets = graft.Ckpt.cut(Tables.lineitem(spark, d)
      .repartition(shards, $"l_orderkey")
      .groupBy($"l_orderkey")
      .agg(slice(array_sort(collect_set($"l_partkey")), 1, Analytics.MaxBasket)
        .as("basket")))
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val itemCounts = baskets
      .select(explode($"basket").as("pk"))
      .groupBy($"pk").agg(count(lit(1)).as("n_item"))
    // native PairStructs replaces the nested interpreted lambdas — the
    // same change (and reasoning) as [[Analytics.basketPairCounts]] r14
    val topPairs = baskets
      .select(explode(Native(es => PairStructs(es.head), $"basket")).as("p"))
      .groupBy($"p.part_a".as("part_a"), $"p.part_b".as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .orderBy($"n_ab".desc, $"part_a".asc, $"part_b".asc)
      .limit(Analytics.BasketTopK)
    val ca = itemCounts.select($"pk".as("part_a"), $"n_item".as("n_a"))
    val cb = itemCounts.select($"pk".as("part_b"), $"n_item".as("n_b"))
    topPairs
      .join(ca, "part_a") // 20-row build side broadcasts under AQE
      .join(cb, "part_b")
      .crossJoin(broadcast(nBaskets))
      .select(
        $"part_a", $"part_b", $"n_ab", $"n_a", $"n_b", $"n_baskets",
        (round(dbl($"n_ab") / dbl($"n_baskets"), 6) + lit(0.0)).as("support"),
        (round(dbl($"n_ab") / dbl($"n_a"), 6) + lit(0.0)).as("conf_ab"),
        (round(dbl($"n_ab") / dbl($"n_b"), 6) + lit(0.0)).as("conf_ba"),
        (round(dbl($"n_baskets") * dbl($"n_ab") / (dbl($"n_a") * dbl($"n_b")), 6)
          + lit(0.0)).as("lift"),
        (round(dbl($"n_ab") / dbl($"n_baskets") -
          (dbl($"n_a") / dbl($"n_baskets")) * (dbl($"n_b") / dbl($"n_baskets")), 6)
          + lit(0.0)).as("leverage"))
  }

  private def rulesOracle: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |capped AS MATERIALIZED (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk,
       |           row_number() OVER (PARTITION BY ok ORDER BY pk) AS rn
       |    FROM items)
       |  WHERE rn <= ${Analytics.MaxBasket}),
       |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM capped),
       |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
       |       FROM capped GROUP BY pk),
       |top_pairs AS (
       |  SELECT a.pk AS part_a, b.pk AS part_b,
       |         CAST(count(*) AS BIGINT) AS n_ab
       |  FROM capped a JOIN capped b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2
       |  ORDER BY n_ab DESC, part_a, part_b
       |  LIMIT ${Analytics.BasketTopK})
       |SELECT part_a, part_b, n_ab,
       |  ca.n_item AS n_a, cb.n_item AS n_b, n_baskets,
       |  round(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6) + 0.0 AS support,
       |  round(CAST(n_ab AS DOUBLE) / CAST(ca.n_item AS DOUBLE), 6) + 0.0 AS conf_ab,
       |  round(CAST(n_ab AS DOUBLE) / CAST(cb.n_item AS DOUBLE), 6) + 0.0 AS conf_ba,
       |  round(CAST(n_baskets AS DOUBLE) * CAST(n_ab AS DOUBLE)
       |        / (CAST(ca.n_item AS DOUBLE) * CAST(cb.n_item AS DOUBLE)), 6) + 0.0 AS lift,
       |  round(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE)
       |        - (CAST(ca.n_item AS DOUBLE) / CAST(n_baskets AS DOUBLE))
       |          * (CAST(cb.n_item AS DOUBLE) / CAST(n_baskets AS DOUBLE)), 6) + 0.0 AS leverage
       |FROM top_pairs
       |JOIN ic ca ON ca.pk = part_a
       |JOIN ic cb ON cb.pk = part_b
       |CROSS JOIN nb
       |ORDER BY n_ab DESC, part_a, part_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "basket_rules" -> (basketRules _))

  val oracles: Map[String, String] = Map(
    "basket_rules" -> rulesOracle)
}
