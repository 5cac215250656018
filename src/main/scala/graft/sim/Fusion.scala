package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Rank fusion across similarity geometries — Reciprocal Rank Fusion
  * (Cormack/Clarke/Büttcher, SIGIR 2009): for each probe, rank every
  * candidate under THREE retrieval geometries (cosine, raw inner
  * product, Euclidean distance), then fuse by
  * Σ_r 1/([[RrfC]] + rank_r) and take the top [[TopK]]. The three
  * geometries genuinely disagree wherever vector norms vary (inner
  * product favors long vectors, cosine ignores norm, L2 penalizes norm
  * gaps), and RRF is the standard way production retrieval stacks
  * combine heterogeneous rankers without score calibration — fusing on
  * RANKS makes the combination immune to incomparable score scales.
  *
  * Reference basis: the reference has no retrieval tier at all
  * (SURVEY.md §2.3); this extends the LLM-pipeline ANN family
  * ([[Similarity]]) with the list-combination operator every hybrid
  * (lexical + dense) search deployment runs.
  *
  * Scale shape: ONE broadcast of the [[Similarity.NumQueries]]-row probe
  * set against a narrow candidate scan, then all four rank windows
  * partition on the SAME key (query_id) — one exchange total, after
  * which sorts are partition-local. Per-query candidate lists at 100 TB
  * would first be cut by an ANN shortlist ([[Similarity.annIvfPq]]);
  * the fusion stage itself is rank-arithmetic on shortlists and never
  * rescans the corpus. Cross-engine determinism: scores are rounded to
  * 4 decimals before ranking with ties on neighbor_id (the [[Similarity]]
  * convention; the fused top-K is [[Similarity.topK]]), ranks are exact
  * integers, and the fused score is a fixed-order three-term sum of
  * exact-integer reciprocals rounded at emission.
  */
object Fusion extends graft.Catalog {

  val RrfC = 60 // the canonical RRF constant from the SIGIR-09 paper
  val TopK = 10

  def rrfFusion(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Similarity.withVec(Tables.embeddings(spark, d))
    val c = e.select($"vec_id".as("neighbor_id"), $"v".as("cv"),
      $"norm".as("cnorm"))
    val scored = c.crossJoin(broadcast(Similarity.probeVecs(e)))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("ip", Similarity.nativeDot($"qv", $"cv"))
      .withColumn("s_cos", round($"ip" / ($"qnorm" * $"cnorm"), 4))
      .withColumn("s_ip", round($"ip", 4))
      // |q - c|^2 expanded over the already-computed norms and dot:
      // qq + cc - 2*ip, in this exact evaluation order on both engines
      .withColumn("s_l2",
        round($"qnorm" * $"qnorm" + $"cnorm" * $"cnorm" - lit(2.0) * $"ip", 4))
    val byCos = Window.partitionBy($"query_id")
      .orderBy($"s_cos".desc, $"neighbor_id".asc)
    val byIp = Window.partitionBy($"query_id")
      .orderBy($"s_ip".desc, $"neighbor_id".asc)
    val byL2 = Window.partitionBy($"query_id")
      .orderBy($"s_l2".asc, $"neighbor_id".asc)
    val ranked = scored
      .withColumn("rk_cos", row_number().over(byCos).cast("long"))
      .withColumn("rk_ip", row_number().over(byIp).cast("long"))
      .withColumn("rk_l2", row_number().over(byL2).cast("long"))
      .withColumn("rrf", round(
        lit(1.0) / ($"rk_cos" + lit(RrfC)) +
          lit(1.0) / ($"rk_ip" + lit(RrfC)) +
          lit(1.0) / ($"rk_l2" + lit(RrfC)), 6))
    Similarity.topK(ranked, "rrf", TopK)
      .select($"query_id", $"neighbor_id", $"rk",
        $"rk_cos", $"rk_ip", $"rk_l2", $"rrf")
  }

  private def rrfOracle: String =
    s"""WITH ${Similarity.vecCtes},
       |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm
       |      FROM n WHERE vec_id < ${Similarity.NumQueries}),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |    ${Similarity.cosineSql("qv", "qnorm", "c.v", "c.norm")} + 0.0 AS s_cos,
       |    round(list_dot_product(qv, c.v), 4) + 0.0 AS s_ip,
       |    round(qnorm * qnorm + c.norm * c.norm
       |          - 2.0 * list_dot_product(qv, c.v), 4) + 0.0 AS s_l2
       |  FROM q, n c WHERE c.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s_cos DESC, neighbor_id ASC) AS BIGINT) AS rk_cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s_ip DESC, neighbor_id ASC) AS BIGINT) AS rk_ip,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY s_l2 ASC, neighbor_id ASC) AS BIGINT) AS rk_l2
       |  FROM scored),
       |fused AS (
       |  SELECT query_id, neighbor_id, rk_cos, rk_ip, rk_l2,
       |    round(1e0 / (rk_cos + $RrfC) +
       |          1e0 / (rk_ip + $RrfC) +
       |          1e0 / (rk_l2 + $RrfC), 6) AS rrf
       |  FROM ranked)
       |${Similarity.rankedSql("fused", "rrf", TopK,
            cols = "query_id, neighbor_id, rk, rk_cos, rk_ip, rk_l2, rrf")}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_rrf_fusion" -> (rrfFusion _))

  val oracles: Map[String, String] = Map(
    "embed_rrf_fusion" -> rrfOracle)
}
