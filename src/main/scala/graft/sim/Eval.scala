package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation — recall@K of the approximate ANN tiers
  * against the exact KNN ground truth, per probe query. This is the
  * eval harness every ANN deployment runs before trusting an index:
  * recall@K = |approx top-K ∩ exact top-K| / K, reported per query and
  * per method so a recall regression localizes (one bad query → a
  * bucketing pathology; uniform drop → a parameter problem).
  *
  * Reference basis: no retrieval tier exists in the reference
  * (SURVEY.md §2.3); this closes the loop on the ANN family the build
  * adds — [[Similarity.annLsh]] / [[Similarity.annIvf]] ship WITH their
  * measuring instrument, the same discipline as the sketch tiers'
  * exact-recount companions ([[graft.text.HeavyHitters]]).
  *
  * Scale shape: ground truth and both approximate lists are
  * probe-set-sized (NumQueries × K rows) regardless of corpus scale —
  * the expensive part is the three underlying retrieval passes, each
  * individually plan-audited; the eval join itself is on broadcast
  * K-row frames. The exact leg is checkpointed once and reused by both
  * method legs. At 100 TB one would sample probes from the corpus
  * (here the fixed probe set IS the convention) and the shape is
  * unchanged. Determinism: hits are exact integer set intersections on
  * lists ranked by [[Similarity.topK]]; recall is an exact K-grid fraction.
  */
object Eval extends graft.Catalog {

  def recallEval(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // ground truth: checkpointed so both method legs read one
    // materialized 50-row frame instead of replaying the exact scan
    val ex = Similarity.knnExact(spark, d)
      .select($"query_id", $"neighbor_id")
      .transform(graft.Ckpt.cut)
    def leg(m: DataFrame, name: String): DataFrame =
      ex.join(
        broadcast(m.select($"query_id", $"neighbor_id", lit(1L).as("hit"))),
        Seq("query_id", "neighbor_id"), "left")
        .groupBy($"query_id")
        .agg(sum(coalesce($"hit", lit(0L))).as("hits"))
        .select($"query_id", lit(name).as("method"), $"hits",
          round($"hits".cast("double") / Similarity.K, 4).as("recall_at_k"))
    leg(Similarity.annLsh(spark, d), "lsh")
      .union(leg(Similarity.annIvf(spark, d), "ivf"))
  }

  /** Composite oracle: the exact/LSH/IVF oracles as subqueries (the IVF
    * one embeds the session's fitted [[Similarity.quantizer]], so this
    * must be read at dump time — hence `def`), joined per the definition
    * of recall@K.
    */
  private def recallOracle(
      exact: String, lsh: String, ivf: String): String = {
    def legSql(sub: String, name: String): String =
      s"""SELECT e.query_id AS query_id, '$name' AS method,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END)
         |       AS BIGINT) AS hits
         |FROM exact e LEFT JOIN ($sub) a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ($exact) x)
       |SELECT query_id, method, hits,
       |  round(CAST(hits AS DOUBLE) / ${Similarity.K}, 4) AS recall_at_k
       |FROM (
       |  ${legSql(s"SELECT query_id, neighbor_id FROM ($lsh) y", "lsh")}
       |  UNION ALL
       |  ${legSql(s"SELECT query_id, neighbor_id FROM ($ivf) z", "ivf")})""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_recall_eval" -> (recallEval _))

  /** The IVF leg's oracle exists only once a live session holds the
    * quantizer fit, read through [[graft.Memo.latest]] (a filtered Verify
    * run may not touch it); running [[recallEval]] itself fits it, so
    * whenever the eval query ran its oracle is present.
    */
  def oracles: Map[String, String] = {
    val sims = Similarity.oracles
    (sims.get("embed_knn"), sims.get("embed_ann_lsh"), sims.get("embed_ann_ivf")) match {
      case (Some(exact), Some(lsh), Some(ivf)) =>
        Map("embed_recall_eval" -> recallOracle(exact, lsh, ivf))
      case _ => Map.empty
    }
  }
}
