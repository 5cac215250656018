package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** HITS hubs-and-authorities (Kleinberg, JACM'99) on the nation-level
  * trade graph — the directional complement of
  * [[Graph.pagerankNations]]: a nation is a strong HUB when it ships
  * revenue to strong authorities (supplier side), a strong AUTHORITY
  * when strong hubs ship to it (customer side). Same contraction
  * discipline as pagerank: the corpus-scale scan collapses once onto
  * the ≤ 625-row nation-pair revenue matrix; the mutual-reinforcement
  * iteration runs on the driver (microseconds on a ≤ 625-row
  * contraction — the [[Graph]] size-gate reasoning; for a graph that
  * does not contract, the in-plan broadcast-join loop is the swap).
  *
  * Determinism: edge weights are exact grid integers; every iteration
  * L1-normalizes and rounds scores to the 1e-12 grid on BOTH engines,
  * so the ≤ 25-term association-order difference between the Scala
  * fold and DuckDB's sum cannot accumulate across iterations; final
  * 6dp round. The DuckDB twin unrolls the [[HitsIters]] iterations as
  * materialized CTEs (the [[Graph.pagerankNations]] precedent).
  */
object Hits extends graft.Catalog {

  val HitsIters = 5

  def hitsNations(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sn = Tables.nation(spark, d)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("src"))
    val cn = Tables.nation(spark, d)
      .select($"n_nationkey".as("c_nk"), $"n_name".as("dst"))
    val edges = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(sn), $"s_nationkey" === $"s_nk")
      .join(broadcast(cn), $"c_nationkey" === $"c_nk")
      .filter($"src" =!= $"dst")
      .groupBy($"src", $"dst")
      .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 100, 0)
        .cast("long")).as("w"))
      .coalesce(1)
      .transform(graft.Ckpt.cut) // ≤ 625 rows at ANY input scale
    // sorted (src, dst): collect() order follows partition/grouping
    // order, which is not stable across runs — a fixed edge order
    // fixes the Scala-side accumulation sequence so the 1e-12 grid
    // round always sees the same IEEE sums
    val eArr = edges.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2).toDouble))
      .sortBy(e => (e._1, e._2))
    val nodes = eArr.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    var hub = nodes.map(_ -> 1.0 / nodes.length).toMap
    var auth = nodes.map(_ -> 0.0).toMap
    for (_ <- 1 to HitsIters) {
      val aRaw = scala.collection.mutable.Map.empty[String, Double]
      eArr.foreach { case (s, t, w) =>
        aRaw(t) = aRaw.getOrElse(t, 0.0) + hub(s) * w
      }
      val aSum = nodes.iterator.map(v => aRaw.getOrElse(v, 0.0)).sum
      auth = nodes.map(v => v -> r12(aRaw.getOrElse(v, 0.0) / aSum)).toMap
      val hRaw = scala.collection.mutable.Map.empty[String, Double]
      eArr.foreach { case (s, t, w) =>
        hRaw(s) = hRaw.getOrElse(s, 0.0) + auth(t) * w
      }
      val hSum = nodes.iterator.map(v => hRaw.getOrElse(v, 0.0)).sum
      hub = nodes.map(v => v -> r12(hRaw.getOrElse(v, 0.0) / hSum)).toMap
    }
    nodes.toSeq.map(v => (v,
      BigDecimal(hub(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0,
      BigDecimal(auth(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0))
      .toDF("node", "hub", "authority")
  }

  private def hitsOracle: String = {
    val iterCtes = (1 to HitsIters).map { k =>
      s"""a$k AS MATERIALIZED (
         |  SELECT nodes.node,
         |    round(coalesce(c.raw, 0.0) /
         |      (SELECT sum(coalesce(c2.raw, 0.0)) FROM nodes n2 LEFT JOIN (
         |         SELECT t.dst AS dst, sum(h.score * t.w) AS raw
         |         FROM trans t JOIN h${k - 1} h ON h.node = t.src
         |         GROUP BY t.dst) c2 ON c2.dst = n2.node), 12) AS score
         |  FROM nodes LEFT JOIN (
         |    SELECT t.dst AS dst, sum(h.score * t.w) AS raw
         |    FROM trans t JOIN h${k - 1} h ON h.node = t.src
         |    GROUP BY t.dst) c ON c.dst = nodes.node),
         |h$k AS MATERIALIZED (
         |  SELECT nodes.node,
         |    round(coalesce(c.raw, 0.0) /
         |      (SELECT sum(coalesce(c2.raw, 0.0)) FROM nodes n2 LEFT JOIN (
         |         SELECT t.src AS src, sum(a.score * t.w) AS raw
         |         FROM trans t JOIN a$k a ON a.node = t.dst
         |         GROUP BY t.src) c2 ON c2.src = n2.node), 12) AS score
         |  FROM nodes LEFT JOIN (
         |    SELECT t.src AS src, sum(a.score * t.w) AS raw
         |    FROM trans t JOIN a$k a ON a.node = t.dst
         |    GROUP BY t.src) c ON c.src = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT n1.n_name AS src, n2.n_name AS dst,
       |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS cw
       |  FROM lineitem, orders, customer, supplier, nation n1, nation n2
       |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
       |    AND l_suppkey = s_suppkey
       |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       |    AND n1.n_name <> n2.n_name
       |  GROUP BY n1.n_name, n2.n_name),
       |trans AS MATERIALIZED (
       |  SELECT src, dst, CAST(cw AS DOUBLE) AS w FROM edges),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |h0 AS (SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS score
       |       FROM nodes),
       |$iterCtes
       |SELECT nodes.node AS node,
       |  round(h$HitsIters.score, 6) + 0.0 AS hub,
       |  round(a$HitsIters.score, 6) + 0.0 AS authority
       |FROM nodes
       |JOIN h$HitsIters ON h$HitsIters.node = nodes.node
       |JOIN a$HitsIters ON a$HitsIters.node = nodes.node""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_hits_nations" -> (hitsNations _))

  val oracles: Map[String, String] = Map(
    "graph_hits_nations" -> hitsOracle)
}
