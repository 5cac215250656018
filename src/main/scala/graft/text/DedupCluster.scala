package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Connected-components clustering over near-duplicate pairs — the
  * missing end of the dedup story: pair emission ([[Dedup]]) tells you
  * WHICH documents collide; clustering turns the pair graph into
  * dedup groups and picks one canonical survivor per group, which is
  * what a training-data pipeline actually ships.
  *
  * Algorithm: iterative hash-min label propagation. Every vertex starts
  * labeled with its own id; each round every vertex takes the min label
  * in its closed neighborhood; fixpoint = every vertex holds the min id
  * of its component (the cluster id). Rounds needed = graph diameter.
  *
  * Scale design: near-dup components are intrinsically tiny (a handful
  * of copies of one document) because [[Dedup]]'s pair generators cap
  * bucket sizes, so the diameter — and the iteration count — is single
  * digits. Each round is ONE shuffle of (id, label) pairs keyed by
  * vertex id. Lineage is cut every round with localCheckpoint so the
  * plan does not grow with iterations (at cluster scale, swap for
  * reliable `checkpoint` on HDFS).
  *
  * LARGE-COMPONENT ESCAPE (adjudicated round 7): the loop does not need
  * a separate large-star/small-star variant (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") because its pointer-jumping step
  * already delivers the same O(log diameter) round bound for ANY input,
  * not just cap-bounded dedup graphs: the label horizon at least
  * doubles per round (propagate +1, then jump composes two horizons),
  * so [[MaxRounds]] = 20 covers diameters beyond 2^18 — far past
  * anything a pair generator can emit. AnalyticsSpec proves this on an
  * adversarial 4096-hop path (the exact shape bucket caps supposedly
  * preclude): convergence in ≤ log2(d)+3 rounds, exact labels,
  * [[lastRounds]] asserted. Large-star/small-star remains the swap if
  * per-round SKEW (one vertex with millions of neighbors in the label
  * join) ever dominates — a different failure mode than diameter, and
  * one the bucket caps DO structurally bound (no vertex appears in more
  * than MaxBucket-sized buckets per band).
  *
  * Reference had no graph/closure operator of any kind (SURVEY.md §2.3;
  * its only keyed binary op is the gossip health merge,
  * mr/gossip.go:81-104).
  */
object DedupCluster extends graft.Catalog {

  /** Near-dup edge threshold on exact token-set Jaccard. */
  val JaccThreshold = 0.6

  /** Safety bound on propagation rounds; the fixpoint check exits
    * earlier. Hitting the bound throws rather than silently emitting a
    * non-converged clustering.
    */
  val MaxRounds = 20

  /** Edge-count gate for the driver-side union-find fast path. The
    * near-dup EDGE list is orders of magnitude smaller than the corpus
    * (bucket-capped pair generation), so up to a few million edges the
    * whole component problem fits on the driver — union-find there is
    * milliseconds, vs seconds of per-round scheduling for the
    * distributed loop (measured 5.9 s -> 0.2 s on 30k edges at sf0.1).
    * Above the gate, [[clustersOfEdges]] runs the distributed
    * propagation loop. 5M edges ~ 80 MB of longs — comfortably under
    * any driver heap; the same gate discipline as Spark's own
    * broadcast-join threshold.
    */
  val DriverEdgeLimit = 5000000L

  /** (doc_id, cluster_id, is_keeper) for every document that has at
    * least one near-duplicate (cluster size >= 2; singletons are not
    * emitted — they need no dedup decision). cluster_id = min doc_id of
    * the component; the keeper is that minimum (deterministic
    * tie-break, same convention as [[Dedup.exact]]'s keep_id).
    *
    * The propagation loop runs EAGERLY at plan-construction time
    * (localCheckpoint + fixpoint actions), so the result is a
    * [[graft.Memo]]: the cluster table is a shared intermediate of the
    * dedup pipeline ([[clusters]] + [[survivors]] both consume it), and
    * a production run computes it once. Deterministic, so caching is
    * observationally pure. Not [[graft.Memo.frame]]: the below-gate
    * result is a driver-built local relation that needs no cut.
    */
  def clusters(spark: SparkSession, d: String): DataFrame =
    graft.Memo(spark, ("dedup_clusters", d)) {
      import spark.implicits._
      // r14 (guide §2.4 / §5 reuse): the ≥ [[JaccThreshold]] edge set
      // is a FILTER of the fitted ≥ 0.5 registry edge list (identical
      // jacc values, computed once per session and shared with the
      // graph family + blocking eval) — the former standalone
      // re-derivation ran the whole blocked-Jaccard pipeline again.
      // The registry frame is already checkpointed; no further cut
      // needed for the count gate + chosen path below.
      val edges = Dedup.jaccardEdgesWithJacc(spark, d)
        .filter($"jacc" >= JaccThreshold)
        .select($"a".as("doc_a"), $"b".as("doc_b"))
      val labeled =
        if (edges.count() <= DriverEdgeLimit) clustersOfEdgesLocal(edges)
        else clustersOfEdges(edges)
      labeled.withColumn(
        "is_keeper", ($"doc_id" === $"cluster_id").cast("long"))
    }

  /** Driver-side exact union-find over a collected edge list — the
    * below-[[DriverEdgeLimit]] fast path. Path-compressed; the emitted
    * cluster_id is the MIN vertex id of the component (same convention
    * as the distributed loop, so the two paths are interchangeable —
    * AnalyticsSpec asserts parity on random graphs).
    */
  def clustersOfEdgesLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    parent.keys.foreach { k =>
      val r = find(k)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), k)
    }
    parent.keys.toSeq.map(k => (k, minOf(find(k))))
      .toDF("doc_id", "cluster_id")
  }

  /** Rounds the last [[clustersOfEdges]] run took to converge —
    * spec-only introspection for the O(log diameter) bound.
    */
  @volatile var lastRounds: Int = 0

  /** Core propagation over an undirected edge list (doc_a, doc_b).
    * Exposed separately so specs can drive it with synthetic graphs.
    */
  def clustersOfEdges(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    // Undirected: propagate both ways. The edge list is iterated every
    // round — persist it once instead of re-deriving pairs each round.
    // (Pre-hash-partitioning by src was measured SLOWER here: the extra
    // upfront shuffle outweighs the per-round exchange it saves at this
    // edge count; on a cluster-scale edge list, repartition($"src")
    // before persist is the right call — noted, not applied.)
    // One pass over the (possibly expensive) pair derivation: a
    // two-branch union(edges, edges.swapped) would compute the
    // upstream pair generation TWICE inside the materializing job —
    // explode each edge into both directions instead.
    val und = edges
      .select(explode(array(
        struct($"doc_a".as("src"), $"doc_b".as("dst")),
        struct($"doc_b".as("src"), $"doc_a".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .persist()
    var labels = und.select($"src".as("id")).distinct()
      .withColumn("label", $"id")
      .transform(graft.Ckpt.cut)
    // Fixpoint detection without a compare join: labels are monotonically
    // non-increasing (min over a set containing the own label), so the
    // label sum strictly decreases on every changing round — equal sums
    // between rounds IS the fixpoint. One constant-size aggregate per
    // round instead of a second shuffle join.
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum($"label"), lit(0L))).first().getLong(0)
    var prev = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < MaxRounds) {
      // min over the closed neighborhood: own label ∪ neighbors' labels
      val prop = und.join(labels, und("src") === labels("id"))
        .select($"dst".as("id"), $"label")
        .union(labels)
        .groupBy($"id")
        .agg(min($"label").as("label"))
      // pointer jump: label(v) <- label(label(v)). Labels are always
      // vertex ids (each is the min of a set of ids), so the self-join
      // matches every row; jumping composes propagation distances, so
      // the label horizon grows ~2x+1 per round — O(log diameter)
      // rounds instead of O(diameter). Measured at sf0.1 (diameter-8
      // pair graph): 9 rounds -> 4, ~2x faster end to end.
      val jumped = prop.select($"id".as("pid"), $"label".as("plabel"))
      val next = prop.join(jumped, prop("label") === jumped("pid"))
        .select($"id", $"plabel".as("label"))
        .transform(graft.Ckpt.cut) // cut lineage; also materializes for the check
      val s = labelSum(next)
      labels = next
      converged = s == prev
      prev = s
      round += 1
    }
    und.unpersist()
    lastRounds = round
    require(converged, s"label propagation did not converge in $MaxRounds rounds")
    labels.select($"id".as("doc_id"), $"label".as("cluster_id"))
  }

  /** The corpus after clustering: drop every non-keeper, keep keepers
    * and singletons, summarize per source — the composite that turns the
    * pair graph into the actual deduplicated training corpus. The drop
    * set is cluster-sized (tiny); the anti-join shuffles on doc_id once
    * (or broadcasts the drop set, as AQE chooses here).
    */
  def survivors(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val drop = clusters(spark, d).filter($"is_keeper" === 0).select($"doc_id")
    Tables.documents(spark, d)
      .join(drop, Seq("doc_id"), "left_anti")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
  }

  /** Shared oracle CTE: blocked-Jaccard edges (same formulation as the
    * dedup_jaccard_pairs oracle) + recursive-CTE transitive closure
    * (UNION dedups, so the recursion terminates at the fixpoint) + min
    * reachable id per vertex. Feasible because dedup components are
    * tiny; the Spark side is the formulation that scales.
    */
  private def closureCte: String =
    s"""WITH RECURSIVE pairs AS (
       |  WITH d0 AS (
       |    SELECT doc_id, list_distinct(t) AS dt, t[1] AS b1,
       |           CAST(floor(len(t) / 10) AS BIGINT) AS b2
       |    FROM (SELECT doc_id,
       |            list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |          FROM documents) x),
       |  dd AS (
       |    SELECT * FROM (
       |      SELECT *, count(*) OVER (PARTITION BY b1, b2) AS bsz FROM d0) y
       |    WHERE bsz <= ${Dedup.MaxBucket})
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM dd a JOIN dd b ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_filter(a.dt, x -> list_contains(b.dt, x))) AS DOUBLE) /
       |        (len(a.dt) + len(b.dt) - len(list_filter(a.dt, x -> list_contains(b.dt, x))))
       |        >= $JaccThreshold),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach (id, r) AS (
       |  SELECT DISTINCT src, src FROM und
       |  UNION
       |  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.id),
       |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private def clustersOracle: String =
    s"""$closureCte
       |SELECT id AS doc_id, cluster_id,
       |       CAST(CASE WHEN cluster_id = id THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
       |FROM lab""".stripMargin

  private def survivorsOracle: String =
    s"""$closureCte
       |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster_id <> id)
       |GROUP BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> (clusters _),
    "dedup_survivors" -> (survivors _))

  val oracles: Map[String, String] = Map(
    "dedup_clusters" -> clustersOracle,
    "dedup_survivors" -> survivorsOracle)
}
