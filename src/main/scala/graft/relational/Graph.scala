package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over data-derived graphs, in the iterative-dataframe
  * style of [[graft.text.DedupCluster]]: no graph library, just keyed
  * shuffles — the shape that scales to edge lists that do not fit one
  * machine.
  *
  * Reference basis: the reference has no graph operator of any kind
  * (SURVEY.md §2.3); its gossip topology is a control-plane ring, not a
  * data-plane graph (mr/gossip.go:165-177).
  */
object Graph extends graft.Catalog {

  /** Triangles in the near-duplicate similarity graph (duplicate
    * clusters are near-cliques, so triangle density is a cluster-quality
    * signal). Edges: blocked token-Jaccard pairs at >= 0.5, canonical
    * a < b orientation.
    *
    * Algorithm: oriented two-path join — edges (a,b) and (b,c) share the
    * middle vertex, then a hash join against the edge set closes (a,c).
    * Orienting every edge low→high id means each triangle is generated
    * exactly once (a < b < c) and the join fan-out per vertex is its
    * OUT-degree only. At scale, orient by (degree, id) instead of raw id
    * — every vertex's out-degree is then O(sqrt(edges)) (the standard
    * bound), which caps the two-path blow-up on skewed hub vertices; id
    * orientation is used here because near-dup components are
    * bucket-capped by construction ([[graft.text.Dedup.MaxBucket]]), so
    * no hub exists by design.
    */
  /** The >= 0.5 Jaccard edge list, checkpointed once — [[triangles]],
    * [[kcore]] and [[reachHops]] in one catalog pass share the
    * materialization instead of each replaying the pair pipeline. r13:
    * the memo itself lives in [[graft.text.Dedup.jaccardEdges]] so
    * dedup_blocking_eval's truth set shares the same single fit.
    */
  private def dupEdges(spark: SparkSession, d: String): DataFrame =
    graft.text.Dedup.jaccardEdges(spark, d)

  def triangles(spark: SparkSession, d: String): DataFrame =
    // the edge list is referenced three times below; materializing it
    // once beats recomputing the Jaccard pair pipeline per reference
    // (and keeps the triple-join plan flat)
    trianglesOfEdges(dupEdges(spark, d))

  /** Core oriented two-path + closing join over an a < b edge list.
    * Exposed so specs can drive it with synthetic graphs.
    */
  def trianglesOfEdges(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val bc = e.select($"a".as("b2"), $"b".as("c"))
    val ac = e.select($"a".as("a3"), $"b".as("c3"))
    e.join(bc, $"b" === $"b2")
      .join(ac, $"a" === $"a3" && $"c" === $"c3")
      .select($"a", $"b", $"c")
  }

  /** PageRank over the nation-level trade graph: an edge
    * supplier-nation → customer-nation carries the revenue shipped
    * between them; rank = standard damped PageRank (d=0.85), 5
    * iterations, uniform init 1/N.
    *
    * Two-phase shape: the edge-building phase is a 100 TB fact scan
    * (lineitem⋈orders, dims broadcast) aggregated to a NATION×NATION
    * matrix — at most 25×25 rows regardless of input scale. The
    * iteration phase then runs on the contracted graph: each round is
    * one broadcast join (ranks are N rows) + one aggregate on dst —
    * no large shuffle ever repeats. This contract-then-iterate split is
    * THE scalable design for entity-level centrality: iterate on the
    * aggregate, never on the raw facts. Edge weights are exact-grid
    * revenue sums, so transition probabilities are identical doubles
    * cross-engine; rank sums (<= N terms) are rounded at emission.
    */
  /** Damping factor and its complement — written as separate literals on
    * BOTH engines (never `1 - 0.85` computed in one engine: decimal vs
    * binary arithmetic yields a 1-ulp different double).
    */
  val Damping = 0.85
  val Teleport = 0.15
  val PrIters = 5

  def pagerankNations(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sn = Tables.nation(spark, d)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("src"))
    val cn = Tables.nation(spark, d)
      .select($"n_nationkey".as("c_nk"), $"n_name".as("dst"))
    // contract: nation-pair revenue matrix (<= 625 rows)
    val edges = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(spark, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(sn), $"s_nationkey" === $"s_nk")
      .join(broadcast(cn), $"c_nationkey" === $"c_nk")
      .filter($"src" =!= $"dst")
      .groupBy($"src", $"dst")
      .agg(RelQueries.exactSum($"l_extendedprice" * (lit(1) - $"l_discount"), 10000L)
        .as("w"))
      // the 100 TB scan runs ONCE; everything below is on <= 625 rows.
      // coalesce(1) BEFORE the checkpoint: the contracted frames would
      // otherwise inherit shuffle.partitions-many partitions, and every
      // iteration round would spawn that many near-empty tasks (measured
      // ~4 s of pure task overhead at 32 partitions vs ~1 s at 1).
      .coalesce(1)
      .transform(graft.Ckpt.cut)
    // out-weight per source; w and outw are both exact-grid values, so
    // p = w/outw is the same double on every engine
    val outw = edges.groupBy($"src").agg(sum(RelQueries.gridScale($"w", 10000L)).as("ow"))
    val trans = edges.join(outw, "src")
      .select($"src", $"dst",
        (RelQueries.gridScale($"w", 10000L).cast("double") / $"ow".cast("double")).as("p"))
      .coalesce(1).transform(graft.Ckpt.cut)
    // The contracted matrix is <= 625 rows REGARDLESS of input scale —
    // the 100 TB scan above is the distributed phase; the power
    // iteration on the contraction belongs on the driver (the same
    // size-gate reasoning as DedupCluster.clustersOfEdgesLocal). The
    // in-plan broadcast-join loop this replaces (git history) spent
    // ~0.4 s/round on job scheduling for 625-row frames; the driver
    // solve is microseconds and runs the same FP ops per term. For a
    // graph that does NOT contract (page-level web graphs), the
    // in-plan loop is the swap — the scan/contract phase is unchanged.
    val eArr = trans.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2)))
    val nodeArr = eArr.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val srcSet = eArr.map(_._1).toSet
    val n = nodeArr.length.toDouble
    var rank = nodeArr.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to PrIters) {
      val inRank = scala.collection.mutable.Map.empty[String, Double]
      eArr.foreach { case (s, t, p) =>
        inRank(t) = inRank.getOrElse(t, 0.0) + rank(s) * p
      }
      // dangling nodes (no out-edges) redistribute their mass uniformly —
      // without this the walk leaks mass every round.
      val dm = nodeArr.iterator.filterNot(srcSet).map(rank).sum
      rank = nodeArr.map(v =>
        v -> (Teleport / n + Damping * (inRank.getOrElse(v, 0.0) + dm / n))).toMap
    }
    // same rounding as SQL round(x, 6): BigDecimal HALF_UP
    nodeArr.toSeq.map(v => (v,
      BigDecimal(rank(v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("node", "rank")
  }

  /** DuckDB twin of the loop, iterations UNROLLED as generated CTEs
    * pr0..pr5 (DuckDB's recursive CTEs cannot reference the recursive
    * table inside a subquery, so unrolling is the faithful encoding).
    * Same FP ops per term; the <= 25-term contribution sums may
    * associate differently, which round(6) absorbs.
    *
    * Every CTE is `AS MATERIALIZED`: DuckDB inlines plain CTEs per
    * REFERENCE, and the unrolled chain references `trans`/`pr{k-1}`
    * multiply — at sf1 the inlined re-evaluations of the 6M-row
    * contraction join blew past 100 GB before the sf1 rehearsal caught
    * it. Materialized, the big join runs once and the iterations touch
    * <= 625 rows, mirroring the Spark side's localCheckpoint contract.
    */
  private def pagerankOracle: String = {
    val iterCtes = (1 to PrIters).map { k =>
      s"""dm$k AS MATERIALIZED (
         |  SELECT coalesce(sum(rank), 0.0) AS dm FROM pr${k - 1}
         |  WHERE node NOT IN (SELECT src FROM trans)),
         |pr$k AS MATERIALIZED (
         |  SELECT nodes.node AS node,
         |    $Teleport / (SELECT n FROM nn) +
         |    $Damping * (coalesce(c.in_rank, 0.0)
         |                + (SELECT dm FROM dm$k) / (SELECT n FROM nn)) AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT t.dst AS dst, sum(p.rank * t.p) AS in_rank
         |    FROM trans t JOIN pr${k - 1} p ON p.node = t.src
         |    GROUP BY t.dst) c ON c.dst = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT n1.n_name AS src, n2.n_name AS dst,
       |    CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000,0) AS BIGINT)) AS DOUBLE)/10000 AS w
       |  FROM lineitem, orders, customer, supplier, nation n1, nation n2
       |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
       |    AND l_suppkey = s_suppkey
       |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       |    AND n1.n_name <> n2.n_name
       |  GROUP BY n1.n_name, n2.n_name),
       |ow AS (
       |  SELECT src, sum(CAST(round(w*10000,0) AS BIGINT)) AS ow
       |  FROM edges GROUP BY src),
       |trans AS MATERIALIZED (
       |  SELECT edges.src, edges.dst,
       |    CAST(CAST(round(w*10000,0) AS BIGINT) AS DOUBLE) / CAST(ow AS DOUBLE) AS p
       |  FROM edges JOIN ow ON edges.src = ow.src),
       |nodes AS (SELECT src AS node FROM edges
       |          UNION SELECT dst FROM edges),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |pr0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
       |$iterCtes
       |SELECT node, round(rank, 6) AS rank FROM pr$PrIters""".stripMargin
  }

  /** The near-dup edge list (blocked token-Jaccard >= 0.5, a < b) as
    * DuckDB CTEs — shared by the triangle and reachability oracles; the
    * SQL twin of `Dedup.jaccardPairs(..).filter(jacc >= 0.5)`.
    */
  private def jaccardEdgeCtes: String =
    s"""${graft.text.Dedup.jaccardPairCtes},
       |e AS (SELECT doc_a AS a, doc_b AS b FROM jp WHERE jacc >= 0.5)""".stripMargin

  private def trianglesOracle: String =
    s"""WITH $jaccardEdgeCtes
       |SELECT ab.a AS a, ab.b AS b, bc.b AS c
       |FROM e ab JOIN e bc ON ab.b = bc.a
       |          JOIN e ac ON ac.a = ab.a AND ac.b = bc.b""".stripMargin

  /** Multi-source BFS over the near-duplicate graph: minimum hop
    * distance from the [[SeedLang]]-language documents (the seed set a
    * contamination or provenance audit starts from — "everything within
    * k near-dup hops of a flagged slice") along undirected >= 0.5
    * Jaccard edges, capped at [[HopCap]] hops. Output: every reachable
    * document with its distance (seeds at 0).
    *
    * Algorithm: level-synchronous frontier BFS — each round joins the
    * frontier against the checkpointed edge list, subtracts the visited
    * set (left-anti), and checkpoints the new layer; termination on
    * empty frontier or the cap. This is THE scalable shape for
    * reachability on edge lists that do not fit one machine: per round
    * one keyed join + one anti-join, frontier-sized payloads, and the
    * checkpoint cuts lineage so round r's plan never replays rounds
    * 1..r-1. Hop distances are exact integers — no FP anywhere — and
    * the layered construction visits each vertex exactly once at its
    * minimal depth, so no min-aggregate is needed on the Spark side.
    * For diameter-unbounded graphs the pointer-jumping contraction in
    * [[graft.text.DedupCluster]] is the escape hatch; plain BFS is the
    * right tool for the k-hop-bounded audit semantics here.
    */
  val HopCap = 8
  val SeedLang = "zh"

  def reachHops(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = dupEdges(spark, d)
    // undirected: both orientations, materialized once for all rounds
    val und = e.union(e.select($"b".as("a"), $"a".as("b"))).transform(graft.Ckpt.cut)
    val seeds = Tables.documents(spark, d)
      .filter($"lang" === SeedLang)
      .select($"doc_id".as("doc"), lit(0L).as("hops"))
      .transform(graft.Ckpt.cut)
    var visited = seeds
    var frontier = seeds.select($"doc")
    var k = 1L
    while (k <= HopCap && !frontier.isEmpty) {
      val next = frontier.join(und, frontier("doc") === und("a"))
        .select(und("b").as("doc")).distinct()
        .join(visited.select($"doc"), Seq("doc"), "left_anti")
        .select($"doc", lit(k).as("hops"))
        .transform(graft.Ckpt.cut)
      visited = visited.union(next).transform(graft.Ckpt.cut)
      frontier = next.select($"doc")
      k += 1
    }
    visited.select($"doc".as("doc_id"), $"hops")
  }

  /** DuckDB twin: recursive CTE with UNION (distinct) semantics — the
    * dedup-against-all-prior-rows recursion plus the d < HopCap guard
    * bounds the walk on cyclic components; min(d) recovers the BFS
    * first-visit depth.
    */
  private def reachOracle: String =
    s"""WITH RECURSIVE $jaccardEdgeCtes,
       |und AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       |seeds AS (SELECT doc_id AS doc FROM documents WHERE lang = '$SeedLang'),
       |walk(doc, d) AS (
       |  SELECT doc, 0 FROM seeds
       |  UNION
       |  SELECT und.b, walk.d + 1
       |  FROM walk JOIN und ON und.a = walk.doc
       |  WHERE walk.d < $HopCap)
       |SELECT doc AS doc_id, CAST(min(d) AS BIGINT) AS hops
       |FROM walk GROUP BY doc""".stripMargin

  /** Power-iteration steps for the stationary distribution. */
  val MarkovIters = 16

  /** Stationary distribution of the user-journey Markov chain: π such
    * that πP = π over the event-type transition matrix
    * ([[Analytics.eventTransitions]]' P), by [[MarkovIters]] power-
    * iteration steps from the uniform start — "where does a user
    * timeline spend its time in the long run", the chain-level summary
    * one tier above per-edge transition probabilities.
    *
    * Cross-engine exactness WITHOUT convergence arguments: the entire
    * iteration runs on an e6 fixed-point integer grid — p6 =
    * ⌊1e6·cnt/tot⌋ per edge, each step v'(t) = Σ_s ⌊v(s)·p6(s,t)/1e6⌋
    * — so both engines compute IDENTICAL BIGINTs at every step and the
    * hash match is exact by construction whether or not 16 steps have
    * mixed (all quantities nonnegative, so `div` and `//` agree). The
    * floor remainders leak ≤1e-6 mass per edge per step; π is reported
    * both raw (pi_e6) and normalized.
    *
    * Scale shape: ONE data-scale exchange builds the transition counts
    * (the user-window lead); everything after runs on the
    * domain-bounded k×k matrix (k = event types), checkpointed once —
    * the iteration is k-row joins regardless of corpus size, the
    * [[pagerankNations]] bounded-iteration discipline. The oracle
    * replays the identical unrolled iteration (the
    * [[graft.sim.Fusion]] embed_mmr unrolled-greedy convention).
    */
  /** The user-journey transition matrix with raw counts, per-source
    * totals, and the e6 fixed-point probabilities — k × k bounded,
    * checkpointed; shared by [[markovStationary]] and
    * [[markovEntropyRate]].
    */
  private def eventTransMatrix(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val wu = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wf = Window.partitionBy($"from_type")
    graft.Tables.events(spark, d)
      .withColumn("to_type", lead($"event_type", 1).over(wu))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum($"cnt").over(wf))
      .select($"from_type", $"to_type", $"cnt", $"tot",
        expr("(cnt * 1000000) div tot").as("p6"))
      .transform(graft.Ckpt.cut) // k x k bounded; 16 iteration consumers
  }

  /** The exact-BIGINT e6 power iteration: (t, v) after
    * [[MarkovIters]] steps from the uniform start.
    *
    * Runs ON THE DRIVER over the collected k×k matrix — the
    * [[pagerankNations]] contract-then-iterate precedent applied to the
    * other contracted chain: the transition matrix is domain-bounded
    * (k = event types, k² rows at ANY corpus size), and the in-plan
    * 16-round join/aggregate chain this replaces spent its whole wall
    * on job scheduling and per-round codegen for k-row frames (the
    * r13 bench measured ~2.5 s/query of pure fixed cost; the driver
    * replay is microseconds). Exactness is unchanged BY CONSTRUCTION:
    * every step is v'(t) = Σ_s (v(s)·p6(s,t)) div 1e6 on nonnegative
    * Longs — the identical floor divisions and an order-free integer
    * sum, the arithmetic GraphTimeSeriesSpec's "exact Long replay"
    * test already pins against the DataFrame spelling. Types with no
    * in-edge from a live state drop from v exactly as the inner join
    * dropped them. For a chain that does NOT contract (page-level
    * graphs), the in-plan loop is the swap — see the git history.
    */
  private def stationaryE6(tr: DataFrame): DataFrame = {
    import tr.sparkSession.implicits._
    val edges = tr.select($"from_type", $"to_type", $"p6").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = edges.iterator.flatMap(e => Iterator(e._1, e._2))
      .toSeq.distinct.sorted
    val n = types.length.toLong
    var v: Map[String, Long] = types.iterator.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to MarkovIters) {
      val nxt = scala.collection.mutable.Map.empty[String, Long]
      edges.foreach { case (s, t, p6) =>
        v.get(s).foreach { vs =>
          nxt.update(t, nxt.getOrElse(t, 0L) + (vs * p6) / 1000000L)
        }
      }
      v = nxt.toMap
    }
    v.toSeq.sortBy(_._1).toDF("t", "v")
  }

  def markovStationary(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val v = stationaryE6(eventTransMatrix(spark, d))
    v.crossJoin(broadcast(v.agg(sum($"v").as("vt"))))
      .select($"t".as("event_type"), $"v".as("pi_e6"),
        (round($"v".cast("double") / $"vt".cast("double"), 6) + lit(0.0))
          .as("pi"))
  }

  private def markovOracle: String = {
    val steps = (1 to MarkovIters).map { i =>
      s"""v$i AS (
         |  SELECT tr.to_type AS t,
         |    CAST(sum((v${i - 1}.v * tr.p6) // 1000000) AS BIGINT) AS v
         |  FROM v${i - 1} JOIN tr ON v${i - 1}.t = tr.from_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS to_type
       |  FROM events),
       |tr AS (
       |  SELECT from_type, to_type,
       |    (CAST(count(*) AS BIGINT) * 1000000)
       |      // CAST(sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT)
       |      AS p6
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |types AS (SELECT from_type AS t FROM tr UNION SELECT to_type FROM tr),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM types),
       |v0 AS (SELECT t, CAST(1000000 // (SELECT n FROM n) AS BIGINT) AS v
       |       FROM types),
       |$steps
       |SELECT t AS event_type, v AS pi_e6,
       |  round(CAST(v AS DOUBLE)
       |        / CAST((SELECT CAST(sum(v) AS BIGINT) FROM v$MarkovIters)
       |               AS DOUBLE), 6) + 0.0 AS pi
       |FROM v$MarkovIters""".stripMargin
  }

  /** Peeling rounds per k level — enough for the bucket-capped dup
    * graph to reach fixpoint (spec-asserted on the fixture); at scale
    * the FIXED unrolling keeps both engines computing the identical
    * partial result whether or not the peel has converged.
    */
  val KcorePeelRounds = 4
  /** Coreness is reported capped at this k (cores are nested, so the
    * cap only truncates the tail of the ladder).
    */
  val KcoreMax = 4

  /** k-core decomposition of the near-duplicate graph: per document
    * its degree and its coreness (the largest k such that the vertex
    * survives iterated removal of all degree-<k vertices, capped at
    * [[KcoreMax]]) — the standard density ladder for duplicate-cluster
    * triage (a high-coreness region is a template farm; a degree-1
    * appendage is an incidental near-dup; Seidman 1983).
    *
    * Algorithm: iterative peeling, SEQUENTIALLY CHAINED across k —
    * the (k+1)-core is peeled from the k-core's surviving adjacency
    * (cores are nested), so each level starts from the already-shrunk
    * edge list. Each round is one degree aggregate + one semi-join
    * pair on the surviving adjacency, checkpointed to cut lineage —
    * frontier-shrinking keyed shuffles only, the [[reachHops]]
    * discipline; all quantities are exact integers. The oracle replays
    * the identical fixed unrolling ([[markovStationary]] convention).
    */
  def kcore(spark: SparkSession, d: String): DataFrame =
    kcoreOfEdges(dupEdges(spark, d))

  /** Core peel over an a < b edge list. Exposed so specs can drive it
    * with synthetic graphs (the [[trianglesOfEdges]] convention).
    */
  def kcoreOfEdges(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val und = e.union(e.select($"b".as("a"), $"a".as("b"))).transform(graft.Ckpt.cut)
    val deg0 = und.groupBy($"a").agg(count(lit(1)).as("degree"))
    var adj = und
    var res = deg0.select($"a", $"degree", lit(1L).as("coreness"))
    // NOTE (r13 optimization round): a count()-based fixpoint early-exit
    // was prototyped and MEASURED OUT — on the sf0.1 dup graph (70,390
    // directed edges) every one of the 12 unrolled rounds still removes
    // edges (70,390 → 68,786, probe data in OPTIMIZATION_r13.md), so the
    // exit never fires and its per-round count job is pure overhead
    // (+0.9 s). The fixed unrolling itself is the ORACLE contract
    // (coreness at partial convergence must match the unrolled SQL), so
    // the round count is not a tunable.
    for (k <- 2 to KcoreMax) {
      for (_ <- 1 to KcorePeelRounds) {
        val keep = adj.groupBy($"a").agg(count(lit(1)).as("dg"))
          .filter($"dg" >= k).select($"a")
        adj = adj.join(keep, "a")
          .join(keep.select($"a".as("b")), "b")
          .select($"a", $"b").transform(graft.Ckpt.cut)
      }
      val inK = adj.select($"a").distinct().withColumn("ink", lit(1L))
      res = res.join(inK, Seq("a"), "left")
        .select($"a", $"degree",
          ($"coreness" + coalesce($"ink", lit(0L))).as("coreness"))
    }
    res.select($"a".as("doc_id"), $"degree", $"coreness")
  }

  private def kcoreOracle: String = {
    val levels = (2 to KcoreMax).flatMap { k =>
      (1 to KcorePeelRounds).map { r =>
        val prev =
          if (r == 1 && k == 2) "und"
          else if (r == 1) s"a${k - 1}_$KcorePeelRounds"
          else s"a${k}_${r - 1}"
        s"""a${k}_$r AS MATERIALIZED (
           |  SELECT adj.a, adj.b FROM $prev adj
           |  JOIN (SELECT a FROM $prev GROUP BY a HAVING count(*) >= $k) ka
           |    ON adj.a = ka.a
           |  JOIN (SELECT a FROM $prev GROUP BY a HAVING count(*) >= $k) kb
           |    ON adj.b = kb.a)""".stripMargin
      }
    }.mkString(",\n")
    val coreSum = (2 to KcoreMax).map { k =>
      s"(CASE WHEN deg.a IN (SELECT a FROM a${k}_$KcorePeelRounds) THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH $jaccardEdgeCtes,
       |und AS MATERIALIZED (
       |  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS degree
       |        FROM und GROUP BY a),
       |$levels
       |SELECT deg.a AS doc_id, deg.degree,
       |  CAST(1 + $coreSum AS BIGINT) AS coreness
       |FROM deg""".stripMargin
  }

  /** Entropy rate of the user-journey Markov chain: per state s its
    * conditional next-step entropy H(s) = −Σ_t p(s,t)·ln p(s,t) and
    * the stationary-weighted contribution π_s·H(s), whose sum is the
    * chain's entropy rate (Cover & Thomas ch. 4) — "how predictable is
    * the next user action", the information-theoretic summary ABOVE
    * [[markovStationary]]'s where-does-time-go π.
    *
    * Same two-phase shape: the transition matrix and π come from the
    * shared contracted pipeline ([[eventTransMatrix]] /
    * [[stationaryE6]] — one data-scale exchange, then k-row algebra);
    * probabilities are exact-count ratios cnt/tot so both engines see
    * identical doubles; the ≤ k-term entropy sums follow the
    * [[graft.relational.StatModels.sourceKl]] 6dp association-order
    * precedent. All outputs nonnegative.
    */
  def markovEntropyRate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val tr = eventTransMatrix(spark, d)
    val v = stationaryE6(tr)
    // r14 (VERDICT item 7): the per-state conditional entropy joins the
    // driver replay — the one exchange left here was a k²-row (≤ ~25 at
    // any corpus: k = event types) FP aggregate whose whole wall was
    // per-query fixed cost. The driver sums the SAME -p·ln(p) terms in
    // to_type-sorted order (a fixed association order where the hash
    // aggregate's was partition-dependent); the 6dp round matches the
    // oracle hash at every checked SF — the gate that decides (the
    // oracle's own summation order is its scan order, also unpinned).
    // Rounding mirrors Spark's Round(HALF_UP over valueOf) exactly;
    // `+ 0.0` normalizes -0.0 as the DF spelling did.
    val hRows = tr.select($"from_type", $"to_type", $"cnt", $"tot").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val h: Map[String, Double] = hRows.groupBy(_._1).map { case (f, xs) =>
      f -> xs.sortBy(_._2).foldLeft(0.0) { (a, x) =>
        val p = x._3.toDouble / x._4.toDouble
        a - p * math.log(p)
      }
    }
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
    val vRows = v.collect().map(r => (r.getString(0), r.getLong(1)))
    val vt = vRows.map(_._2).sum
    vRows.toSeq
      .flatMap { case (t, pv) =>
        h.get(t).map { hr =>
          val pi = pv.toDouble / vt.toDouble
          (t, r6(pi), r6(hr), r6(pi * hr))
        }
      }
      .toDF("event_type", "pi", "h_state", "h_weighted")
  }

  private def entropyRateOracle: String = {
    val steps = (1 to MarkovIters).map { i =>
      s"""v$i AS (
         |  SELECT tr.to_type AS t,
         |    CAST(sum((v${i - 1}.v * tr.p6) // 1000000) AS BIGINT) AS v
         |  FROM v${i - 1} JOIN tr ON v${i - 1}.t = tr.from_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS to_type
       |  FROM events),
       |tr AS MATERIALIZED (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT) AS tot,
       |    (CAST(count(*) AS BIGINT) * 1000000)
       |      // CAST(sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT)
       |      AS p6
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |types AS (SELECT from_type AS t FROM tr UNION SELECT to_type FROM tr),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM types),
       |v0 AS (SELECT t, CAST(1000000 // (SELECT n FROM n) AS BIGINT) AS v
       |       FROM types),
       |$steps,
       |vt AS (SELECT CAST(sum(v) AS BIGINT) AS vt FROM v$MarkovIters),
       |h AS (
       |  SELECT from_type,
       |    sum(-(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) *
       |        ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))) AS h_raw
       |  FROM tr GROUP BY from_type)
       |SELECT h.from_type AS event_type,
       |  round(CAST(v.v AS DOUBLE) / CAST(vt.vt AS DOUBLE), 6) + 0.0 AS pi,
       |  round(h_raw, 6) + 0.0 AS h_state,
       |  round((CAST(v.v AS DOUBLE) / CAST(vt.vt AS DOUBLE)) * h_raw, 6) + 0.0
       |    AS h_weighted
       |FROM h JOIN v$MarkovIters v ON v.t = h.from_type
       |CROSS JOIN vt""".stripMargin
  }

  /** Next-event prediction accuracy of the first-order chain: per
    * state the argmax transition (tie-broken to the lexicographically
    * first successor) and the accuracy of always predicting it —
    * exactly max(cnt)/tot, the majority-successor baseline every
    * sequence model must beat before it earns its parameters. Bounded
    * k×k algebra on the shared [[eventTransMatrix]]; counts exact,
    * accuracy one division, 6dp.
    */
  def markovPredictionAccuracy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val tr = eventTransMatrix(spark, d)
    val w = Window.partitionBy($"from_type")
      .orderBy($"cnt".desc, $"to_type".asc)
    tr.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select(
        $"from_type".as("event_type"),
        $"to_type".as("predicted_next"),
        $"tot".as("n"),
        $"cnt".as("n_correct"),
        (round($"cnt".cast("double") / $"tot".cast("double"), 6) + lit(0.0))
          .as("accuracy"))
  }

  private def predAccOracle: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |tr AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT) AS tot
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |r AS (
      |  SELECT from_type, to_type, cnt, tot,
      |    row_number() OVER (PARTITION BY from_type
      |                       ORDER BY cnt DESC, to_type ASC) AS rk
      |  FROM tr)
      |SELECT from_type AS event_type, to_type AS predicted_next,
      |  tot AS n, cnt AS n_correct,
      |  round(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS accuracy
      |FROM r WHERE rk = 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "markov_prediction_accuracy" -> (markovPredictionAccuracy _),
    "markov_entropy_rate" -> (markovEntropyRate _),
    "graph_kcore" -> (kcore _),
    "graph_triangles" -> (triangles _),
    "graph_pagerank_nations" -> (pagerankNations _),
    "graph_markov_stationary" -> (markovStationary _),
    "graph_reach_hops" -> (reachHops _))

  val oracles: Map[String, String] = Map(
    "markov_prediction_accuracy" -> predAccOracle,
    "markov_entropy_rate" -> entropyRateOracle,
    "graph_kcore" -> kcoreOracle,
    "graph_triangles" -> trianglesOracle,
    "graph_pagerank_nations" -> pagerankOracle,
    "graph_markov_stationary" -> markovOracle,
    "graph_reach_hops" -> reachOracle)
}
