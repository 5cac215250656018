package graft.gossip

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.Tables

/** One observation of a worker's health. Statuses are ranked
  * Alive(0) < Suspect(1) < Dead(2) (mr/gossip.go:9-15). `suspicion` is
  * the observer's CUMULATIVE SuspicionCount at that moment (the
  * reference gossips whole table entries whose counts only grow locally,
  * mr/gossip.go:60-79), so merging tables by max reproduces the
  * reference's `otherEntry.SuspicionCount > existing.SuspicionCount`
  * propagation (mr/gossip.go:97-102).
  */
final case class HealthObs(workerId: Long, status: Int, suspicion: Long, lastUpdateMicros: Long)

/** Merged per-worker health state (the gossip health table entry,
  * mr/gossip.go:17-22).
  */
final case class HealthState(status: Int, suspicion: Long, lastUpdateMicros: Long)

/** Aggregation buffer: the winning (most recent) observation kept WHOLE
  * as an LWW register, plus the running max suspicion. Keeping the
  * register un-mixed (never overwriting its suspicion with the global
  * max) is what makes the merge associative — a lattice product of an
  * LWW-register and a max-counter.
  */
final case class HealthBuf(status: Int, suspicion: Long, lastUpdateMicros: Long, maxSuspicion: Long)

/** The reference's gossip health-table merge (mr/gossip.go:81-104) as a
  * commutative, associative keyed aggregate (SURVEY.md §2.1-O14). The
  * RPC fan-out of the reference's protocol is liveness plumbing Spark
  * already has (executor heartbeats); what we reproduce is the *data
  * semantics*, and those are RECENCY-WINS: a newer entry replaces the
  * existing one wholesale (mr/gossip.go:90-96), so a worker observed
  * Alive after a Suspect spell RECOVERS — status does not escalate
  * monotonically. Suspicion merges by max (mr/gossip.go:97-99).
  *
  * Two deliberate deltas from the reference, both forced by running the
  * merge as a deterministic parallel aggregate rather than a sequential
  * gossip loop:
  *
  *   - The reference stamps merged entries with local wall-clock `now`
  *     and its tie behavior therefore depends on delivery order. We
  *     order observations by the total order (lastUpdateMicros,
  *     suspicion, status) — same winner for any merge tree.
  *   - The reference's "older entry with higher suspicion escalates
  *     Alive→Suspect" side-branch (mr/gossip.go:99-101) is inherently
  *     order-dependent; we keep the max suspicion (no information lost)
  *     and let the consensus rule decide. With cumulative per-worker
  *     suspicion feeds the newest observation already carries the max,
  *     so the two formulations coincide on our inputs.
  *
  * Consensus (mr/gossip.go:243-267): an entry currently Suspect-or-worse
  * whose count reached C (=3) is pronounced Dead. An entry whose latest
  * observation is Alive is NOT (checkSuspicions only considers
  * Suspect/Dead entries) — recoverability again.
  *
  * Being a typed Aggregator, Spark runs it with map-side partial
  * aggregation — the shuffle carries one buffer per (partition, worker),
  * not one row per observation: exactly the gossip table's constant
  * ~32 B/worker footprint (README.md:330), at cluster scale.
  */
object HealthMerge extends graft.Catalog {
  val ConsensusC = 3

  /** Total order on observations: newest wins; ties broken by suspicion
    * then status so any merge order picks the same register.
    */
  private def newerThan(aTs: Long, aSusp: Long, aSt: Int,
                        bTs: Long, bSusp: Long, bSt: Int): Boolean =
    aTs > bTs || (aTs == bTs && (aSusp > bSusp || (aSusp == bSusp && aSt > bSt)))

  val aggregator: Aggregator[HealthObs, HealthBuf, HealthState] =
    new Aggregator[HealthObs, HealthBuf, HealthState] {
      def zero: HealthBuf = HealthBuf(0, 0L, Long.MinValue, 0L)
      def reduce(b: HealthBuf, a: HealthObs): HealthBuf = {
        val reg =
          if (newerThan(a.lastUpdateMicros, a.suspicion, a.status,
                        b.lastUpdateMicros, b.suspicion, b.status))
            (a.status, a.suspicion, a.lastUpdateMicros)
          else (b.status, b.suspicion, b.lastUpdateMicros)
        HealthBuf(reg._1, reg._2, reg._3, math.max(b.maxSuspicion, a.suspicion))
      }
      def merge(x: HealthBuf, y: HealthBuf): HealthBuf = {
        val reg =
          if (newerThan(x.lastUpdateMicros, x.suspicion, x.status,
                        y.lastUpdateMicros, y.suspicion, y.status)) x
          else y
        HealthBuf(reg.status, reg.suspicion, reg.lastUpdateMicros,
          math.max(x.maxSuspicion, y.maxSuspicion))
      }
      def finish(r: HealthBuf): HealthState = {
        val status =
          if (r.status >= 1 && r.maxSuspicion >= ConsensusC) 2 else r.status
        HealthState(status, r.maxSuspicion, r.lastUpdateMicros)
      }
      def bufferEncoder: Encoder[HealthBuf] = Encoders.product[HealthBuf]
      def outputEncoder: Encoder[HealthState] = Encoders.product[HealthState]
    }

  /** events viewed as health observations: worker = user shard; an
    * 'error' event is a Suspect observation and bumps the worker's
    * cumulative suspicion count (a running count over event order — the
    * observer's local monotone counter, mr/gossip.go:60-79); the rest
    * are Alive beacons. Only the C=3 consensus in finish() can pronounce
    * Dead(2), matching the reference where gossip observations never
    * carry Dead directly.
    */
  def obsFromEvents(spark: SparkSession, d: String): org.apache.spark.sql.Dataset[HealthObs] = {
    import spark.implicits._
    val w = Window.partitionBy($"workerId").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, d)
      .select(($"user_id" % 20).as("workerId"), $"event_type", $"ts", $"event_id")
      .withColumn("suspicion",
        sum(when($"event_type" === "error", 1L).otherwise(0L)).over(w))
      .select(
        $"workerId",
        when($"event_type" === "error", 1).otherwise(0).as("status"),
        $"suspicion",
        unix_micros($"ts").as("lastUpdateMicros")).as[HealthObs]
  }

  /** Merged health table with consensus marking. The running-suspicion
    * window and the merge aggregate both hash-partition on workerId, so
    * Spark reuses one exchange for the two steps — a single shuffle end
    * to end at any scale.
    */
  def healthTable(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val merge = udaf(aggregator, Encoders.product[HealthObs])
    obsFromEvents(spark, d)
      .groupBy($"workerId")
      .agg(merge($"workerId", $"status", $"suspicion", $"lastUpdateMicros").as("st"))
      .select($"workerId".as("worker_id"),
        $"st.status".cast("long").as("status"),
        $"st.suspicion".as("suspicion"),
        timestamp_micros($"st.lastUpdateMicros").as("last_update"))
  }

  /** The gossip DISSEMINATION LOOP itself (SURVEY §2.1-O13), the piece
    * [[healthTable]] deliberately leaves out: the reference's protocol
    * picks a STATIC fanout-3 neighbor set per worker once at startup
    * (mr/gossip.go:132-154), then every tick pushes its whole health
    * table to those neighbors, each receiver merging recency-wins
    * (gossipLoop mr/gossip.go:165-177; Merge :81-104). The reference's
    * transport is a stub (`callWorker` returns false, mr/gossip.go:
    * 269-271), so the loop's observable semantics ARE its data
    * semantics: after R rounds, node i knows entry e iff e's origin
    * reaches i within R hops of the fixed out-degree-3 digraph, and
    * knows the LATEST version among those that reached it.
    *
    * Re-expressed data-parallel: state = (node, about, entry) rows; one
    * round = push (state ⋈ neighbor edges, a broadcast join — the edge
    * table is cluster-sized) then merge (groupBy (node, about):
    * last_update-wins register + max suspicion, the same LWW ×
    * max-counter lattice product as [[aggregator]] and with seeds whose
    * last_updates are globally unique, so every merge order agrees).
    * Rounds are a FIXED unrolled loop (R=4 ≈ diameter of a fanout-3
    * graph at these sizes), not a data-dependent fixpoint.
    *
    * Scale bound: the node universe is the CLUSTER, not the corpus —
    * the reference gossips across its ~10 workers, not its records —
    * so nodes are capped at 256 (suppliers seed identities; sf0.001
    * yields exactly the reference's 10). State is ≤ nodes² rows by
    * construction at ANY corpus size; the per-round exchanges are the
    * R merge shuffles, each over a cluster-sized frame.
    *
    * Each node seeds a FRESH entry about itself (alive, last_update
    * 1e6+node) and a STALE conflicting entry about its ring successor
    * (suspect, last_update 5e5+node): dissemination must both spread
    * facts AND resolve conflicts — n_latest counts receivers whose
    * LWW winner is the fresh version.
    */
  def gossipRounds(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // supplier keys are 0-based contiguous; the node universe is the
    // first min(count, 256) of them, so N is the modulus and every
    // node can be selected as a peer
    val all = Tables.supplier(spark, d)
      .select($"s_suppkey".cast("long").as("node"))
    val n = math.min(
      all.agg(max($"node")).head().getLong(0) + 1L, 256L)
    val nodes = all.filter($"node" < n)
    val peers = nodes.select($"node", explode(array((0 until 3).map(k =>
        pmod($"node" * 48271L + lit(k.toLong * 69621L), lit(n))): _*))
      .as("peer"))
      .filter($"peer" =!= $"node")
    val fresh = nodes.select($"node", $"node".as("about"),
      lit(0L).as("status"), ($"node" % 4).as("susp"),
      (lit(1000000L) + $"node").as("last_update"))
    val stale = nodes.select($"node",
      pmod($"node" + 1L, lit(n)).as("about"),
      lit(1L).as("status"), (($"node" + 3) % 5).as("susp"),
      (lit(500000L) + $"node").as("last_update"))
    var state = fresh.union(stale)
    for (r <- 1 to 4) {
      val pushed = state.join(broadcast(peers), "node")
        .select($"peer".as("node"), $"about", $"status", $"susp", $"last_update")
      val merged = state.union(pushed)
        .groupBy($"node", $"about")
        .agg(
          max_by($"status", $"last_update").as("status"),
          max($"susp").as("susp"),
          max($"last_update").as("last_update"))
      // lineage cut per round (the graph_kcore discipline): the union
      // references `state` twice, so an uncut loop DOUBLES the plan
      // each round — 2^R subtree copies, 2^R-1 exchanges, and the
      // whole prefix recomputed at every level. Cut, each round is one
      // cluster-bounded shuffle. The LAST round stays uncut: its single
      // union level is exactly the 2-exchange budget, and skipping the
      // checkpoint saves a fixture-visible materialization job.
      state = if (r < 4) graft.Ckpt.cut(merged) else merged
    }
    state.groupBy($"about")
      .agg(
        count(lit(1)).as("nodes_knowing"),
        sum(when($"last_update" >= 1000000L, 1L).otherwise(0L)).as("n_latest"),
        max($"susp").as("max_susp_seen"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gossip_health" -> (healthTable _),
    "gossip_rounds" -> (gossipRounds _))

  val oracles: Map[String, String] = Map(
    "gossip_health" ->
      """WITH obs AS (
        |  SELECT user_id % 20 AS worker_id,
        |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS status,
        |         CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
        |              OVER (PARTITION BY user_id % 20
        |                    ORDER BY ts, event_id) AS BIGINT) AS susp,
        |         CAST(ts AS TIMESTAMP) AS t
        |  FROM events),
        |ranked AS (
        |  SELECT worker_id, status, susp, t,
        |         row_number() OVER (PARTITION BY worker_id
        |                            ORDER BY t DESC, susp DESC, status DESC) AS rn,
        |         max(susp) OVER (PARTITION BY worker_id) AS max_susp,
        |         max(t) OVER (PARTITION BY worker_id) AS last_update
        |  FROM obs)
        |SELECT worker_id,
        |       CAST(CASE WHEN status >= 1 AND max_susp >= 3
        |            THEN 2 ELSE status END AS BIGINT) AS status,
        |       max_susp AS suspicion,
        |       last_update
        |FROM ranked WHERE rn = 1""".stripMargin,
    "gossip_rounds" -> {
      // one unrolled push+merge round (the recursive CTE cannot express
      // the per-round argmax fold, so R=4 is spelled out)
      def round(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT node, about,
           |         arg_max(status, last_update) AS status,
           |         max(susp) AS susp,
           |         max(last_update) AS last_update
           |  FROM (SELECT * FROM $prev
           |        UNION ALL
           |        SELECT p.peer AS node, s.about, s.status, s.susp, s.last_update
           |        FROM $prev s JOIN peers p ON p.node = s.node)
           |  GROUP BY node, about)""".stripMargin
      s"""WITH nn AS (
         |  SELECT least(max(CAST(s_suppkey AS BIGINT)) + 1, 256) AS n FROM supplier),
         |nodes AS (
         |  SELECT CAST(s_suppkey AS BIGINT) AS node FROM supplier
         |  WHERE s_suppkey < (SELECT n FROM nn)),
         |peers AS (
         |  SELECT node,
         |         (node * 48271 + k * 69621) % (SELECT n FROM nn) AS peer
         |  FROM nodes, (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS k)
         |  WHERE (node * 48271 + k * 69621) % (SELECT n FROM nn) <> node),
         |r0 AS (
         |  SELECT node, node AS about, CAST(0 AS BIGINT) AS status,
         |         CAST(node % 4 AS BIGINT) AS susp,
         |         CAST(1000000 + node AS BIGINT) AS last_update
         |  FROM nodes
         |  UNION ALL
         |  SELECT node, (node + 1) % (SELECT n FROM nn), 1,
         |         (node + 3) % 5, 500000 + node
         |  FROM nodes),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")},
         |${round("r3", "r4")}
         |SELECT about,
         |       CAST(count(*) AS BIGINT) AS nodes_knowing,
         |       CAST(sum(CASE WHEN last_update >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_latest,
         |       max(susp) AS max_susp_seen
         |FROM r4 GROUP BY about ORDER BY about""".stripMargin
    })
}
