package graft.kv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** One logged operation against the versioned KV store. `seq` is the
  * deterministic replay order (the reference's ops arrive over RPC; ours
  * are an op-log, replayed per key in `seq` order).
  */
final case class KvOp(key: String, value: String, attempt: Long, seq: Long)

/** Per-key outcome of a replay. Verdict semantics clone the reference KV
  * server (srv/server.go:59-88): a Put succeeds iff its attempted version
  * equals the cell's current version (0 for a missing key), and success
  * increments the version; a put against a MISSING key with version != 0
  * is the distinct ErrNoKey (srv/server.go:74-76), not ErrVersion.
  * ErrMaybe (srv/client.go:78-83) is a lost-reply client artifact, not
  * reproducible in deterministic batch replay — see SURVEY.md §7.4;
  * modeled in tests by injecting duplicate ops.
  */
final case class KvCell(
    key: String,
    value: String,
    version: Long,
    n_ok: Long,
    n_errversion: Long,
    n_errnokey: Long)

/** The CAS step rule of the reference KV server (srv/server.go:59-88),
  * written once: a mutable fold over one key's ops in `seq` order,
  * started empty (a missing key) or from an existing cell. The batch
  * interpreter, the distributed replay and the streaming twin all step
  * ops through it.
  */
final class CasFold private (
    private var value: String,
    private var version: Long,
    private var ok: Long,
    private var errv: Long,
    private var errnk: Long) {

  def this() = this(null, 0L, 0L, 0L, 0L)

  def step(op: KvOp): Unit =
    if (op.attempt == version) {
      value = op.value; version += 1; ok += 1
    } else if (version == 0L) errnk += 1 // missing key, version != 0
    else errv += 1

  def cell(key: String): KvCell =
    KvCell(key, if (value == null) "" else value, version, ok, errv, errnk)
}

object CasFold {
  /** A fold that continues from `c` (a streaming key's live cell). */
  def from(c: KvCell): CasFold =
    new CasFold(c.value, c.version, c.n_ok, c.n_errversion, c.n_errnokey)
}

/** Versioned KV store with compare-and-swap puts, as a data operator:
  * the reference's in-memory `map[string]KVData` + CAS Put
  * (srv/server.go:21-88) becomes a deterministic per-key op-log replay.
  *
  * Scale notes: ONE shuffle, hash-partitioned on the `key` column, and a
  * sort on `seq` alone inside each partition (a single long: Spark's
  * radix path, no string comparisons). One pass over the sorted
  * partition keeps a [[CasFold]] per key it has seen, so its state is
  * O(distinct keys per partition), never O(ops). Keys partition
  * independently, so a 1000-executor run scales with key cardinality.
  * Ops with equal `seq` within a key replay in an unspecified order. The
  * unbounded-stream variant of the same fold lives in graft.streaming
  * (mapGroupsWithState).
  */
object KVStore extends graft.Catalog {

  /** The sequential reference interpreter (used by tests as the oracle
    * of the distributed replay; both step the same [[CasFold]], so the
    * porcupine-style check reduces to "distributed == sequential").
    */
  def replayKey(key: String, ops: Iterator[KvOp]): KvCell = {
    val f = new CasFold
    ops.foreach(f.step)
    f.cell(key)
  }

  /** Distributed CAS replay of an op-log Dataset: one hash exchange on
    * `key`, then each shuffle partition sorted on `seq` and replayed in
    * one pass, every op stepping its key's [[CasFold]]. A key's ops all
    * land in one partition, so the pass sees each key's whole log in
    * `seq` order. At the end of the partition it emits one [[KvCell]]
    * per key, in key order.
    */
  def replay(spark: SparkSession, ops: org.apache.spark.sql.Dataset[KvOp]): DataFrame = {
    import spark.implicits._
    ops.repartition(col("key")).sortWithinPartitions(col("seq"))
      .mapPartitions { it =>
        val folds = new java.util.HashMap[String, CasFold]()
        it.foreach(op => folds.computeIfAbsent(op.key, _ => new CasFold).step(op))
        folds.keySet.toArray(new Array[String](0)).sorted.iterator
          .map(k => folds.get(k).cell(k))
      }
      .toDF()
  }

  /** An events-shaped frame viewed as a KV op-log: key = user shard,
    * value = event id, attempted version cycles 0..3 (so both OK and
    * ErrVersion verdicts occur), seq = event_id. Shared by the batch
    * replay and the streaming twin so the two cannot drift.
    */
  def opsFrom(df: DataFrame): org.apache.spark.sql.Dataset[KvOp] = {
    import df.sparkSession.implicits._
    df.select(
      (col("user_id") % 50).cast("string").as("key"),
      col("event_id").cast("string").as("value"),
      (col("event_id") % 4).as("attempt"),
      col("event_id").as("seq")).as[KvOp]
  }

  def opsFromEvents(spark: SparkSession, d: String): org.apache.spark.sql.Dataset[KvOp] =
    opsFrom(Tables.events(spark, d))

  /** CAS replay over events. DuckDB-oracled via a recursive CTE: the
    * successful puts per key form a chain (the k-th success is the first
    * op after the (k-1)-th whose attempt equals k-1), so the sequential
    * fold IS SQL-expressible despite being stateful. Also pinned by
    * KvGossipSpec's distributed==sequential ScalaCheck properties.
    */
  def casReplay(spark: SparkSession, d: String): DataFrame =
    replay(spark, opsFromEvents(spark, d))

  /** The SQL-expressible KV view: every put accepted in seq order — final
    * value is the last write, version counts the writes (O15's Get over
    * a fully-applied log). Oracled against DuckDB arg_max.
    */
  def lastWrite(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy(($"user_id" % 50).cast("string").as("key"))
      .agg(
        max_by($"event_id".cast("string"), $"event_id").as("value"),
        count(lit(1)).as("version"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv_cas_replay" -> (casReplay _),
    "kv_last_write" -> (lastWrite _))

  val oracles: Map[String, String] = Map(
    "kv_cas_replay" ->
      """WITH RECURSIVE ops AS (
        |  SELECT CAST(user_id % 50 AS VARCHAR) AS key,
        |         CAST(event_id AS VARCHAR) AS value,
        |         event_id % 4 AS attempt, event_id AS seq
        |  FROM events),
        |chain AS (
        |  SELECT key, min(seq) AS seq, CAST(1 AS BIGINT) AS version
        |  FROM ops WHERE attempt = 0 GROUP BY key
        |  UNION ALL
        |  SELECT key, seq, version FROM (
        |    SELECT c.key, o.seq, c.version + 1 AS version,
        |           row_number() OVER (PARTITION BY c.key ORDER BY o.seq) AS rn
        |    FROM chain c JOIN ops o
        |      ON o.key = c.key AND o.seq > c.seq AND o.attempt = c.version) t
        |  WHERE rn = 1),
        |per_key AS (
        |  SELECT key, count(*) AS n_ok, min(seq) AS first_ok,
        |         max(seq) AS last_ok, max(version) AS version
        |  FROM chain GROUP BY key),
        |stats AS (
        |  SELECT o.key, count(*) AS n_all,
        |         CAST(count(CASE WHEN o.seq <
        |           coalesce(p.first_ok, 9223372036854775807) THEN 1 END)
        |           AS BIGINT) AS n_errnokey
        |  FROM ops o LEFT JOIN per_key p USING (key) GROUP BY o.key)
        |SELECT s.key,
        |       coalesce(v.value, '') AS value,
        |       coalesce(p.version, 0) AS version,
        |       coalesce(p.n_ok, 0) AS n_ok,
        |       s.n_errnokey,
        |       s.n_all - coalesce(p.n_ok, 0) - s.n_errnokey AS n_errversion
        |FROM stats s
        |LEFT JOIN per_key p USING (key)
        |LEFT JOIN ops v ON v.key = s.key AND v.seq = p.last_ok""".stripMargin,
    "kv_last_write" ->
      """SELECT CAST(user_id % 50 AS VARCHAR) AS key,
        |       arg_max(CAST(event_id AS VARCHAR), event_id) AS value,
        |       count(*) AS version
        |FROM events GROUP BY CAST(user_id % 50 AS VARCHAR)""".stripMargin)
}
