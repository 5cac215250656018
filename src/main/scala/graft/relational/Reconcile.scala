package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Snapshot reconciliation: given two versions of a table, emit exactly
  * what changed — the row-level diff a migration or replication job runs
  * to certify "copy B equals source A" (and, when it doesn't, which
  * keys to re-ship). Completes the validation story next to the
  * order-invariant whole-table checksum ([[RelExtras]] `table_checksum`):
  * the checksum says WHETHER two snapshots agree; this says WHERE.
  *
  * Snapshot B is derived from orders by a deterministic md5-keyed
  * mutation (2% deleted, 2% status-rewritten, 2% re-inserted under new
  * keys), so both engines construct the identical "remote copy" and the
  * diff output is exact.
  *
  * Two tiers, mirroring how a 100 TB reconciliation actually runs:
  *
  *  - [[partitionReconcile]]: per-partition (order month) row count +
  *    XOR fingerprint on BOTH sides, joined on the partition key, only
  *    mismatching partitions emitted. Each side is one partial+final
  *    aggregate collapsing to ~#partitions rows; the join is a
  *    broadcast of bounded cardinality. This is the cheap pass that
  *    PRUNES: at 100 TB with date-partitioned storage, only the months
  *    this pass flags proceed to the row diff — everything else is
  *    certified by fingerprint without a row-level shuffle.
  *  - [[snapshotDiff]]: full-outer join A↔B on the primary key over a
  *    per-row fingerprint, classifying added / removed / changed. This
  *    is the one unavoidable key-shuffle — run it only on the flagged
  *    partitions. Both inputs project to (key, hash) before the
  *    exchange, so the shuffle carries 16 bytes/row, not the row.
  *
  * Reference basis: none — the reference's sink is write-once text
  * (mr/worker.go:150-166); SURVEY §2.3 pipeline surface.
  */
object Reconcile extends graft.Catalog {

  /** Deterministic per-key lane in [0, 50): md5 of the key, first 60
    * bits, mod 50. Same expression text in the oracle.
    */
  private def lane(key: String): Column =
    expr(s"conv(substring(md5(cast($key AS string)), 1, 15), 16, 10)")
      .cast("long") % 50

  /** Row fingerprint over every orders column. Doubles and timestamps
    * are fingerprinted through EXACT integers (cents; epoch micros) —
    * never engine-native string rendering, which Java 17 and DuckDB do
    * NOT agree on for doubles (shortest-digits vs Ryu differ on some
    * values, and scientific-notation thresholds differ).
    */
  private val rowFp: Column =
    expr("""conv(substring(md5(concat_ws('|',
      | o_orderkey, o_custkey, o_orderstatus,
      | CAST(round(o_totalprice * 100, 0) AS BIGINT),
      | unix_micros(o_orderdate), o_orderpriority)), 1, 15), 16, 10)"""
      .stripMargin).cast("long")

  /** Snapshot A = orders as shipped, o_orderdate normalized to a plain
    * TimestampType instant (the fixture stores TIMESTAMP_NTZ; sessions
    * are pinned UTC, so micros are identical — the same normalization
    * Tables.events applies, without which `unix_micros` fails analysis).
    */
  private def snapA(spark: SparkSession, d: String): DataFrame =
    Tables.normalizeTs(Tables.orders(spark, d), "o_orderdate")

  /** Snapshot B = the mutated remote copy: lane 0 deleted, lane 1's
    * status rewritten to 'X', lane 2 additionally re-inserted with key
    * + 10^9 (an insert under a fresh key). One scan, no shuffle — the
    * union's branches are both narrow maps over the same parquet scan.
    */
  private def snapB(spark: SparkSession, d: String): DataFrame = {
    val o = snapA(spark, d).withColumn("_lane", lane("o_orderkey"))
    val kept = o.filter(col("_lane") =!= 0L)
      .withColumn("o_orderstatus",
        when(col("_lane") === 1L, lit("X")).otherwise(col("o_orderstatus")))
    val inserted = o.filter(col("_lane") === 2L)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
    kept.unionByName(inserted).drop("_lane")
  }

  /** Tier 2 — the row diff: (o_orderkey, change) for every key whose
    * presence or fingerprint differs; 'changed' rows land once.
    */
  def snapshotDiff(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val a = snapA(spark, d).select($"o_orderkey".as("ka"), rowFp.as("ha"))
    val b = snapB(spark, d).select($"o_orderkey".as("kb"), rowFp.as("hb"))
    a.join(b, $"ka" === $"kb", "full_outer")
      .select(
        coalesce($"ka", $"kb").as("o_orderkey"),
        when($"kb".isNull, "removed")
          .when($"ka".isNull, "added")
          .when($"ha" =!= $"hb", "changed")
          .otherwise("same").as("change"))
      .filter($"change" =!= "same")
  }

  /** Tier 1 — the partition fingerprint compare: order month → (rows,
    * XOR of row fingerprints) on each side; emit only months where
    * either differs. At scale this output IS the work list for tier 2.
    */
  def partitionReconcile(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def fold(df: DataFrame, side: String): DataFrame =
      df.withColumn("month", date_format($"o_orderdate", "yyyy-MM"))
        .withColumn("h", rowFp)
        .groupBy($"month")
        .agg(count(lit(1)).as(s"${side}_rows"),
          expr("bit_xor(h)").as(s"${side}_fp"))
    fold(snapA(spark, d), "a")
      .join(fold(snapB(spark, d), "b"), Seq("month"), "full_outer")
      .filter($"a_rows".isNull || $"b_rows".isNull ||
        $"a_rows" =!= $"b_rows" || $"a_fp" =!= $"b_fp")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "snapshot_diff" -> (snapshotDiff _),
    "partition_reconcile" -> (partitionReconcile _))

  /** The DuckDB fingerprint twin: identical column list, identical
    * integerization (cents, epoch micros), identical separator.
    */
  private val fpSqlCols = Seq(
    "CAST(o_orderkey AS VARCHAR)", "CAST(o_custkey AS VARCHAR)",
    "o_orderstatus",
    "CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)",
    "CAST(epoch_us(o_orderdate) AS VARCHAR)", "o_orderpriority")
    .mkString(" || '|' || ")

  private val snapSql =
    s"""a AS (SELECT * FROM orders),
       |lanes AS (
       |  SELECT *, CAST(CONCAT('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 50 AS _lane
       |  FROM a),
       |b AS (
       |  SELECT o_orderkey, o_custkey,
       |    CASE WHEN _lane = 1 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       |    o_totalprice, o_orderdate, o_orderpriority
       |  FROM lanes WHERE _lane <> 0
       |  UNION ALL
       |  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
       |    o_totalprice, o_orderdate, o_orderpriority
       |  FROM lanes WHERE _lane = 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "snapshot_diff" ->
      s"""WITH $snapSql,
         |ah AS (SELECT o_orderkey AS ka,
         |  CAST(CONCAT('0x', substr(md5($fpSqlCols), 1, 15)) AS BIGINT) AS ha FROM a),
         |bh AS (SELECT o_orderkey AS kb,
         |  CAST(CONCAT('0x', substr(md5($fpSqlCols), 1, 15)) AS BIGINT) AS hb FROM b)
         |SELECT coalesce(ka, kb) AS o_orderkey,
         |  CASE WHEN kb IS NULL THEN 'removed'
         |       WHEN ka IS NULL THEN 'added'
         |       WHEN ha <> hb THEN 'changed'
         |       ELSE 'same' END AS change
         |FROM ah FULL OUTER JOIN bh ON ka = kb
         |WHERE (CASE WHEN kb IS NULL THEN 'removed'
         |            WHEN ka IS NULL THEN 'added'
         |            WHEN ha <> hb THEN 'changed'
         |            ELSE 'same' END) <> 'same'""".stripMargin,
    "partition_reconcile" ->
      s"""WITH $snapSql,
         |af AS (
         |  SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS a_rows,
         |    bit_xor(CAST(CONCAT('0x', substr(md5($fpSqlCols), 1, 15)) AS BIGINT)) AS a_fp
         |  FROM a GROUP BY 1),
         |bf AS (
         |  SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS b_rows,
         |    bit_xor(CAST(CONCAT('0x', substr(md5($fpSqlCols), 1, 15)) AS BIGINT)) AS b_fp
         |  FROM b GROUP BY 1)
         |SELECT coalesce(af.month, bf.month) AS month, a_rows, a_fp, b_rows, b_fp
         |FROM af FULL OUTER JOIN bf ON af.month = bf.month
         |WHERE a_rows IS NULL OR b_rows IS NULL
         |   OR a_rows <> b_rows OR a_fp <> b_fp""".stripMargin)
}
