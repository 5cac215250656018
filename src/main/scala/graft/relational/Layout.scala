package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multi-dimensional data layout: Z-order (Morton) clustering keys.
  *
  * THE 100 TB lever this file exists for: parquet prunes row groups by
  * min/max stats, but a table sorted on one column only prunes
  * predicates on THAT column. Interleaving the bits of two key columns
  * into one sort key clusters rows so that a range predicate on EITHER
  * dimension maps to a bounded set of Z-ranges — both predicates prune,
  * from one physical order (Morton '66; the technique behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`). LayoutSpec proves the effect:
  * the same selective predicate scans a fraction of the row groups of a
  * Z-clustered file vs one sorted by the other dimension.
  *
  * The key is PURE integer bit arithmetic (shift/and/add), exact and
  * engine-independent — the DuckDB oracle replays it term for term —
  * and codegen-friendly: 32 fused scalar terms, no UDF.
  *
  * Reference basis: the reference has no layout tier at all (its inputs
  * are whole text files, mr/worker.go:57-64); this is part of the
  * source-layer surface a warehouse-scale engine adds (SURVEY §2.3 file
  * formats).
  */
object Layout extends graft.Catalog {

  /** Interleave the low 16 bits of `a` (even positions) and `b` (odd
    * positions) into a 32-bit Morton key. Inputs must be pre-normalized
    * to [0, 2^16); the caller owns range reduction (cast/offset), the
    * same contract as any Z-order implementation.
    */
  def zInterleave16(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Days since the orders fixture epoch — the date dimension of the
    * (customer, time) Z-key, small enough for 16 bits.
    */
  private val OrdersEpoch = "1995-01-01"

  /** Z-key per order over (o_custkey, order day): the clustering key a
    * 100 TB orders table would be OPTIMIZE'd on so both per-customer
    * and per-date-range scans prune. Emitted per row (o_orderkey, zval)
    * so the oracle replays every interleave exactly.
    */
  def zorderOrders(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // range reduction the zInterleave16 contract demands: keys wrap at
    // 2^16 (a documented aliasing trade at larger key ranges — a
    // production table would bucket or bit-widen instead of wrap; the
    // mask keeps the key total and the oracle exact at ANY sf/epoch,
    // where an unmasked cast would silently alias only ABOVE 2^16)
    Tables.orders(spark, d)
      .select($"o_orderkey",
        zInterleave16(
          $"o_custkey".cast("long").bitwiseAND(lit(65535L)),
          datediff(to_date($"o_orderdate"), lit(OrdersEpoch)).cast("long")
            .bitwiseAND(lit(65535L)))
          .as("zval"))
  }

  /** Hilbert-curve clustering key — the layout tier's locality upgrade
    * over [[zInterleave16]]: Z-order's bit interleave takes diagonal
    * jumps at power-of-two boundaries (consecutive keys can be far
    * apart in space, so a spatial range splits into more key ranges);
    * the Hilbert curve's consecutive keys are ALWAYS grid neighbors
    * (unit Manhattan step — proven exhaustively over the full 256×256
    * grid in LayoutSpec), which is why Iceberg/Delta offer it above
    * Z-order for multi-dimensional clustering.
    *
    * The classic xy→d walk (8 iterations for 8-bit coordinates) is a
    * loop with a quadrant rotation per level; both engines run the SAME
    * unrolled step chain, generated from one template below. The
    * rotation's XOR collapses to pure integer CASE arithmetic
    * ((3·rx)^ry = ry when rx=0 else 3−ry, for bits), so every step is
    * exact BIGINT and codegen-friendly — no UDF, no floating point.
    */
  private val HilbertSteps = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)

  /** One unrolled step: (x, y, d) → next, at side length s. `cols` are
    * the carried passenger columns. Shared verbatim by the Spark
    * selectExpr chain and the DuckDB nested-select chain.
    */
  private def hilbertStepExprs(s: Long): (Seq[String], Seq[String]) = (
    Seq(
      s"CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx",
      s"CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry"),
    Seq(
      // rotation flips against the FULL grid (255 = n−1, not s−1): the
      // coordinates then stay in [0, 255] at every level — no negative
      // intermediates, so no reliance on cross-engine negative-bitwise
      // parity (both variants verified bijective; this one is safer)
      s"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN 255 - y ELSE y END ELSE x END AS x",
      s"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN 255 - x ELSE x END ELSE y END AS y",
      s"d + ${s * s} * (CASE WHEN rx = 0 THEN ry ELSE 3 - ry END) AS d"))

  /** Apply the unrolled Hilbert walk to a frame with BIGINT `x`, `y` in
    * [0, 256) and passenger columns `keep`; yields `keep` + `d`.
    */
  def hilbertD(df: DataFrame, keep: Seq[String]): DataFrame =
    HilbertSteps.foldLeft(
      df.selectExpr((keep ++ Seq("x", "y", "CAST(0 AS BIGINT) AS d")): _*)) {
      (acc, s) =>
        val (bits, next) = hilbertStepExprs(s)
        acc.selectExpr((keep ++ Seq("x", "y", "d") ++ bits): _*)
          .selectExpr((keep ++ next): _*)
    }

  /** Hilbert key per order over the same (customer, day) dimensions as
    * [[zorderOrders]] (8 bits each — the demo grid; production widens
    * the walk, same template).
    */
  def hilbertOrders(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    hilbertD(
      Tables.orders(spark, d).select(
        $"o_orderkey",
        $"o_custkey".cast("long").bitwiseAND(lit(255L)).as("x"),
        datediff(to_date($"o_orderdate"), lit(OrdersEpoch)).cast("long")
          .bitwiseAND(lit(255L)).as("y")),
      Seq("o_orderkey"))
      .selectExpr("o_orderkey", "d AS hval")
  }

  /** First-fit-decreasing compaction planner over the monthly order
    * partitions — the small-file / partition-compaction decision a
    * table-maintenance job makes (Iceberg/Delta `rewriteDataFiles`
    * planning), expressed as a DETERMINISTIC in-engine fold instead of
    * driver code: partition sizes (row counts as the size proxy) sort
    * descending and first-fit into bins of capacity
    * max(largest partition, ⌈total/6⌉); output is every partition's
    * bin assignment plus the bin load. FFD is the classic 11/9·OPT+1
    * bin-packing approximation (Johnson 1973).
    *
    * The fold is inherently sequential, so it runs INSIDE one row over
    * the calendar-bounded sorted array (the
    * [[graft.relational.TimeSeries.tsHoltForecast]] shape) with state
    * (bins, assignments) — `array_position(transform(bins, …), true)`
    * IS first-fit; the DuckDB twin replays the identical recursion as
    * a recursive CTE with list slicing. All integers; the fold order
    * (size desc, month asc) is a total order, so both engines build
    * byte-identical plans.
    */
  def compactionPlan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sizes = Tables.orders(spark, d)
      .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate"))
        .cast("long").as("m"))
      .agg(count(lit(1)).as("s"))
      .transform(graft.Ckpt.cut) // calendar-bounded; fold + join-back consumers
    val cap = sizes.agg(
      greatest(max($"s"), expr("(sum(s) + 5) div 6")).as("cap"))
    val asg = sizes
      .agg(sort_array(collect_list(struct((-$"s").as("ns"), $"m", $"s")))
        .as("items"))
      .crossJoin(broadcast(cap))
      .select($"cap", expr(
        """aggregate(
          |  items,
          |  named_struct(
          |    'bins', CAST(array() AS array<bigint>),
          |    'asg', CAST(array() AS array<struct<m: bigint, b: bigint>>)),
          |  (acc, x) -> IF(
          |    array_position(transform(acc.bins, bb -> bb + x.s <= cap),
          |                   true) > 0,
          |    named_struct(
          |      'bins', transform(acc.bins, (bb, i) ->
          |        IF(CAST(i AS BIGINT) + 1L =
          |             array_position(transform(acc.bins,
          |               b2 -> b2 + x.s <= cap), true),
          |           bb + x.s, bb)),
          |      'asg', array_append(acc.asg, named_struct('m', x.m,
          |        'b', array_position(transform(acc.bins,
          |               b2 -> b2 + x.s <= cap), true) - 1L))),
          |    named_struct(
          |      'bins', array_append(acc.bins, x.s),
          |      'asg', array_append(acc.asg, named_struct('m', x.m,
          |        'b', CAST(size(acc.bins) AS BIGINT))))))""".stripMargin)
        .as("st"))
      .select($"cap", explode($"st.asg").as("a"))
      .select($"a.m".as("m"), $"a.b".as("bin"), $"cap")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"bin")
    asg.join(sizes, "m")
      .withColumn("bin_load", sum($"s").over(w))
      .select($"m", $"s", $"bin", $"bin_load", $"cap")
  }

  private def compactionOracle: String = {
    // DuckDB cannot reference the recursive table inside a subquery
    // (the pagerank-oracle limitation), so the first-fit position is
    // INLINED at every use site instead of named once
    val pos =
      "list_position(list_transform(r.bins, bb -> bb + it.s <= c.cap), true)"
    s"""WITH RECURSIVE sizes AS MATERIALIZED (
      |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |           AS m,
      |    CAST(count(*) AS BIGINT) AS s
      |  FROM orders GROUP BY 1),
      |cap AS (SELECT CAST(greatest(max(s), (sum(s) + 5) // 6) AS BIGINT)
      |          AS cap FROM sizes),
      |items AS MATERIALIZED (
      |  SELECT m, s, row_number() OVER (ORDER BY s DESC, m ASC) AS rn
      |  FROM sizes),
      |rec AS (
      |  SELECT 0 AS i, CAST([] AS BIGINT[]) AS bins,
      |    CAST([] AS STRUCT(m BIGINT, b BIGINT)[]) AS asg
      |  UNION ALL
      |  SELECT r.i + 1,
      |    CASE WHEN coalesce($pos, 0) > 0
      |      THEN r.bins[1:CAST($pos AS INT) - 1]
      |           || [r.bins[CAST($pos AS INT)] + it.s]
      |           || r.bins[CAST($pos AS INT) + 1:]
      |      ELSE list_append(r.bins, it.s) END,
      |    CASE WHEN coalesce($pos, 0) > 0
      |      THEN list_append(r.asg,
      |        struct_pack(m := it.m, b := CAST($pos - 1 AS BIGINT)))
      |      ELSE list_append(r.asg,
      |        struct_pack(m := it.m, b := CAST(len(r.bins) AS BIGINT))) END
      |  FROM rec r JOIN items it ON it.rn = r.i + 1 CROSS JOIN cap c),
      |fin AS (
      |  SELECT asg FROM rec WHERE i = (SELECT max(rn) FROM items)),
      |flat AS (SELECT unnest(asg) AS a FROM fin),
      |plan AS (
      |  SELECT (a).m AS m, (a).b AS bin FROM flat)
      |SELECT p.m AS m, sz.s AS s, p.bin AS bin,
      |  CAST(sum(sz.s) OVER (PARTITION BY p.bin) AS BIGINT) AS bin_load,
      |  (SELECT cap FROM cap) AS cap
      |FROM plan p JOIN sizes sz ON sz.m = p.m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compaction_plan" -> (compactionPlan _),
    "zorder_orders" -> (zorderOrders _),
    "hilbert_orders" -> (hilbertOrders _))

  /** The DuckDB twin generates the same 32 interleave terms. */
  private val zTermsSql: String =
    (0 until 16).map { i =>
      s"(((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** The DuckDB twin walks the IDENTICAL unrolled steps as nested
    * selects — same template, same arithmetic, per level.
    */
  private def hilbertOracleSql: String = {
    val base =
      s"""SELECT o_orderkey,
         |  o_custkey & 255 AS x,
         |  datediff('day', DATE '$OrdersEpoch', CAST(o_orderdate AS DATE)) & 255 AS y,
         |  CAST(0 AS BIGINT) AS d
         |FROM orders""".stripMargin
    val walked = HilbertSteps.foldLeft(base) { (acc, s) =>
      val (bits, next) = hilbertStepExprs(s)
      s"""SELECT o_orderkey, ${next.mkString(", ")}
         |FROM (SELECT o_orderkey, x, y, d, ${bits.mkString(", ")}
         |      FROM ($acc))""".stripMargin
    }
    s"SELECT o_orderkey, CAST(d AS BIGINT) AS hval FROM ($walked)"
  }

  val oracles: Map[String, String] = Map(
    "compaction_plan" -> compactionOracle,
    "zorder_orders" ->
      s"""SELECT o_orderkey, $zTermsSql AS zval
         |FROM (
         |  SELECT o_orderkey, o_custkey & 65535 AS a,
         |         datediff('day', DATE '$OrdersEpoch', CAST(o_orderdate AS DATE)) & 65535 AS b
         |  FROM orders) t""".stripMargin,
    "hilbert_orders" -> hilbertOracleSql)
}
