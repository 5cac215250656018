package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Bloom-filter semi-join pruning as pure dataflow — the runtime-filter
  * pattern (Bloom '70; Spark's own AQE
  * `spark.sql.optimizer.runtime.bloomFilter.enabled` plants the same
  * structure automatically): build a compact bit-set from the SELECTIVE
  * side of a join, broadcast it, and discard probe rows before the real
  * join ever shuffles them. At 100 TB this is the difference between
  * shuffling the full fact table and shuffling the ~20% that can match.
  *
  * Like the catalog's CMS/HLL dataflow twins
  * ([[graft.text.HeavyHitters]]), the sketch is expressed as relational
  * dataflow DuckDB replays bit for bit: m = 16384 bits packed 32 to a
  * BIGINT word (512-row filter table — broadcastable at ANY build-side
  * cardinality), k = 3 probes sliced from ONE md5 per key (three 16-bit
  * hex windows mod m — one hash computation, not three). Build = one
  * distinct + one 512-group bit_or aggregate; probe = one distinct,
  * a 3-row explode, a broadcast join against the filter words, and a
  * per-key bool_and. The verdict stream then joins the true build set
  * once more to MEASURE the false-positive rate — the part a production
  * run samples; here it is exact, so the output certifies both the
  * pruning power (rows passed) and the theory (FP ratio at the
  * achieved load factor).
  *
  * Output: one row — build keys, probe keys, bloom-passed, true
  * positives, false positives, and the FP rate in exact per-mille.
  *
  * Reference basis: none (the reference joins nothing); SURVEY §2.3
  * join surface, the scale lever next to [[Skew]]'s salting.
  */
object BloomPrune extends graft.Catalog {

  private val M = 16384L // bits
  private val W = 32L // bits per packed word → 512 words

  /** The filter: orders flagged urgent — the selective dimension-side
    * predicate whose matching keys the fact scan should be pruned to.
    */
  def bloomPrune(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // materialized once: the bloom construction AND the FP-accounting
    // join both consume the distinct build keys; without the checkpoint
    // Spark plans the orders scan + distinct twice (verified in the
    // executed plan — PlanBudgetSpec pins the fixed shape)
    val build = Tables.orders(spark, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey".as("_k")).distinct()
      .transform(graft.Ckpt.cut)
    val probe = Tables.lineitem(spark, d)
      .select($"l_orderkey".as("_k")).distinct()

    def posCols(df: DataFrame): DataFrame = df
      .withColumn("p", expr(
        s"""array(
           | CAST(conv(substring(md5(cast(_k AS string)), 1, 4), 16, 10) AS BIGINT) % $M,
           | CAST(conv(substring(md5(cast(_k AS string)), 5, 4), 16, 10) AS BIGINT) % $M,
           | CAST(conv(substring(md5(cast(_k AS string)), 9, 4), 16, 10) AS BIGINT) % $M)"""
          .stripMargin))
      .select($"_k", explode($"p").as("pos"))
      .select($"_k", expr(s"pos div $W").as("word"),
        expr(s"shiftleft(1L, CAST(pos % $W AS INT))").as("mask"))

    // 512-row packed filter — bounded regardless of build cardinality.
    // r13: the packed words are pulled to the driver (512 longs — the
    // filter is SIZED to be held whole; this is the guide's manual
    // bloom-filter shape, build-then-broadcast) and re-enter the probe
    // side as ONE array literal, so the probe pass is a single narrow
    // projection: no 3-way position explode, no filter join, no
    // re-group of 3x the probe keys. Bit arithmetic is unchanged, so
    // pass/fail per key — and the oracle hash — are identical.
    val bloom = posCols(build)
      .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
    val words = new Array[Long]((M / W).toInt)
    val wordRows = bloom.collect()
    // the size bound, asserted where the collect happens (r13 verdict
    // item 5): word ids are idx div W of idx < M by construction, so
    // more than M/W rows means the build side broke its own grid
    require(wordRows.length <= (M / W).toInt,
      s"bloom word table ${wordRows.length} rows exceeds M/W = ${M / W}")
    wordRows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    val wordsLit = typedlit(words.toSeq)

    def bitSet(off: Int): Column = expr(
      s"""(element_at(ws, CAST((CAST(conv(substring(h, $off, 4), 16, 10) AS BIGINT) % $M) div $W AS INT) + 1)
         | & shiftleft(1L, CAST((CAST(conv(substring(h, $off, 4), 16, 10) AS BIGINT) % $M) % $W AS INT))) != 0L"""
        .stripMargin)
    val passed = probe
      .withColumn("h", md5($"_k".cast("string")))
      .withColumn("ws", wordsLit)
      .withColumn("pass", bitSet(1) && bitSet(5) && bitSet(9))
      .select($"_k", $"pass")

    // exact FP accounting: bloom-pass ∧ not-in-build = false positive
    val verdict = passed
      .join(build.withColumn("in_build", lit(1L)), Seq("_k"), "left")
      .select($"pass", coalesce($"in_build", lit(0L)).as("tp"))
    verdict.agg(
      count(lit(1)).as("n_probe"),
      sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
      sum($"tp").as("n_build_hit"),
      sum(when($"pass" && $"tp" === 0L, 1L).otherwise(0L)).as("n_false_pos"))
      .select(
        $"n_probe", $"n_pass", $"n_build_hit", $"n_false_pos",
        expr("(n_false_pos * 1000) div greatest(n_probe - n_build_hit, 1)")
          .as("fp_permille"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_prune" -> (bloomPrune _))

  private val posSql = (tbl: String) =>
    s"""SELECT _k, pos // $W AS word, 1::BIGINT << CAST(pos % $W AS INT) AS mask
       |FROM (
       |  SELECT _k, unnest([
       |    CAST(CONCAT('0x', substr(md5(CAST(_k AS VARCHAR)), 1, 4)) AS BIGINT) % $M,
       |    CAST(CONCAT('0x', substr(md5(CAST(_k AS VARCHAR)), 5, 4)) AS BIGINT) % $M,
       |    CAST(CONCAT('0x', substr(md5(CAST(_k AS VARCHAR)), 9, 4)) AS BIGINT) % $M]) AS pos
       |  FROM $tbl)""".stripMargin

  val oracles: Map[String, String] = Map(
    "bloom_prune" ->
      s"""WITH build AS (
         |  SELECT DISTINCT o_orderkey AS _k FROM orders
         |  WHERE o_orderpriority = '1-URGENT'),
         |probe AS (SELECT DISTINCT l_orderkey AS _k FROM lineitem),
         |bloom AS (
         |  SELECT word, bit_or(mask) AS bits
         |  FROM (${posSql("build")}) GROUP BY word),
         |passed AS (
         |  SELECT p._k, bool_and(coalesce((b.bits & p.mask) <> 0, false)) AS pass
         |  FROM (${posSql("probe")}) p LEFT JOIN bloom b USING (word)
         |  GROUP BY p._k),
         |verdict AS (
         |  SELECT pass, CASE WHEN build._k IS NULL THEN 0 ELSE 1 END AS tp
         |  FROM passed LEFT JOIN build USING (_k))
         |SELECT count(*) AS n_probe,
         |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(tp) AS BIGINT) AS n_build_hit,
         |  CAST(sum(CASE WHEN pass AND tp = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos,
         |  CAST((sum(CASE WHEN pass AND tp = 0 THEN 1 ELSE 0 END) * 1000)
         |    // greatest(count(*) - sum(tp), 1) AS BIGINT) AS fp_permille
         |FROM verdict""".stripMargin)
}
