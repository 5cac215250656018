package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Receipt for SURVEY §8's "AQE for runtime skew-join splitting" claim
  * — the complement to the hand-salted join ([[relational.Skew]]), until
  * r13 a conf-page citation with no artifact showing OptimizeSkewedJoin
  * actually firing.
  *
  * Two arms over the SAME deliberately hot-keyed join (70% of orders
  * re-keyed to one customer, the [[relational.Skew.skewSaltedJoin]]
  * scenario):
  *
  *  - `aqe` arm: the UNSALTED join, shuffle-join forced (broadcast
  *    disabled both at planning and at AQE runtime — a broadcast join
  *    has no skewed shuffle partition to split), AQE skew-join enabled.
  *    After execution the FINAL adaptive plan is walked for
  *    [[AQEShuffleReadExec]] skew metrics: `numSkewedPartitions` /
  *    `numSkewedSplits` > 0 is the proof the optimizer detected and
  *    split the hot partition at runtime.
  *  - `salted` arm: [[relational.Skew.skewSaltedJoin]], the portable
  *    fallback for layouts AQE must preserve.
  *
  * Both arms must return the IDENTICAL result (long-cents sums — exact
  * under any execution order), and the AQE arm's wall must stay within
  * budget of the salted arm's: runtime splitting is only a real
  * mitigation if it performs like the hand-written one.
  *
  * Thresholds: a partition is split when its bytes exceed
  * max(skewedPartitionThresholdInBytes, factor × median). The rehearsal
  * pins threshold=32m, advisory=16m, factor=2 — the hot partition at the
  * 100× corpus carries ~70% of the fact shuffle (hundreds of MB), the
  * median partition a few MB, so detection does not sit on a knife edge;
  * the conf is recorded in the artifact.
  */
object AqeSkewRehearsal {

  /** Sum of the named skew metric over every AQEShuffleRead in the
    * FINAL (post-execution) adaptive plan. Descends through adaptive
    * roots and query-stage LEAVES; does NOT look inside subquery
    * expressions (`plan.subqueries` is private[sql]) — fine for the
    * receipt's top-level join, a stated limit of the helper.
    */
  def skewMetric(plan: SparkPlan, metric: String): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // query stages are LEAF nodes wrapping their materialized subplan
      // — a plain children walk would never descend into them
      case q: QueryStageExec => walk(q.plan)
      case r: AQEShuffleReadExec =>
        r.metrics.get(metric).map(_.value).getOrElse(0L) +
          r.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(plan)
  }

  /** The unsalted hot-key join twin of skewSaltedJoin: same fact
    * re-keying, same dim columns, same aggregate — no salt anywhere.
    * `merge` hint keeps the per-partition algorithm sort-merge (the
    * skew-splittable shape); the broadcast path is closed by conf.
    */
  def unsaltedHotJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val fact = Tables.orders(spark, d).select(
      when($"o_orderkey" % 10 < 7, lit(1L)).otherwise($"o_custkey").as("ck"),
      relational.RelQueries.gridScale($"o_totalprice", 100L).as("cents"))
    val dim = Tables.customer(spark, d).hint("merge")
      .select($"c_custkey", $"c_mktsegment")
    fact.join(dim, $"ck" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val master = GraftSession.master(s"local[${GraftSession.cpus("32")}]")
    val spark = GraftSession(master, GraftSession.shufflePartitions("64"),
      // close every broadcast path: a runtime broadcast conversion would
      // dissolve the skewed shuffle this rehearsal exists to observe
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")
    import spark.implicits._

    def run(df: DataFrame): (Seq[(String, Long, Long)], Double, SparkPlan) = {
      // probe the plan of the EXACT Dataset collected — orderBy and
      // as[...] each wrap a fresh QueryExecution, and a never-run
      // adaptive plan reads all-zero metrics (isFinalPlan=false)
      val sorted = df.orderBy($"c_mktsegment").as[(String, Long, Long)]
      val t0 = System.nanoTime()
      val rows = sorted.collect().toSeq
      ((rows, (System.nanoTime() - t0) / 1e9,
        sorted.queryExecution.executedPlan))
    }

    // JIT/scan warmup on the dim side only — cheap, join-shape-neutral
    Tables.customer(spark, sfDir).count()

    val aqeDf = unsaltedHotJoin(spark, sfDir)
    val (aqeRows, aqeSec, aqePlan) = run(aqeDf)
    val skewedParts = skewMetric(aqePlan, "numSkewedPartitions")
    val skewedSplits = skewMetric(aqePlan, "numSkewedSplits")
    val planStr = aqePlan.toString

    val saltedDf = relational.Skew.skewSaltedJoin(spark, sfDir)
      .select($"c_mktsegment", $"n",
        round(col("sum_price") * 100).cast("long").as("cents_sum"))
    val (saltedRows, saltedSec, _) = run(saltedDf)

    val resultMatch = aqeRows == saltedRows
    require(resultMatch,
      s"AQE and salted arms diverged:\n  aqe=$aqeRows\n  salted=$saltedRows")
    require(skewedSplits > 0 && skewedParts > 0,
      s"OptimizeSkewedJoin did not fire (partitions=$skewedParts " +
        s"splits=$skewedSplits) — plan:\n$planStr")
    require(planStr.contains("skew=true"),
      s"final adaptive plan carries no skew=true join node:\n$planStr")
    val budget = 2.0
    require(aqeSec <= saltedSec * budget,
      f"AQE arm $aqeSec%.1fs exceeds $budget× the salted arm's $saltedSec%.1fs")

    val json =
      s"""{"sf":"$sfDir","master":"$master",""" +
        s""""env":${Bench.envJson(Bench.machineStamp())},""" +
        s""""conf":{"skewedPartitionThresholdInBytes":"32m",""" +
        s""""skewedPartitionFactor":2,"advisoryPartitionSizeInBytes":"16m",""" +
        s""""autoBroadcastJoinThreshold":-1},""" +
        s""""skewed_partitions":$skewedParts,"skewed_splits":$skewedSplits,""" +
        s""""plan_has_skew_true":${planStr.contains("skew=true")},""" +
        s""""aqe_sec":${math.round(aqeSec * 1000) / 1000.0},""" +
        s""""salted_sec":${math.round(saltedSec * 1000) / 1000.0},""" +
        s""""result_match":$resultMatch,"rows":${aqeRows.size}}"""
    Files.write(Paths.get(outFile), (json + "\n").getBytes("UTF-8"))
    println(s"AQESKEW skewedPartitions=$skewedParts skewedSplits=$skewedSplits " +
      f"aqe=$aqeSec%.2fs salted=$saltedSec%.2fs match=$resultMatch")
    spark.stop()
  }
}
