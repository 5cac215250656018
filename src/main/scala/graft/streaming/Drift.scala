package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mixture-drift monitor over the event stream: per 6-hour tumbling
  * window, the event-type distribution against the fitted corpus
  * baseline — share per type in exact parts-per-million and the
  * absolute drift. The alerting table a pipeline thresholds to catch
  * upstream mix shifts (a client release that doubles `error`, a bot
  * wave inflating `click`) before they poison downstream training
  * slices; the streaming twin is the live monitor, the batch twin the
  * backfill/oracle surface — the catalog's established twin discipline
  * ([[EventStreams]]).
  *
  * Reference basis: none (SURVEY.md §2.3 — no streaming in the
  * reference); the drift tier above [[graft.relational.StatAudit]]'s
  * batch chi-square.
  *
  * Shape: the event-type domain is CLOSED ([[Types]]), so the windowed
  * distribution is ONE conditional-count aggregate row per window —
  * no two-level aggregation, which is what makes the identical plan
  * legal under streaming semantics (group on the event-time window,
  * shares row-wise after). Exactly one data-scale exchange; everything
  * after is per-window integer arithmetic (shares by truncating BIGINT
  * division — the Spark `div` / DuckDB `//` pair proven identical by
  * the k-anonymity banding) and a 5-row broadcast baseline join. State
  * per streaming window is ONE row of [[Types]] counters, evicted by
  * the watermark.
  */
object Drift extends graft.Catalog {

  val Types = Seq("click", "error", "purchase", "signup", "view")
  val WindowSecs = 21600L // 6 hours
  val Ppm = 1000000L

  private def nCol(i: Int, t: String): Column =
    sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n$i")

  /** Row-wise finishing shared by both twins: unpivot the per-window
    * counter row, attach shares and the baseline drift.
    */
  private def finish(g: DataFrame, baseline: DataFrame): DataFrame = {
    val nb = Types.indices.map(i => col(s"n$i")).reduce(_ + _)
    val stackArgs = Types.zipWithIndex
      .map { case (t, i) => s"'$t', n$i" }.mkString(", ")
    g.withColumn("n_b", nb)
      .selectExpr("wstart_s", "n_b",
        s"stack(${Types.length}, $stackArgs) AS (event_type, n)")
      .join(broadcast(baseline), "event_type")
      .selectExpr("wstart_s", "event_type", "n",
        s"(n * $Ppm) div n_b AS share_e6",
        "gshare_e6",
        s"abs((n * $Ppm) div n_b - gshare_e6) AS drift_e6")
  }

  /** Fitted baseline: global type shares in ppm, 5 rows. */
  def baselineOf(spark: SparkSession, d: String): DataFrame = {
    val ev = EventStreams.readEventsBatch(spark, s"$d/events.parquet")
    val aggs = Types.zipWithIndex.map { case (t, i) => nCol(i, t) }
    val stackArgs = Types.zipWithIndex
      .map { case (t, i) => s"'$t', (n$i * $Ppm) div n_tot" }.mkString(", ")
    ev.agg(count(lit(1)).as("n_tot"), aggs: _*)
      .selectExpr(
        s"stack(${Types.length}, $stackArgs) AS (event_type, gshare_e6)")
  }

  def driftBatch(spark: SparkSession, d: String): DataFrame = {
    val ev = EventStreams.readEventsBatch(spark, s"$d/events.parquet")
    val aggs = Types.zipWithIndex.map { case (t, i) => nCol(i, t) }
    val g = ev.groupBy(window(col("ts"), s"$WindowSecs seconds"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("wstart_s", expr("unix_micros(window.start)") / Ppm)
      .withColumn("wstart_s", col("wstart_s").cast("long"))
    finish(g, baselineOf(spark, d))
  }

  /** Streaming twin: same windowed conditional-count aggregate under a
    * 1-hour watermark; the baseline arrives as a static 5-row frame
    * (a drift monitor always compares against an OFFLINE-fitted
    * reference — refitting the baseline on the stream would make every
    * drift self-absorbing).
    */
  def driftStream(events: DataFrame, baseline: DataFrame): DataFrame = {
    val aggs = Types.zipWithIndex.map { case (t, i) => nCol(i, t) }
    val g = events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), s"$WindowSecs seconds"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("wstart_s",
        (expr("unix_micros(window.start)") / Ppm).cast("long"))
    finish(g, baseline)
  }

  private def driftOracle: String = {
    val nDefs = Types.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n$i"
    }.mkString(",\n       |    ")
    val nbSum = Types.indices.map(i => s"n$i").mkString(" + ")
    val stackLegs = Types.zipWithIndex.map { case (t, i) =>
      s"""SELECT b * $WindowSecs AS wstart_s, '$t' AS event_type,
         |       n$i AS n, $nbSum AS n_b FROM g""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val baseLegs = Types.zipWithIndex.map { case (t, i) =>
      s"SELECT '$t' AS event_type, (n$i * $Ppm) // n_tot AS gshare_e6 FROM tot"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ev AS (
       |  SELECT epoch_us(ts) // ${WindowSecs * Ppm} AS b, event_type
       |  FROM events),
       |g AS (
       |  SELECT b,
       |    $nDefs
       |  FROM ev GROUP BY b),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_tot,
       |    $nDefs
       |  FROM ev),
       |stacked AS (
       |  $stackLegs),
       |base AS (
       |  $baseLegs)
       |SELECT wstart_s, event_type, n,
       |  (n * $Ppm) // n_b AS share_e6,
       |  gshare_e6,
       |  abs((n * $Ppm) // n_b - gshare_e6) AS drift_e6
       |FROM stacked JOIN base USING (event_type)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_drift_monitor" -> (driftBatch _))

  val oracles: Map[String, String] = Map(
    "events_drift_monitor" -> driftOracle)
}
