package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic source-interleaved training order — the "shuffle" a
  * training run actually wants: not random (irreproducible) but
  * round-robin across sources, so every training-window prefix carries
  * the mixture's balance. Each document gets an ORDERING KEY
  * ikey = (rn−1)·nSources + srcIdx (rn = the doc's per-source rank by
  * doc_id): reading in ikey order yields source₁,source₂,…,source₁,…
  * — no global sort is ever planned here (the catalog bans it); the
  * writer range-partitions by ikey instead.
  *
  * The per-source rank is the catalog's skew-proof TWO-PHASE global
  * numbering (the [[graft.relational.Skew]] sessionize pattern applied
  * to ranking): phase 1 numbers within (source, 8192-doc bucket) —
  * per-task work bounded by bucket size at ANY corpus scale, where a
  * plain per-source window would sort a whole source's corpus in ONE
  * task; phase 2 offsets each bucket by the running count of earlier
  * buckets, a window over the (source, bucket) SUMMARY (rows ∝
  * corpus/8192, not corpus). Source index and count are a BOUNDED FIT
  * (the catalog's fitted-constant idiom: ≤20 distinct sources collected
  * once, sorted, re-entered as a literal map) — spelling them as
  * dataflow joins planned 4 extra exchanges for a dimension that is
  * structurally tiny at any corpus size.
  *
  * The DuckDB oracle spells rank as the textbook single window — the
  * hash match proves the distributed two-phase numbering equals it.
  *
  * Reference basis: none (the reference's sort is per-reduce-partition,
  * mr/worker.go:120-126); SURVEY §2.3 pipeline surface.
  */
object Curriculum extends graft.Catalog {

  private val Bucket = 8192L

  def interleaveKey(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, d).select($"doc_id", $"source")
    // bounded source dimension: collected once (≤ tens of rows at any
    // corpus size), dense-ranked by name in the driver, re-entered as a
    // literal map — pure codegen'd arithmetic downstream
    val srcNames = docs.select($"source").distinct()
      .collect().map(_.getString(0)).sorted
    val ns = srcNames.length.toLong
    val sidxMap = map(srcNames.zipWithIndex.flatMap {
      case (s, i) => Seq(lit(s), lit(i.toLong))
    }: _*)
    // phase 1: rank within (source, bucket)
    val local = docs
      .withColumn("bucket", expr(s"doc_id div $Bucket"))
      .withColumn("rn_local",
        row_number().over(
          W.partitionBy($"source", $"bucket").orderBy($"doc_id")))
    // phase 2: bucket offsets over the summary table
    val offsets = local
      .groupBy($"source", $"bucket").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(
          sum($"n").over(
            W.partitionBy($"source").orderBy($"bucket")
              .rowsBetween(Long.MinValue, -1)),
          lit(0L)))
      .select($"source", $"bucket", $"off")
    local
      .join(broadcast(offsets), Seq("source", "bucket"))
      .select(
        $"doc_id", $"source",
        (($"off" + $"rn_local" - 1L) * lit(ns) +
          element_at(sidxMap, $"source")).as("ikey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "interleave_key" -> (interleaveKey _))

  val oracles: Map[String, String] = Map(
    "interleave_key" ->
      """WITH s AS (SELECT DISTINCT source FROM documents),
        |idx AS (
        |  SELECT s1.source, count(*) AS sidx
        |  FROM s s1 JOIN s s2 ON s2.source <= s1.source
        |  GROUP BY s1.source),
        |n AS (SELECT count(*) AS ns FROM s),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.source,
        |  CAST((rn - 1) * ns + sidx - 1 AS BIGINT) AS ikey
        |FROM r JOIN idx USING (source) CROSS JOIN n""".stripMargin)
}
