package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries read through here so the scan is always a columnar parquet
  * scan with Catalyst column pruning / predicate pushdown — check with
  * `.explain("formatted")`: filters must show up under `PushedFilters`.
  */
object Tables {
  /** Scan-DataFrame memo per (session, dir, table) — r14 floor fix
    * (VERDICT item 2). Every `spark.read.parquet` call rebuilds the
    * file index and re-reads parquet footers for schema inference:
    * measured ~85-100 ms PER CALL at sf0.1, paid 1-3x by
    * each of 279 catalog queries — the single largest share of the
    * sub-second tail's fixed cost. The memo holds the LAZY scan
    * DataFrame only (logical plan + resolved schema — metadata, no
    * rows): every action still reads the parquet files themselves, so
    * bench/oracle runs compute from disk exactly as before. Keyed on
    * the session OBJECT (the [[graft.text.Dedup]] edgeCache
    * discipline); entries of stopped sessions are purged on access.
    * A memoized plan pins the file LIST, so each entry carries the
    * table directory's mtime and is rebuilt when it changes (an
    * `overwrite` into the same path replaces the files — StatModelsSpec
    * plants fixtures exactly that way); one stat(2) per call replaces
    * the footer re-read.
    */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (Long, DataFrame)]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    cache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    val key = (spark, sfDir, name)
    val stamp = new java.io.File(s"$sfDir/$name.parquet").lastModified
    cache.get(key) match {
      case Some((st, df)) if st == stamp => df
      case _ =>
        val df = spark.read.parquet(s"$sfDir/$name.parquet")
        cache.put(key, (stamp, df))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.parquet's `ts` encoding has varied across driver fixture
    * generations; normalize every one of them to a plain TimestampType
    * (microsecond instant) so downstream `unix_micros`/RANGE-frame/window
    * logic sees one type:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 refuses to read it as a
    *    timestamp; sessions set `spark.sql.legacy.parquet.nanosAsLong=true`
    *    so it arrives as LongType nanos → convert to micros (the generated
    *    data has no sub-microsecond components).
    *  - parquet timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
    *    TIMESTAMP_NTZ → cast to TimestampType. Every entrypoint pins the
    *    session to UTC, so wall-clock == instant and the micros are
    *    byte-identical to what DuckDB's oracle reads.
    *  - parquet timestamp[us] adjusted to UTC: already TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** Normalize any of the three observed `ts` encodings to TimestampType.
    * Shared by batch (`events`), streaming (EventStreams) and the scale
    * generator so a fixture-encoding change can never diverge them again.
    * Works on streaming DataFrames too (pure column rewrite).
    */
  def normalizeTs(df: DataFrame, col: String = "ts"): DataFrame =
    df.schema(col).dataType match {
      case LongType =>
        df.withColumn(col, org.apache.spark.sql.functions.expr(s"timestamp_micros($col div 1000)"))
      case TimestampNTZType =>
        df.withColumn(col, df.col(col).cast(TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
