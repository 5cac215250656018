package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew handling: two-phase salted aggregation. A hot key that would pin
  * one reducer is split across `salts` sub-keys for the partial
  * aggregate, then merged — the hand-rolled form of AQE's skew
  * mitigation, exposed as a reusable operator because at 100 TB a single
  * hot key (the empty document, the null user) otherwise stalls a stage.
  * The salt is derived from a value hash, so the plan stays
  * deterministic.
  */
object Skew extends graft.Catalog {

  /** @param salt a PER-ROW deterministic expression (e.g. a hash of a
    *             unique id column). Salting by the value itself would
    *             collapse when the hot key carries a constant value —
    *             the exact case skew mitigation exists for. Deterministic
    *             (not rand()) so stage retries after fetch failures
    *             cannot re-route rows between partial groups.
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      value: Column,
      salt: Column,
      salts: Int): DataFrame = {
    df.select(
        key.as("k"),
        value.as("cents"),
        pmod(salt, lit(salts)).as("_salt"))
      .groupBy(col("k"), col("_salt"))
      .agg(count(lit(1)).as("pn"), sum(col("cents")).as("psum"))
      .groupBy(col("k"))
      .agg(sum(col("pn")).as("n"), sum(col("psum")).as("cents_sum"))
  }

  /** Salted fact-dim JOIN — the join-side counterpart of [[saltedAgg]]
    * for when the dim is too big to broadcast and one fact key is hot:
    * the fact side salts each row into one of `salts` sub-keys; the dim
    * side replicates each row to ALL `salts` sub-keys (an explode, cost
    * = |dim| × salts); the equi-join then runs on (key, salt), spreading
    * the hot key's rows over `salts` reducers. Result identical to the
    * unsalted join — salting changes the plan, never the output. With
    * AQE's skew-join splitting this is rarely hand-written anymore; it
    * remains the portable fallback when AQE cannot split (e.g. a
    * bucketed or already-colocated layout it must preserve).
    */
  def saltedJoin(
      fact: DataFrame,
      factKey: Column,
      dim: DataFrame,
      dimKey: Column,
      salt: Column,
      salts: Int): DataFrame = {
    val salted = fact.withColumn("_salt", pmod(salt, lit(salts)))
    val replicated = dim.withColumn(
      "_salt", explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated,
      factKey === dimKey && salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** Size-conditional shuffled-hash-join hint (r12 adjudication).
    *
    * SHJ is the measured-faster plan for a bounded build side — the
    * probe stream flows through unsorted — but Spark's SHJ build map
    * CANNOT SPILL: at the 100× multi-process rehearsal the two hinted
    * sites below were the last OOM class standing once checkpoints were
    * sharded (their builds grow with the corpus, and AQE's advisory
    * coalescing can concentrate a build into few tasks regardless of
    * the configured shuffle-partition count). So the hint is applied
    * only while the build's ESTIMATED in-memory footprint fits a
    * conservative cap; above it the site hints `merge` — sort-merge is
    * slower, but spillable, which is the 100 TB posture. Over the cap
    * the hint must be FORCED, not merely dropped: Catalyst's size
    * estimate for these build subtrees is badly low (a Generate
    * explode's ×16 fan-out is invisible to the stats), so a freed
    * planner BROADCASTS the oversized build — measured at the sf10
    * multi-process gate as a 1 GB UnsafeHashedRelation deserialized
    * onto every executor, a strictly worse OOM than the SHJ build it
    * replaced. Mirrors `autoBroadcastJoinThreshold`'s design: one size
    * gate, estimated from cheap source metadata, tunable per session.
    *
    * Cap default 256 MB (`spark.graft.shj.maxBuildBytes`): even in the
    * degenerate case of AQE coalescing the whole build into ONE task,
    * 256 MB fits the smallest per-task execution share this engine is
    * run with (8 GB / 8-core executors ≈ 480 MB per task).
    *
    * Estimates use parquet byte length from filesystem metadata (no
    * job) × the site's documented fan-out and inflation factors —
    * upper bounds, never samples, so the decision is deterministic.
    */
  private[relational] def shjBuildCap(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.shj.maxBuildBytes").map(_.toLong)
      .getOrElse(256L << 20)

  private def shjIfFits(
      spark: SparkSession, build: DataFrame, estBuildBytes: Long): DataFrame =
    if (estBuildBytes <= shjBuildCap(spark)) build.hint("shuffle_hash")
    else build.hint("merge")

  /** On-disk bytes of one source table — filesystem metadata, no job. */
  private def parquetBytes(
      spark: SparkSession, d: String, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Demo over events with a deliberately hot key (70% of rows): the
    * salted plan's first aggregate fans the hot key over 16 sub-keys.
    * Output equals a plain GROUP BY (the oracle), which is the point —
    * salting changes the plan, never the result.
    */
  def skewSaltedAgg(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val skewed = Tables.events(spark, d).select(
      when($"event_id" % 10 < 7, lit("hot"))
        .otherwise($"user_id".cast("string")).as("skey"),
      RelQueries.gridScale($"value", 100L).as("cents"),
      xxhash64($"event_id").as("row_salt"))
    saltedAgg(skewed, $"skey", $"cents", $"row_salt", salts = 16)
      .select($"k".as("skey"), $"n",
        ($"cents_sum".cast("double") / 100).as("sum_value"))
  }

  /** Salted-join demo: orders with 70% of rows re-keyed to one hot
    * customer, joined to the full customer table (NOT broadcast — the
    * scenario salting exists for), aggregated per market segment. The
    * dim side is forced into a shuffle join via hints so the salted
    * (key, salt) distribution actually drives the exchange — but only
    * while the replicated build fits ([[shjIfFits]]): the build is the
    * WHOLE customer table × 16 salt copies, which grows with the
    * corpus, so above the cap the site reverts to sort-merge (the
    * salted key distribution still drives the exchange; only the
    * per-partition join algorithm changes). Estimate = customer parquet
    * bytes × 6 (≈3× snappy compression × ≈2× UnsafeRow/map overhead)
    * × 16 salts.
    */
  def skewSaltedJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val fact = Tables.orders(spark, d).select(
      when($"o_orderkey" % 10 < 7, lit(1L)).otherwise($"o_custkey").as("ck"),
      RelQueries.gridScale($"o_totalprice", 100L).as("cents"),
      xxhash64($"o_orderkey").as("rsalt"))
    val dimEst = parquetBytes(spark, d, "customer") * 6L * 16L
    val dim = shjIfFits(spark, Tables.customer(spark, d), dimEst)
      .select($"c_custkey", $"c_mktsegment")
    saltedJoin(fact, $"ck", dim, $"c_custkey", $"rsalt", salts = 16)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        (sum($"cents").cast("double") / 100).as("sum_price"))
  }

  /** Two-phase skew-proof sessionization — the window-family counterpart
    * of [[saltedAgg]]. The plain `sessionize` (RelQueries.scala) sorts
    * EVERY event of a user inside one window task; a hot user owning 20%
    * of the corpus pins one task (measured 3.6× at the 100× skew
    * rehearsal, BENCH_sf10skew.json). A sessionize window cannot be
    * salted — session identity is a running fold over the user's full
    * timeline — but it CAN be bucketed by time and re-stitched:
    *
    *  - Phase 1: sessionize within (user, day-bucket). Window groups are
    *    bounded by the bucket width, so the hot user's month of events
    *    sorts across ~30 bounded tasks instead of 1 — and the bound
    *    holds at ANY corpus scale (per-task work ∝ the hot user's
    *    events per day, never their whole timeline). Bucket width is
    *    the parallelism-vs-summary-size dial: hours give 720-way
    *    fan-out but on sparse users inflate the summary to near event
    *    scale (measured: 95% of |events| on this corpus).
    *  - Boundary merge: one summary row per (user, bucket) — first/last
    *    event ts and the local session count. A per-user window over THIS
    *    table (|active days| rows per user, data-scale-independent)
    *    decides for each bucket whether its first local session continues
    *    the previous bucket's last session (gap ≤ 30 min across the
    *    boundary, compared on real timestamps so skipped-empty-day gaps
    *    need no special case), and accumulates the global session offset
    *    Σ(n_local − merged) over preceding buckets.
    *  - Phase 2: hash-join the (merged, offset) pair back on
    *    (user, bucket). The events shuffle once: the stitch branch reads
    *    the phase-1 exchange via ReusedExchange (the not-null filter
    *    below keeps both consumers' subtrees canonical-identical), and
    *    the join builds on the bounded summary side so the event stream
    *    is never re-sorted.
    *
    * Measured at the 100× rehearsal (BENCH_sf10skew.json): plain
    * sessionize 1.9 s uniform → 8.1 s skewed (the hot-user single-task
    * sort, a tax that grows unboundedly with the hot timeline); bucketed
    * ~5 s uniform and FLAT under skew — the premium buys a per-task
    * bound that a 1000-executor run needs, because the plain form's one
    * hot task would sort the user's entire 100 TB-scale history.
    *
    * The stitch is exact for any chain: a merged bucket's local session 1
    * IS the previous cumulative last session, so it contributes
    * n_local − 1 new sessions. Output is byte-identical to plain
    * `sessionize` and shares its DuckDB oracle.
    */
  def sessionizeBucketed(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gap = expr("INTERVAL '30' MINUTE")
    // day buckets, not hours: a month-long corpus gives the hot user
    // ~30-way sort parallelism (bounded per-task work), while the
    // summary table stays well below event scale — hour buckets made
    // the summary 95% of |events| on this corpus (sparse users hold ~1
    // event per hour) and the boundary pass cost as much as the main
    // one. The explicit not-null filter matches what the stitch join
    // infers on its side, so BOTH consumers share one canonical
    // scan+exchange subtree (ReusedExchange) instead of scanning and
    // shuffling the events twice.
    val ev = Tables.events(spark, d)
      .select($"event_id", $"user_id", $"ts",
        date_trunc("day", $"ts").as("bucket"))
      .filter($"user_id".isNotNull && $"bucket".isNotNull)
    val wLocal = Window.partitionBy($"user_id", $"bucket")
      .orderBy($"ts", $"event_id")
    val prevL = lag($"ts", 1).over(wLocal)
    val local = ev
      .withColumn("new_local",
        when(prevL.isNull || ($"ts" - prevL > gap), 1L).otherwise(0L))
      .withColumn("local_sess", sum($"new_local")
        .over(wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"event_id", $"user_id", $"bucket", $"ts", $"local_sess")
    val summary = local.groupBy($"user_id", $"bucket")
      .agg(min($"ts").as("first_ts"), max($"ts").as("last_ts"),
        max($"local_sess").as("n_local"))
    val wB = Window.partitionBy($"user_id").orderBy($"bucket")
    val prevLast = lag($"last_ts", 1).over(wB)
    val stitched = summary
      .withColumn("merged",
        when(prevLast.isNotNull && !($"first_ts" - prevLast > gap), 1L)
          .otherwise(0L))
      .withColumn("offset",
        coalesce(sum($"n_local" - $"merged")
          .over(wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"user_id", $"bucket", $"merged", $"offset")
    // hash join, hash side = the summary table, while it FITS
    // (shjIfFits): summary rows = |active (user, day) pairs|, which
    // grows with the corpus, and an SHJ build cannot spill. Estimate
    // bounds summary rows by event rows (events bytes / ~20 B-per-row
    // compressed) × ~100 B per in-map summary row → events bytes × 5.
    // The SMJ fallback is cheap HERE: the event side leaves the phase-1
    // window already sorted by (user_id, bucket, ts, event_id), whose
    // prefix satisfies the join ordering, so only the summary side
    // sorts — the "re-sort all events" tax the hint exists to avoid
    // never applies to the fallback.
    val stitchEst = parquetBytes(spark, d, "events") * 5L
    local.join(shjIfFits(spark, stitched, stitchEst), Seq("user_id", "bucket"))
      .select($"event_id", $"user_id",
        ($"offset" + $"local_sess" - $"merged").as("session_id"))
  }

  /** Key-skew report over the catalog's three hot join/aggregate key
    * families (orders.o_custkey, lineitem.l_suppkey, events.user_id) —
    * the operational diagnostic that decides WHEN the salted twins
    * ([[skewSaltedAgg]]/[[skewSaltedJoin]]) and bucketed windows
    * ([[sessionizeBucketed]]) are worth their extra exchange: per key
    * family its row count, distinct keys, the heaviest key and its
    * count, top-key share of all rows, and the skew factor
    * max·distinct/n (1.0 = perfectly uniform; the straggler multiplier
    * a plain hash partition suffers).
    *
    * Shape per family: one key-frequency aggregate (map-side combined)
    * + a 1-row fold; the heaviest key is located by a broadcast
    * max-count filter with min-key tie-break (deterministic, never an
    * unordered arg_max). All counts exact; the two ratios are single
    * divisions, 6dp.
    */
  def skewReport(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def famReport(name: String, keys: DataFrame): DataFrame = {
      val freq = keys.groupBy($"k").agg(count(lit(1)).as("cnt"))
        .transform(graft.Ckpt.cut) // key-domain-bounded; two consumers
      val g = freq.agg(
        sum($"cnt").as("n"), count(lit(1)).as("n_keys"),
        max($"cnt").as("max_cnt"))
      val hot = freq.join(broadcast(g.select($"max_cnt".as("mc"))),
        $"cnt" === $"mc")
        .agg(min($"k").as("hot_key"))
      g.crossJoin(broadcast(hot))
        .select(
          lit(name).as("key_family"),
          $"n", $"n_keys", $"hot_key", $"max_cnt",
          (round($"max_cnt".cast("double") / $"n".cast("double"), 6)
            + lit(0.0)).as("top_share"),
          (round($"max_cnt".cast("double") * $"n_keys".cast("double") /
            $"n".cast("double"), 6) + lit(0.0)).as("skew_factor"))
    }
    famReport("orders.custkey",
      Tables.orders(spark, d).select($"o_custkey".as("k")))
      .unionAll(famReport("lineitem.suppkey",
        Tables.lineitem(spark, d).select($"l_suppkey".as("k"))))
      .unionAll(famReport("events.user_id",
        Tables.events(spark, d).select($"user_id".as("k"))))
  }

  private def skewReportOracle: String = {
    def fam(name: String, col: String, table: String): String =
      s"""SELECT '$name' AS key_family,
         |  CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  (SELECT min(k) FROM
         |    (SELECT $col AS k, count(*) AS cnt FROM $table GROUP BY 1) h
         |   WHERE cnt = (SELECT max(cnt) FROM
         |     (SELECT $col AS k, count(*) AS cnt FROM $table GROUP BY 1) m))
         |    AS hot_key,
         |  CAST(max(cnt) AS BIGINT) AS max_cnt,
         |  round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
         |    + 0.0 AS top_share,
         |  round(CAST(max(cnt) AS DOUBLE) * CAST(count(*) AS DOUBLE) /
         |        CAST(sum(cnt) AS DOUBLE), 6) + 0.0 AS skew_factor
         |FROM (SELECT $col AS k, count(*) AS cnt FROM $table GROUP BY 1) f"""
        .stripMargin
    s"""${fam("orders.custkey", "o_custkey", "orders")}
       |UNION ALL
       |${fam("lineitem.suppkey", "l_suppkey", "lineitem")}
       |UNION ALL
       |${fam("events.user_id", "user_id", "events")}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_report" -> (skewReport _),
    "skew_salted_agg" -> (skewSaltedAgg _),
    "skew_salted_join" -> (skewSaltedJoin _),
    "sessionize_bucketed" -> (sessionizeBucketed _))

  val oracles: Map[String, String] = Map(
    "skew_report" -> skewReportOracle,
    "skew_salted_agg" ->
      """SELECT CASE WHEN event_id % 10 < 7 THEN 'hot'
        |            ELSE CAST(user_id AS VARCHAR) END AS skey,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "skew_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_price
        |FROM orders JOIN customer
        |  ON c_custkey = CASE WHEN o_orderkey % 10 < 7 THEN 1 ELSE o_custkey END
        |GROUP BY 1""".stripMargin,
    // Same oracle as plain `sessionize` — bucketing changes the plan,
    // never the result.
    "sessionize_bucketed" ->
      """SELECT event_id, user_id,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events) t""".stripMargin)
}
