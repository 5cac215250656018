package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import org.apache.spark.sql.types._
import graft.Tables
import graft.kv.{CasFold, KvCell, KvOp}

/** Structured Streaming slice over the events table (SURVEY.md §2.3):
  * watermarked tumbling/sliding windows and stateful per-key folds.
  *
  * Each streaming operator has a BATCH TWIN registered in
  * SparkEntry.queries with a DuckDB oracle — the streaming variant must
  * converge to the twin's result when the stream drains (checked by
  * StreamingSpec with a memory sink), which is the Spark-native analog of
  * the reference's "distributed output == sequential oracle" test
  * (tests/test-mr.sh). The reference's coordinator checkpoint/failover
  * (O11, mr/coordinator_tier.go:262-298) maps to `checkpointLocation`
  * exactly-once recovery, also exercised in the spec.
  */
object EventStreams extends graft.Catalog {

  /** Batch read of an events parquet path with `ts` normalized to
    * TimestampType whatever the on-disk encoding (nanos-as-long,
    * TIMESTAMP_NTZ, or plain timestamp — see Tables.normalizeTs).
    */
  def readEventsBatch(spark: SparkSession, path: String): DataFrame =
    Tables.normalizeTs(
      spark.read.option("recursiveFileLookup", "true").parquet(path))

  /** @param dir a DIRECTORY of events parquet part-files (the streaming
    *            file source rejects a bare file path; in production this
    *            is the landing directory new files arrive into)
    * @param options extra file-source options (e.g. maxFilesPerTrigger)
    *
    * The stream schema is peeked from the files already in the landing
    * directory (a metadata-only batch read), so the reader tracks the
    * fixture's ts encoding instead of hard-coding one; `ts` is then
    * normalized through the same shared path as Tables.events.
    */
  def readEventsStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val onDisk = spark.read.option("recursiveFileLookup", "true")
      .parquet(dir).schema
    val reader = spark.readStream.schema(onDisk)
    options.foreach { case (k, v) => reader.option(k, v) }
    Tables.normalizeTs(reader.option("recursiveFileLookup", "true").parquet(dir))
  }

  // one shared definition keeps the cross-engine bit-exactness guarantee
  // in a single place (see RelQueries.exactSum)
  private def exactSumCents(c: org.apache.spark.sql.Column) =
    graft.relational.RelQueries.exactSum(c, 100L)

  /** Tumbling 1h windows per event type (batch twin, oracled). Grouping
    * is on the window STRUCT (start projected after the agg) — grouping
    * on `window(...).getField("start")` directly defeats Spark's
    * time-window detection and append-mode watermarking.
    */
  def tumblingBatch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), exactSumCents($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
  }

  /** Sliding 1h/30m windows per event type (batch twin, oracled). */
  def slidingBatch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), exactSumCents($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
  }

  /** Gap-based session aggregation via session_window (the engine-native
    * form of the lag/cumsum sessionize query — same 30 min gap rule):
    * one row per (user, session) with the event count and session start.
    * Works identically over a stream with a watermark (see spec).
    */
  def sessionAggBatch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"), exactSumCents($"value").as("sum_value"))
      .select($"user_id", $"sw.start".as("s_start"), $"n", $"sum_value")
  }

  /** Streaming variant of [[sessionAggBatch]] with a 1h watermark. */
  def sessionAggStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"), exactSumCents($"value").as("sum_value"))
      .select($"user_id", $"sw.start".as("s_start"), $"n", $"sum_value")
  }

  /** Streaming variant of [[slidingBatch]] (1h windows every 30m). */
  def slidingStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), exactSumCents($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
  }

  /** Streaming variant of [[tumblingBatch]] with a 1h watermark. */
  def tumblingStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), exactSumCents($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
  }

  /** Stream-static enrich join (batch twin, oracled): events joined to
    * the STATIC customer dimension on user_id = c_custkey, then a
    * tumbling-hour aggregate per market segment — the canonical
    * "enrich on ingest" shape. Unlike a stream-stream join this keeps
    * ZERO join state: the static side broadcasts (and is re-resolved
    * per micro-batch if its backing files change); only the window
    * aggregate holds state, bounded by the watermark.
    */
  def segmentEnrichBatch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    segmentEnrichOf(
      Tables.events(spark, d),
      Tables.customer(spark, d))
  }

  /** Streaming variant of [[segmentEnrichBatch]]; `events` is a
    * streaming frame, `customer` a static one.
    */
  def segmentEnrichStream(events: DataFrame, customer: DataFrame): DataFrame =
    segmentEnrichOf(events.withWatermark("ts", "1 hour"), customer)

  private def segmentEnrichOf(events: DataFrame, customer: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .join(broadcast(customer.select($"c_custkey", $"c_mktsegment")),
        $"user_id" === $"c_custkey")
      .groupBy(window($"ts", "1 hour"), $"c_mktsegment")
      .agg(count(lit(1)).as("n"), exactSumCents($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"c_mktsegment", $"n", $"sum_value")
  }

  /** Streaming CAS KV replay (O16 as a stateful stream): per-key state is
    * the live KV cell, updated by each micro-batch's ops in seq order
    * through the same [[CasFold]] as KVStore.replay's batch pass —
    * `mapGroupsWithState` is its unbounded-stream form.
    */
  def kvStream(events: DataFrame): Dataset[KvCell] =
    kvStreamOps(graft.kv.KVStore.opsFrom(events))

  /** The op-log form (shared with the porcupine property: simulated
    * clerk histories replay through this exactly as events do).
    */
  def kvStreamOps(ops: Dataset[KvOp]): Dataset[KvCell] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KvOp], state: GroupState[KvCell]) =>
          val fold = state.getOption.map(CasFold.from).getOrElse(new CasFold)
          // micro-batch iterators are unordered; seq order is the contract
          it.toSeq.sortBy(_.seq).foreach(fold.step)
          val cell = fold.cell(key)
          state.update(cell)
          cell
      }
  }

  /** Open-session accumulator held in GroupState: one cell per ACTIVE
    * user.
    */
  final case class SessAcc(n_events: Long, startMs: Long, endMs: Long)

  /** A session emitted on close. */
  final case class SessionClosed(
      user_id: Long, n_events: Long, start: java.sql.Timestamp,
      end: java.sql.Timestamp)

  /** Custom sessionization with BOUNDED custom state — the
    * flatMapGroupsWithState + EventTimeTimeout pattern the engine-native
    * session_window can't replace when you need emit-on-close-only
    * semantics or custom accumulators. One open session per user lives
    * in the state store; sessions that close WITHIN a micro-batch emit
    * immediately; the open tail gets an event-time timeout at
    * last-event + gap, fires once the watermark passes it, emits, and
    * `state.remove()` evicts the cell. State footprint = active users,
    * not users-ever-seen — the difference between a bounded and an
    * unbounded state store on a 100 TB stream.
    *
    * Gap rule matches session_window's half-open [start, last + gap):
    * an event at exactly last+gap starts a NEW session.
    */
  def sessionCloseStream(events: DataFrame): Dataset[SessionClosed] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events
      .withWatermark("ts", "1 hour")
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessAcc]) =>
          if (state.hasTimedOut) {
            val a = state.get
            state.remove()
            Iterator(SessionClosed(uid, a.n_events,
              new java.sql.Timestamp(a.startMs), new java.sql.Timestamp(a.endMs)))
          } else {
            val pts = it.map(_._2.getTime).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionClosed]
            var acc = state.getOption
            pts.foreach { t =>
              acc match {
                case Some(a) if t - a.endMs < gapMs =>
                  acc = Some(SessAcc(a.n_events + 1, a.startMs, math.max(a.endMs, t)))
                case Some(a) =>
                  out += SessionClosed(uid, a.n_events,
                    new java.sql.Timestamp(a.startMs), new java.sql.Timestamp(a.endMs))
                  acc = Some(SessAcc(1L, t, t))
                case None =>
                  acc = Some(SessAcc(1L, t, t))
              }
            }
            acc.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp(a.endMs + gapMs)
            }
            out.iterator
          }
      }
  }

  /** Running EWMA state: the constant-size cell that replaces the batch
    * collect_list fold when a key's series is unbounded.
    */
  final case class EwmaCell(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming twin of [[graft.relational.TimeSeries.ewmaUserValue]]:
    * the same recurrence `acc*(1-α) + x*α`, but held as O(1) state per
    * user in the state store instead of a per-key ordered list — the
    * unbounded-series form (years of ticks per key never materialize).
    * Events within a micro-batch are sorted by (ts, event_id); batches
    * must arrive time-ordered per key (the landing-file contract), which
    * keeps the fold sequence identical to the batch twin's — so the
    * drained stream's final cell matches the batch result BIT-exactly.
    */
  def ewmaStream(events: DataFrame): Dataset[EwmaCell] = {
    import events.sparkSession.implicits._
    val alpha = graft.relational.TimeSeries.Alpha
    events
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp, Long, Double)],
         state: GroupState[EwmaCell]) =>
          val sorted = it.toSeq.sortBy(e => (e._2.getTime, e._3))
          var cell = state.getOption.getOrElse(EwmaCell(uid, 0L, 0.0))
          sorted.foreach { e =>
            val s =
              if (cell.n_events == 0L) e._4
              else cell.ewma * (1 - alpha) + e._4 * alpha
            cell = EwmaCell(uid, cell.n_events + 1, s)
          }
          state.update(cell)
          cell
      }
  }

  /** [[sessionCloseStream]] on the v2 API, exercising its TIMER surface:
    * the open-session cell is a named `ValueState`, and the
    * "close when the watermark passes end + gap" rule becomes an
    * explicit registered event-time timer whose expiry fires
    * `handleExpiredTimer` — where the session emits and the cell is
    * cleared. Extending a session deletes the stale timer and registers
    * the new expiry (v1's single implicit timeout slot, made explicit —
    * and generalizable to several timers per key, which v1 cannot do).
    * Same half-open gap semantics as the v1 twin and session_window.
    */
  final class SessionCloseProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), SessionClosed] {
    @transient private var acc: ValueState[SessAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[SessAcc]("open_session",
        org.apache.spark.sql.Encoders.product[SessAcc], TTLConfig.NONE)

    override def handleInputRows(
        uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessionClosed] = {
      val pts = rows.map(_._2.getTime).toArray.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionClosed]
      var cur = if (acc.exists()) Some(acc.get()) else None
      val prevExpiry = cur.map(_.endMs + gapMs)
      pts.foreach { t =>
        cur match {
          case Some(a) if t - a.endMs < gapMs =>
            cur = Some(SessAcc(a.n_events + 1, a.startMs, math.max(a.endMs, t)))
          case Some(a) =>
            out += SessionClosed(uid, a.n_events,
              new java.sql.Timestamp(a.startMs), new java.sql.Timestamp(a.endMs))
            cur = Some(SessAcc(1L, t, t))
          case None =>
            cur = Some(SessAcc(1L, t, t))
        }
      }
      cur.foreach { a =>
        acc.update(a)
        val expiry = a.endMs + gapMs
        if (!prevExpiry.contains(expiry)) {
          prevExpiry.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(expiry)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(
        uid: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionClosed] = {
      if (acc.exists()) {
        val a = acc.get()
        // a stale timer (session extended after registration) must NOT
        // close the live session; only the timer matching the current
        // tail fires it
        if (a.endMs + gapMs == expiredTimerInfo.getExpiryTimeInMs) {
          acc.clear()
          Iterator.single(SessionClosed(uid, a.n_events,
            new java.sql.Timestamp(a.startMs), new java.sql.Timestamp(a.endMs)))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  def sessionCloseStreamV2(events: DataFrame): Dataset[SessionClosed] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(
        new SessionCloseProcessor(30L * 60 * 1000),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[ewmaStream]] on the arbitrary-stateful-processing v2 API
    * (`transformWithState`, Spark 4): same recurrence, same O(1)
    * per-user cell, but held in a named `ValueState` on the RocksDB
    * state store — the surface that adds state TTL, timers, multiple
    * state variables per key, and state-schema evolution, i.e. what a
    * long-lived production pipeline migrates to. Kept semantically
    * IDENTICAL to the v1 twin so the spec can assert v2 == v1 == batch.
    *
    * State retention is UNBOUNDED (per live user) as a DELIBERATE
    * semantic choice, not an omission: an EWMA is a statistic over a
    * user's ENTIRE event history, so evicting an idle user's cell via
    * TTL would silently re-seed their average at the next event —
    * divergence from the batch twin (and from v1) that no spec could
    * pin without also modeling the eviction clock. Cost is one ~40 B
    * cell per EVER-SEEN user in RocksDB — at 10⁹ users, ~40 GB across
    * the whole cluster's state stores, which is the price of the
    * statistic's definition. A pipeline that prefers bounded state over
    * exact history must change semantics explicitly: arm
    * `TimeMode.ProcessingTime` + `TTLConfig` the way
    * [[RollingAvgProcessor]] does (its last-N window is naturally
    * recency-scoped, so eviction there is semantics-preserving).
    */
  final class EwmaProcessor(alpha: Double)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp, Long, Double), EwmaCell] {
    @transient private var cell: ValueState[EwmaCell] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // TTLConfig.NONE on purpose — see the class scaladoc: a TTL here
      // would silently reset idle users' EWMA, changing the statistic.
      cell = getHandle.getValueState[EwmaCell]("ewma_cell",
        org.apache.spark.sql.Encoders.product[EwmaCell], TTLConfig.NONE)

    override def handleInputRows(
        uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
        timerValues: TimerValues): Iterator[EwmaCell] = {
      val sorted = rows.toSeq.sortBy(e => (e._2.getTime, e._3))
      var c = if (cell.exists()) cell.get() else EwmaCell(uid, 0L, 0.0)
      sorted.foreach { e =>
        val s =
          if (c.n_events == 0L) e._4
          else c.ewma * (1 - alpha) + e._4 * alpha
        c = EwmaCell(uid, c.n_events + 1, s)
      }
      cell.update(c)
      Iterator.single(c)
    }
  }

  def ewmaStreamV2(events: DataFrame): Dataset[EwmaCell] = {
    import events.sparkSession.implicits._
    events
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new EwmaProcessor(graft.relational.TimeSeries.Alpha),
        TimeMode.None(), OutputMode.Update())
  }

  /** Latest rolling last-N average per user. */
  final case class RollingCell(user_id: Long, n_window: Long, avg_value: Double)

  /** The remaining v2 state surface: a named `ListState` holding the
    * last N values per user (the incremental form of a ROWS N-preceding
    * window over an unbounded stream), with a processing-time TTL on
    * the state — an idle user's window evicts itself after [[RollingTtl]]
    * with no eviction code, the state-hygiene lever long-lived pipelines
    * rely on (v1 offered only one untyped cell per key and manual
    * timeout bookkeeping); StreamingSpec exercises actual expiry with a
    * short TTL. Values append in (ts, event_id) order and the list is
    * trimmed to N, so per-key state is O(N) per LIVE key regardless of
    * stream length, and idle keys drop out entirely. The emitted average
    * folds the list left-to-right, matching the batch ROWS-frame twin
    * bit for bit.
    */
  final class RollingAvgProcessor(n: Int, ttl: java.time.Duration)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp, Long, Double), RollingCell] {
    @transient private var window: org.apache.spark.sql.streaming.ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      window = getHandle.getListState[Double]("last_n",
        org.apache.spark.sql.Encoders.scalaDouble,
        TTLConfig(ttl))

    override def handleInputRows(
        uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
        timerValues: TimerValues): Iterator[RollingCell] = {
      val sorted = rows.toSeq.sortBy(e => (e._2.getTime, e._3))
      var buf = if (window.exists()) window.get().toArray else Array.empty[Double]
      sorted.foreach { e => buf = (buf :+ e._4).takeRight(n) }
      window.put(buf)
      var s = 0.0
      buf.foreach(s += _)
      Iterator.single(RollingCell(uid, buf.length.toLong, s / buf.length))
    }
  }

  val RollingN = 5

  /** Default state TTL: an hour of inactivity evicts a user's window. */
  val RollingTtl: java.time.Duration = java.time.Duration.ofHours(1)

  def rollingAvgStreamV2(events: DataFrame): Dataset[RollingCell] =
    rollingAvgStreamV2(events, RollingTtl)

  /** TTL-parameterized variant (specs pass a short TTL to exercise
    * actual expiry). TimeMode.ProcessingTime is what arms the TTL —
    * state TTLs are ignored under TimeMode.None.
    */
  def rollingAvgStreamV2(events: DataFrame, ttl: java.time.Duration): Dataset[RollingCell] = {
    import events.sparkSession.implicits._
    events
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new RollingAvgProcessor(RollingN, ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Streaming dedup: first event per (user_id, event_type), with state
    * bounded by a 1h watermark (`dropDuplicatesWithinWatermark` evicts
    * keys once the watermark passes them — the 100 TB-safe form; a plain
    * dropDuplicates would grow state forever on an unbounded stream).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Batch twin of [[dedupStream]]: keep the EARLIEST event per
    * (user_id, event_type), ts then event_id tie-break — the
    * deterministic answer the streaming form converges to when arrival
    * order is event-time order. `min(struct(...))` = lexicographic
    * arg-min inside ONE partial+final hash aggregate: a single shuffle
    * on the dedup key and no per-group sort (the window row_number
    * spelling would sort every partition).
    */
  def dedupFirstBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", $"event_type")
      .agg(min(struct($"ts", $"event_id", $"value")).as("f"))
      .select($"user_id", $"event_type", $"f.ts".as("ts"),
        $"f.event_id".as("event_id"), $"f.value".as("value"))
  }

  /** The purchase/click interval-join shape. The streaming operator uses
    * this plain spelling (Spark's stream-stream join manages its own
    * keyed state + watermark eviction); the batch twin uses the bucketed
    * form below, and StreamingSpec pins pair-set parity between the two
    * so they cannot drift.
    */
  private def purchaseSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))

  private def clickSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))

  private def intervalJoin(p: DataFrame, c: DataFrame): DataFrame =
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL '1' HOUR"))
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))

  /** Hour-bucket of an event time. Bucket width == interval length, so a
    * click can only match a purchase whose bucket is its own or the next
    * one — the standard bucketed range-join decomposition.
    */
  private def hourBucket(ts: Column): Column =
    floor(unix_timestamp(ts) / 3600L).cast("long")

  /** Bucketed batch form of [[intervalJoin]] — the same pair set, but the
    * equi-join key is (user, hour-bucket) instead of user alone. The plain
    * spelling sort-merges on user_id and filters the time range inside
    * each key group, which is quadratic in a user's event count within
    * ONE task: the sf1skew rehearsal (one customer owning 20% of events)
    * measured it 5× slower than the uniform corpus, and at crawl scale a
    * hot key would turn it into a straggler that never finishes. Adding
    * the bucket to the join key bounds a key group by time density rather
    * than corpus share, so the hot user's month of events lands in ~720
    * independent hour-keyed groups instead of one.
    *
    * Exactness: a matching click (c_ts in [p_ts-1h, p_ts]) has
    * floor(c/3600) in {floor(p/3600)-1, floor(p/3600)}, so the purchase
    * side probes exactly those two buckets (explode); each click carries
    * one bucket, so a pair can match at most one probe — no duplicates,
    * and the residual range predicate keeps the semantics exact.
    * StreamingSpec pins pair-set parity with the plain form (boundary
    * timestamps and a planted hot user) and that the join's partitioning
    * carries the bucket column.
    */
  private def bucketedIntervalJoin(p: DataFrame, c: DataFrame,
                                   joinType: String = "inner"): DataFrame = {
    val pb = p.withColumn("_pb",
      explode(array(hourBucket(col("p_ts")) - 1L, hourBucket(col("p_ts")))))
    val cb = c.withColumn("_cb", hourBucket(col("c_ts")))
    pb.join(cb,
      col("p_user") === col("c_user") &&
        col("_pb") === col("_cb") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL '1' HOUR"),
      joinType)
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
  }

  /** Stream-stream join: each purchase joined to the same user's clicks
    * in the preceding hour. Both sides are watermarked and the join
    * condition is time-bounded, so Spark can evict join state — the
    * unbounded-stream form of the as-of/window join family.
    *
    * Uses the same (user, hour-bucket) equi-key decomposition as the
    * batch twin: the symmetric hash join buffers and probes state BY THE
    * EQUI-KEY, so under a hot user the plain spelling probes that user's
    * entire live click horizon (watermark delay + interval ≈ 2–3 h of a
    * key that owns 20% of the stream) on EVERY hot purchase, from one
    * state-store partition. With the bucket in the key a probe touches
    * exactly the two hour-keyed slices the interval can reach, and the
    * hot user's state spreads across the live buckets. The cost is the
    * purchase side buffering each row under two bucket keys (the explode)
    * — state ×2 on the smaller side, bounded probes in exchange. The
    * pair set is identical (each click carries one bucket, so a pair
    * matches at most one probe); the StreamingSpec convergence test pins
    * streaming == batch-twin output, and the watermark/eviction behavior
    * is unchanged because the range condition still bounds both sides.
    */
  def purchaseClickJoinStream(events: DataFrame): DataFrame =
    bucketedIntervalJoin(
      purchaseSide(events).withWatermark("p_ts", "1 hour"),
      clickSide(events).withWatermark("c_ts", "2 hours"))

  /** Batch twin of [[purchaseClickJoinStream]] (same pair set), in the
    * hot-key-safe bucketed form — see [[bucketedIntervalJoin]].
    */
  def purchaseClickJoinBatch(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d)
    bucketedIntervalJoin(purchaseSide(e), clickSide(e))
  }

  private def intervalJoinOuter(p: DataFrame, c: DataFrame): DataFrame =
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL '1' HOUR"),
      "left_outer")
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))

  /** Stream-stream LEFT OUTER interval join — the hard-semantics member
    * of the join family: matched pairs emit eagerly, but an UNMATCHED
    * purchase can only emit its null-padded row once the click-side
    * watermark has passed the end of its match interval (before that, a
    * matching click could still arrive). State stays bounded exactly as
    * in the inner form; the outer rows are the watermark's closure of
    * the join. StreamingSpec drives it with a flush sentinel and checks
    * the full outer pair set equals the batch twin's.
    *
    * Stays on the PLAIN user-keyed spelling, unlike the inner stream:
    * the bucketed decomposition emits one null-padded row per UNMATCHED
    * PROBE (two per unmatched purchase), which changes outer row
    * multiplicity — fine under the attribution aggregate's count(c_id),
    * wrong for a raw outer pair stream. The hot-key exposure is accepted
    * and measured (STREAM_sf1skew.json drives the skewed corpus through
    * the inner leg; the outer leg shares its state shape plus the
    * unmatched-row timers).
    */
  def purchaseClickJoinOuterStream(events: DataFrame): DataFrame =
    intervalJoinOuter(
      purchaseSide(events).withWatermark("p_ts", "1 hour"),
      clickSide(events).withWatermark("c_ts", "2 hours"))

  /** Oracled batch composite of the outer join: per-purchase click
    * attribution — every purchase keeps a row, n_clicks = 0 when no
    * click preceded it within the hour (count over the null-padded
    * side). The left-outer interval join reuses the purchase side's
    * one user_id exchange for the count (purchase ids don't collide
    * across users, but the window-family convention keys on user).
    */
  def clickAttributionBatch(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d)
    // Bucketed LEFT OUTER: a purchase probes two buckets, so an unmatched
    // probe contributes an extra null-padded row — harmless here because
    // count(c_id) ignores nulls and every purchase keeps >= 1 row, but it
    // is why the bucketed outer form stays private to this aggregate
    // instead of replacing intervalJoinOuter's exact row multiplicity.
    bucketedIntervalJoin(purchaseSide(e), clickSide(e), "left_outer")
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(col("c_id")).as("n_clicks"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_tumbling_1h" -> (tumblingBatch _),
    "events_sliding_1h_30m" -> (slidingBatch _),
    "events_session_agg" -> (sessionAggBatch _),
    "events_purchase_click_join" -> (purchaseClickJoinBatch _),
    "events_click_attribution" -> (clickAttributionBatch _),
    "events_segment_enrich" -> (segmentEnrichBatch _),
    "events_dedup_first" -> (dedupFirstBatch _))

  val oracles: Map[String, String] = Map(
    "events_dedup_first" ->
      """SELECT user_id, event_type, ts, event_id, value FROM (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "events_segment_enrich" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, c_mktsegment,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    // session_window semantics are half-open [start, last+gap): an event
    // exactly gap after its predecessor starts a NEW session, hence >=
    "events_session_agg" ->
      """WITH s AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t, value,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
        |              >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, t, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM s)
        |SELECT user_id, min(t) AS s_start, count(*) AS n,
        |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM g GROUP BY user_id, sid""".stripMargin,
    "events_click_attribution" ->
      """SELECT p.event_id AS p_id, p.user_id, count(c.event_id) AS n_clicks
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'
        |GROUP BY 1, 2""".stripMargin,
    "events_purchase_click_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'""".stripMargin,
    "events_tumbling_1h" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_sliding_1h_30m" ->
      """SELECT w_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS DOUBLE)/100 AS sum_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
        |         event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |           - INTERVAL '30 minutes' AS w_start,
        |         event_type, value FROM events) t
        |GROUP BY w_start, event_type""".stripMargin)
}
