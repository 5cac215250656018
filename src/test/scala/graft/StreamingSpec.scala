package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions.{count, expr, lit}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming == batch-twin convergence, stateful KV replay, and
  * checkpoint exactly-once recovery (the Spark answer to the reference's
  * coordinator checkpoint test, tests/test-mr.sh:283-330 +
  * mr/backup_coordinator.go).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The streaming file source needs a directory; stage the events file
    * into one (simulating a landing directory).
    */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graftevents")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling agg (complete mode) == batch twin") {
    val q = EventStreams.tumblingStream(EventStreams.readEventsStream(spark, eventsDir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = EventStreams.tumblingBatch(spark, sf).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stateful streaming KV replay == batch CAS replay") {
    val q = EventStreams.kvStream(EventStreams.readEventsStream(spark, eventsDir))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("kv_out").start()
    try {
      q.processAllAvailable()
      // last update per key is the final cell
      val got = spark.table("kv_out").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val want = graft.kv.KVStore.casReplay(spark, sf).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(got === want)
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // synthesize the LEGACY encoding (ts as LONG nanos) deliberately:
    // the reader must normalize it same as any other (TablesSpec covers
    // all three encodings batch-side)
    val rawNanosSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val landing = java.nio.file.Files.createTempDirectory("graftlate").toString
    def nanos(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    def writeBatch(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val data = rows.map { case (id, ts, uid) =>
        Row(id, nanos(ts), uid, "click", 1.0, "{}")
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1),
        rawNanosSchema)
        .write.parquet(s"$landing/$name")
    }
    // batch 1: events across 4 hours; watermark (1h) closes the 00:00 window
    writeBatch("b1", Seq(
      (1L, "2030-01-01 00:10:00", 1L),
      (2L, "2030-01-01 00:20:00", 1L),
      (3L, "2030-01-01 02:30:00", 1L),
      (4L, "2030-01-01 03:30:00", 1L)))
    val q = EventStreams.tumblingStream(
        EventStreams.readEventsStream(spark, landing))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event for the already-closed 00:00 window + a new
      // event advancing the watermark further
      writeBatch("b2", Seq(
        (5L, "2030-01-01 00:30:00", 1L), // late: watermark is already 02:30
        (6L, "2030-01-01 05:00:00", 1L)))
      q.processAllAvailable()
      val rows = spark.table("late_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2)))
      val h0 = rows.filter(_._1.startsWith("2030-01-01 00:00"))
      // the 00:00 window was emitted once, from batch 1 only: the late
      // event must not re-emit or grow it
      assert(h0.length == 1, s"00:00 window emitted ${h0.length} times: ${rows.mkString(",")}")
      assert(h0.head._2 == 2, s"late event leaked into closed window: ${h0.head}")
    } finally q.stop()
  }

  test("streaming session windows (complete mode) == batch twin") {
    val q = EventStreams.sessionAggStream(EventStreams.readEventsStream(spark, eventsDir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))
      val got = spark.table("sess_out").collect().map(key).toSet
      val want = EventStreams.sessionAggBatch(spark, sf).collect().map(key).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming sliding windows (complete mode) == batch twin") {
    val q = EventStreams.slidingStream(EventStreams.readEventsStream(spark, eventsDir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("slide_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))
      val got = spark.table("slide_out").collect().map(key).toSet
      val want = EventStreams.slidingBatch(spark, sf).collect().map(key).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stream-static enrich join (complete mode) == batch twin") {
    val q = EventStreams.segmentEnrichStream(
        EventStreams.readEventsStream(spark, eventsDir),
        Tables.customer(spark, sf))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))
      val got = spark.table("enrich_out").collect().map(key).toSet
      val want = EventStreams.segmentEnrichBatch(spark, sf).collect().map(key).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup within watermark covers the batch-distinct key set") {
    val q = EventStreams.dedupStream(EventStreams.readEventsStream(spark, eventsDir))
      .select($"user_id", $"event_type")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = Tables.events(spark, sf)
        .select($"user_id", $"event_type").distinct().collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // single-batch drain => exact dedup: one emitted row per distinct key
      assert(got === want)
      assert(spark.table("dedup_out").count() == want.size)
      // the deterministic batch twin (earliest per key) covers the same keys
      val twin = EventStreams.dedupFirstBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(twin === want)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join == batch twin after watermark flush") {
    // Outer rows only emit once the watermark closes their interval —
    // with a finite source the tail would never flush, so stage the
    // events plus a far-future sentinel pair that drags both side
    // watermarks past all real data.
    // re-stage (not raw-copy) so the sentinel file and the fixture file
    // share ONE ts encoding whatever the fixture stores — a mixed
    // int64/timestamp landing dir would fail schema inference
    val dir = java.nio.file.Files.createTempDirectory("graftouterj")
    EventStreams.readEventsBatch(spark, s"$sf/events.parquet")
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val farFuture = java.sql.Timestamp.valueOf("2031-01-01 00:00:00")
    Seq((-1L, farFuture, -1L, "purchase", 0.0, "{}"),
      (-2L, farFuture, -1L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(dir.toString)
    val q = EventStreams.purchaseClickJoinOuterStream(
      EventStreams.readEventsStream(spark, dir.toString))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssoj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssoj_out")
        .filter($"p_id" =!= -1L && !($"c_id" <=> -2L)).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet
      val ev = Tables.events(spark, sf)
      val want = EventStreams.clickAttributionBatch(spark, sf)
      // reconstruct the expected pair set from the batch outer join
      val batchPairs = {
        val p = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
        val c = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
        p.join(c,
          $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
            $"c_ts" >= $"p_ts" - expr("INTERVAL '1' HOUR"), "left_outer")
          .select($"p_id", $"c_id").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toSet
      }
      assert(got === batchPairs)
      assert(got.exists(_._2.isEmpty), "no null-padded outer rows emitted")
      assert(want.collect().nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join == batch twin pair set") {
    val stream = EventStreams.readEventsStream(spark, eventsDir)
    val q = EventStreams.purchaseClickJoinStream(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = EventStreams.purchaseClickJoinBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stateful KV replay across MULTIPLE micro-batches == batch replay") {
    // split the raw events into two files and force one file per
    // trigger, so mapGroupsWithState must carry per-key state across
    // micro-batches (the single-batch drain in the other tests never
    // exercises that path)
    val landing = java.nio.file.Files.createTempDirectory("graftmb").toString
    val raw = EventStreams.readEventsBatch(spark, s"$sf/events.parquet")
    val mid = raw.agg(org.apache.spark.sql.functions.expr("percentile(event_id, 0.5)"))
      .collect().head.getDouble(0).toLong
    raw.filter($"event_id" <= mid).coalesce(1).write.parquet(s"$landing/a")
    raw.filter($"event_id" > mid).coalesce(1).write.parquet(s"$landing/b")
    val stream = EventStreams.readEventsStream(spark, landing,
      Map("maxFilesPerTrigger" -> "1"))
    val q = EventStreams.kvStream(stream)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("kv_mb_out").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected the two files to arrive in separate micro-batches")
      // Update mode re-emits a key's cell each batch it changes in; the
      // LAST emission per key must equal the batch replay. The memory
      // sink appends in batch order, so rows from the later batch win.
      val got = spark.table("kv_mb_out").collect()
        .map(r => r.getString(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap // later duplicates of a key overwrite earlier ones
      val want = graft.kv.KVStore.casReplay(spark, sf).collect()
        .map(r => r.getString(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      assert(got === want)
    } finally q.stop()
  }

  test("porcupine histories through the STREAMING CAS twin: lost-reply op-logs across micro-batches == simulated server") {
    // The third replay surface for the same simulated clerk histories
    // KvGossipSpec checks (sequential interpreter, distributed batch
    // fold): the mapGroupsWithState stream must carry CAS state — and
    // the duplicate sends from lost replies — across micro-batch
    // boundaries and land on each simulation's exact server cell.
    val runs = (0 until 10).map(KvSim.simulate)
    val allOps = runs.zipWithIndex.flatMap { case (r, i) =>
      r.oplog.map(o => o.copy(key = s"h$i|${o.key}"))
    }
    // three seq-tercile files, one per trigger: every key's log spans
    // batches, so retried duplicates arrive in LATER batches than the
    // op they duplicate
    val landing = java.nio.file.Files.createTempDirectory("graftporc").toString
    val seqs = allOps.map(_.seq).sorted
    val (t1, t2) = (seqs(seqs.length / 3), seqs(2 * seqs.length / 3))
    val opsDs = spark.createDataset(allOps)
    opsDs.filter($"seq" <= t1).coalesce(1).write.parquet(s"$landing/a")
    opsDs.filter($"seq" > t1 && $"seq" <= t2).coalesce(1).write.parquet(s"$landing/b")
    opsDs.filter($"seq" > t2).coalesce(1).write.parquet(s"$landing/c")
    val stream = spark.readStream.schema(opsDs.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", true)
      .parquet(landing)
      .as[graft.kv.KvOp]
    val q = EventStreams.kvStreamOps(stream)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("kv_porc_out").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "expected the three files to arrive in separate micro-batches")
      val got = spark.table("kv_porc_out").collect()
        .map(r => r.getString(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap // Update mode: later batches overwrite a key's earlier rows
      runs.zipWithIndex.foreach { case (r, i) =>
        r.cells.foreach { case (k, want) =>
          if (r.oplog.exists(_.key == k)) {
            val g = got.get(s"h$i|$k")
            assert(g.contains((want.value, want.version, want.n_ok,
              want.n_errversion, want.n_errnokey)),
              s"run $i key $k: got $g, want $want")
          }
        }
      }
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions: emit on close, state evicted by event-time timeout") {
    // feed in two time-ordered files so sessions span micro-batches and
    // the open tail only closes once later events advance the watermark
    val landing = java.nio.file.Files.createTempDirectory("graftsess").toString
    val raw = EventStreams.readEventsBatch(spark, s"$sf/events.parquet")
    val midUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    raw.filter(expr("unix_micros(ts)") <= midUs).coalesce(1).write.parquet(s"$landing/a")
    raw.filter(expr("unix_micros(ts)") > midUs).coalesce(1).write.parquet(s"$landing/b")
    val stream = EventStreams.readEventsStream(spark, landing,
      Map("maxFilesPerTrigger" -> "1"))
    val q = EventStreams.sessionCloseStream(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_close_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_close_out").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getTimestamp(2).getTime, r.getTimestamp(3).getTime)).toSet
      // driver-side ground truth: sessionize with the same half-open gap
      // rule; only sessions whose timeout (end + gap) precedes the final
      // watermark (max ts - 1h) can have closed
      val gapMs = 30L * 60 * 1000
      val evs = Tables.events(spark, sf)
        .select($"user_id", $"ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      val maxTs = evs.map(_._2).max
      val watermark = maxTs - 3600L * 1000
      val want = evs.groupBy(_._1).flatMap { case (uid, rows) =>
        val ts = rows.map(_._2).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = ts.head; var end = ts.head; var n = 1L
        ts.tail.foreach { t =>
          if (t - end < gapMs) { end = t; n += 1 }
          else { sessions += ((uid, n, start, end)); start = t; end = t; n = 1L }
        }
        sessions += ((uid, n, start, end))
        sessions
      }.filter { case (_, _, _, end) => end + gapMs < watermark }.toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming EWMA drains to the batch fold bit-exactly") {
    // time-split files so the per-key fold sequence spans micro-batches
    val landing = java.nio.file.Files.createTempDirectory("graftewma").toString
    val raw = EventStreams.readEventsBatch(spark, s"$sf/events.parquet")
    val midUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    raw.filter(expr("unix_micros(ts)") <= midUs).coalesce(1).write.parquet(s"$landing/a")
    raw.filter(expr("unix_micros(ts)") > midUs).coalesce(1).write.parquet(s"$landing/b")
    val stream = EventStreams.readEventsStream(spark, landing,
      Map("maxFilesPerTrigger" -> "1"))
    val q = EventStreams.ewmaStream(stream)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ewma_out").start()
    try {
      q.processAllAvailable()
      // latest cell per user = the one with the highest n_events
      val got = spark.table("ewma_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }
        .map(t => (t._1, t._2, // same HALF_UP rounding as SQL round(x, 6)
          BigDecimal(t._3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      val want = graft.relational.TimeSeries.ewmaUserValue(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("ewma"))).toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("transformWithState timers: v2 session close == v1 flatMapGroupsWithState") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // same two-file time-split landing as the v1 test: sessions span
      // micro-batches, timers fire as the second batch moves the watermark
      val landing = java.nio.file.Files.createTempDirectory("graftsess2").toString
      val raw = EventStreams.readEventsBatch(spark, s"$sf/events.parquet")
      val midUs = raw.agg(expr("percentile(unix_micros(ts), 0.5)"))
        .collect().head.getDouble(0).toLong
      raw.filter(expr("unix_micros(ts)") <= midUs).coalesce(1).write.parquet(s"$landing/a")
      raw.filter(expr("unix_micros(ts)") > midUs).coalesce(1).write.parquet(s"$landing/b")
      def stream = EventStreams.readEventsStream(spark, landing,
        Map("maxFilesPerTrigger" -> "1"))
      def drain(ds: org.apache.spark.sql.Dataset[EventStreams.SessionClosed],
                name: String): Set[(Long, Long, Long, Long)] = {
        val q = ds.writeStream.outputMode(OutputMode.Append())
          .format("memory").queryName(name).start()
        try {
          q.processAllAvailable()
          spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1),
              r.getTimestamp(2).getTime, r.getTimestamp(3).getTime)).toSet
        } finally q.stop()
      }
      val v2 = drain(EventStreams.sessionCloseStreamV2(stream), "sess2_out")
      val v1 = drain(EventStreams.sessionCloseStream(stream), "sess1_out")
      assert(v2 == v1)
      assert(v2.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState (v2 API, RocksDB store) EWMA == v1 mapGroupsWithState") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStreams.ewmaStreamV2(EventStreams.readEventsStream(spark, eventsDir))
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("ewma2_out").start()
      try {
        q.processAllAvailable()
        val got = spark.table("ewma2_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
        // v1 twin over the same single-batch landing dir
        val q1 = EventStreams.ewmaStream(EventStreams.readEventsStream(spark, eventsDir))
          .writeStream.outputMode(OutputMode.Update())
          .format("memory").queryName("ewma1_out").start()
        try q1.processAllAvailable() finally q1.stop()
        val want = spark.table("ewma1_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
        assert(got == want)
        assert(got.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Poll until `f` yields Some — transformWithState under
    * TimeMode.ProcessingTime schedules batches continuously (the TTL
    * machinery keeps the trigger armed), so processAllAvailable never
    * reaches its quiescent point; sink polling is the reliable wait.
    */
  private def pollUntil[T](what: String, timeoutMs: Long = 90000)(f: => Option[T]): T = {
    val end = System.currentTimeMillis + timeoutMs
    var r = f
    while (r.isEmpty && System.currentTimeMillis < end) { Thread.sleep(250); r = f }
    r.getOrElse(fail(s"timed out waiting for $what"))
  }

  test("transformWithState ListState+TTL rolling last-5 average == batch fold") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventStreams.rollingAvgStreamV2(EventStreams.readEventsStream(spark, eventsDir))
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("roll_out").start()
      try {
        def read() = spark.table("roll_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (k, rows) => k -> rows.last }.toMap
        // final cell per user (largest n_window wins within user; with a
        // single batch there is exactly one row per user). The full
        // user set lands in one batch; poll until it is present.
        val nUsers = Tables.events(spark, sf).select($"user_id").distinct().count()
        val got = pollUntil(s"$nUsers rolling cells") {
          val g = read(); if (g.size == nUsers) Some(g) else None
        }
        // driver-side ground truth: left fold over the last 5 values in
        // (ts, event_id) order — the same arithmetic sequence
        val want = Tables.events(spark, sf)
          .select($"user_id", $"ts", $"event_id", $"value").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
          .groupBy(_._1).map { case (uid, evs) =>
            val lastN = evs.sortBy(e => (e._2, e._3)).takeRight(EventStreams.RollingN)
            var s = 0.0
            lastN.foreach(s += _._4)
            uid -> ((uid, lastN.length.toLong, s / lastN.length))
          }
        assert(got.keySet == want.keySet)
        got.foreach { case (uid, cell) => assert(cell == want(uid), s"user $uid") }
        assert(got.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("rolling-window ListState expires after the processing-time TTL (idle user evicted)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
      val ds = input.toDS.toDF("user_id", "ts", "event_id", "value")
      val q = EventStreams.rollingAvgStreamV2(ds, java.time.Duration.ofMillis(500))
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("roll_ttl").start()
      try {
        def ts(s: Int) = java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
        def rows() = spark.table("roll_ttl").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        input.addData((1L, ts(0), 1L, 10.0), (1L, ts(1), 2L, 20.0))
        pollUntil("window of 2 values") {
          if (rows().contains((1L, 2L, 15.0))) Some(()) else None
        }
        Thread.sleep(1500) // well past the 500 ms TTL
        input.addData((1L, ts(2), 3L, 30.0))
        // expired state: the new batch sees an EMPTY window — n_window 1,
        // avg 30.0. Without expiry it would be (1, 3, 20.0); user 1 emits
        // exactly one cell for this batch, so seeing either decides it.
        val decided = pollUntil("post-TTL cell") {
          val r = rows()
          if (r.contains((1L, 1L, 30.0)) || r.contains((1L, 3L, 20.0))) Some(r) else None
        }
        // the sink shows a batch's rows before its RocksDB commit ends,
        // and progress is posted only after it: stop once both data
        // batches report progress (processAllAvailable never returns
        // here — the TTL keeps the processing-time trigger armed)
        pollUntil("both data batches committed") {
          if (q.recentProgress.count(_.numInputRows > 0) >= 2) Some(()) else None
        }
        assert(decided.contains((1L, 1L, 30.0)) && !decided.contains((1L, 3L, 20.0)),
          s"idle user's window was retained past the TTL: $decided")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("checkpointed file sink is exactly-once across restart (O11 analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graftck")
    val out = s"$dir/out"
    val ck = s"$dir/ck"
    def run(): Unit = {
      val q = EventStreams.readEventsStream(spark, eventsDir)
        .select($"event_id", $"event_type")
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val n1 = spark.read.parquet(out).count()
    run() // restart from checkpoint: nothing new to process
    val n2 = spark.read.parquet(out).count()
    assert(n1 == Tables.events(spark, sf).count())
    assert(n2 == n1, s"restart duplicated output: $n1 -> $n2")
  }

  test("foreachBatch upsert sink: batchId-keyed overwrite is idempotent (incremental MV)") {
    // The other canonical sink: maintain a running per-type aggregate
    // table with foreachBatch. Exactly-once comes from writing each
    // micro-batch's contribution under a batchId-derived partition and
    // OVERWRITING it — a replayed batch (post-crash, pre-commit) lands
    // in the same partition instead of double-counting. The reader then
    // aggregates partials: a merge-on-read incremental materialized
    // view, the pattern a real pipeline uses when the store (parquet
    // here) has no transactional MERGE.
    val dir = java.nio.file.Files.createTempDirectory("graftfb")
    val out = s"$dir/agg"
    val ck = s"$dir/ck"
    def run(): Unit = {
      val q = EventStreams.readEventsStream(spark, eventsDir)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(out)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    run() // replay/restart: same batch partitions overwritten, not appended
    // merge-on-read: latest batch per type wins (update mode re-emits
    // the running total), so max_by over batch_id reconstructs the MV
    val mv = spark.read.parquet(out)
      .groupBy($"event_type").agg(expr("max_by(n, batch_id)").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mv == want)
  }

  test("bucketed interval join == plain spelling: boundaries, hot user, random") {
    // The batch interval-join twins use the (user, hour-bucket) equi-key
    // decomposition (the sf1skew fix); this pins exact pair-set parity
    // with the plain user-keyed spelling on (a) inclusive/exclusive
    // boundary timestamps at microsecond resolution, (b) a planted hot
    // user whose events straddle bucket edges, (c) a seeded random corpus.
    val rnd = new scala.util.Random(7)
    val base = 1700000000L * 1000000L // µs
    val h = 3600L * 1000000L
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    var id = 0L
    def ev(user: Long, tsMicros: Long, typ: String): Unit = {
      rows += ((id, tsMicros * 1000L, user, typ)); id += 1 // ts stored as ns
    }
    // (a) boundaries around purchase at base+10h: click exactly 1h before
    // (inclusive match), 1h+1µs before (miss), equal ts (match), 1µs after (miss)
    val p0 = base + 10 * h
    ev(100L, p0, "purchase")
    ev(100L, p0 - h, "click"); ev(100L, p0 - h - 1, "click")
    ev(100L, p0, "click"); ev(100L, p0 + 1, "click")
    // (b) hot user: 120 purchases + 120 clicks scattered across 3 buckets
    for (_ <- 0 until 120) {
      ev(1L, base + rnd.nextLong(3 * h), "purchase")
      ev(1L, base + rnd.nextLong(3 * h), "click")
    }
    // (c) random corpus: 5 users, 4 days, second-to-microsecond jitter
    for (_ <- 0 until 1500) {
      val typ = Seq("purchase", "click", "view")(rnd.nextInt(3))
      ev(rnd.nextInt(5).toLong + 2L, base + rnd.nextLong(96L * h), typ)
    }
    val dir = java.nio.file.Files.createTempDirectory("graftbij").toString
    rows.toSeq.toDF("event_id", "ts", "user_id", "event_type")
      .selectExpr("event_id", "ts", "user_id", "event_type",
        "0.0 AS value", "'{}' AS props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventStreams.purchaseClickJoinBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables.events(spark, dir)
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
    val c = e.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
    val want = p.join(c,
      $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL '1' HOUR"))
      .select($"p_id", $"c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // the boundary cases landed as designed
    assert(got.contains((0L, 1L)) && got.contains((0L, 3L)))
    assert(!got.contains((0L, 2L)) && !got.contains((0L, 4L)))
    assert(got.size > 1000, s"hot user should mass-match, got ${got.size}")
    // attribution twin: per-purchase click counts match the plain outer agg
    val gotAttr = EventStreams.clickAttributionBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val wantAttr = p.join(c,
      $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
        $"c_ts" >= $"p_ts" - expr("INTERVAL '1' HOUR"), "left_outer")
      .groupBy($"p_id").agg(count($"c_id").as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotAttr === wantAttr)
    assert(gotAttr.values.exists(_ == 0L), "no zero-click purchase in corpus")
  }

  test("parquet schema evolution: mergeSchema unions per-file schemas") {
    val dir = java.nio.file.Files.createTempDirectory("graftse").toString
    Tables.events(spark, sf).select($"event_id", $"event_type")
      .write.parquet(s"$dir/v1")
    Tables.events(spark, sf).select($"event_id", $"event_type", $"value")
      .write.parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", true)
      .parquet(s"$dir/v1", s"$dir/v2")
    assert(merged.columns.toSet == Set("event_id", "event_type", "value"))
    // old files surface the new column as null, not an error
    val n = Tables.events(spark, sf).count()
    assert(merged.filter($"value".isNull).count() == n)
    assert(merged.count() == 2 * n)
  }

  test("streaming drift monitor (complete mode) == batch twin") {
    val baseline = graft.streaming.Drift.baselineOf(spark, sf)
      .localCheckpoint() // static 5-row frame, the offline-fitted ref
    val q = graft.streaming.Drift
      .driftStream(EventStreams.readEventsStream(spark, eventsDir), baseline)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("drift_out").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("wstart_s"), r.getAs[String]("event_type"),
          r.getAs[Long]("n"), r.getAs[Long]("share_e6"),
          r.getAs[Long]("gshare_e6"), r.getAs[Long]("drift_e6"))
      val got = spark.table("drift_out").collect().map(key).toSet
      val want = graft.streaming.Drift.driftBatch(spark, sf).collect()
        .map(key).toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }
}
