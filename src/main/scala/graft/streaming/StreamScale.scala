package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming state-store evidence at rehearsal volume — answers the one
  * question fixture-scale StreamingSpec micro-batches cannot: does
  * operator state PLATEAU under watermark eviction when a month of
  * rehearsal events flows through, or does it grow with the stream?
  *
  * Drives the stateful legs whose state could in principle grow
  * without bound — session aggregation (open sessions),
  * dropDuplicatesWithinWatermark (seen keys), the stream-stream
  * interval join (buffered rows on both sides), the unbounded-by-design
  * EWMA cell, the windowed drift monitor, the two transformWithState
  * twins (timer-evicted session closer, TTL'd rolling ListState), and
  * the docs-as-stream dedup-admission chain (fingerprints live inside
  * the horizon) — each replayed through a MemoryStream in EVENT-TIME
  * ORDER in fixed-size chunks (the arrival pattern a landing zone
  * produces, and the one that lets watermarks advance steadily). After
  * every micro-batch the StreamingQueryProgress state metrics are
  * recorded: numRowsTotal, memoryUsedBytes, and the watermark.
  *
  * The emitted JSON ([[outFile]], one object per leg) carries the full
  * per-batch series plus two adjudication scalars per leg:
  *   - `drift_ratio` = mean(state rows, last quarter of batches) /
  *     mean(state rows, first quarter). ~1.0 = the state is
  *     watermark-bounded from the start (flat series); a leak that
  *     accumulates keys shows up as a ratio tracking the batch count.
  *   - `final_vs_input` = final state rows / total input rows. With
  *     eviction working this is << 1 (state holds only the horizon, the
  *     stream holds the month).
  * (`plateau_ratio` — last-quarter max over global max — is also kept,
  * but it is the weaker signal: a monotone leak ALSO peaks late, so
  * read it with drift_ratio.)
  *
  * Usage: runMain graft.streaming.StreamScale [sfDir] [outFile] [chunks] [legs]
  * Defaults: /tmp/sf1 STREAM_sf1.json 60 (all legs)
  *
  * Crash safety (the r10 failure: the last leg died after ~90 min and
  * took the six finished legs' series with it): each leg's JSON
  * fragment persists to `<outFile>.leg_<name>` the moment the leg
  * completes, a fragment already on disk is REUSED instead of re-run
  * (delete it to force) — reuse happens BEFORE the legs filter is
  * consulted, so a filtered run still assembles EVERY fragment present
  * and the filter only gates which legs execute live. The optional 4th
  * arg (comma-separated leg names, validated against the leg registry —
  * a typo fails loudly instead of silently writing an empty artifact)
  * restricts LIVE execution to the chosen legs. Fragments embed the
  * sfDir and chunk count they were recorded at; reusing a fragment from
  * a different corpus or chunking aborts rather than silently mixing
  * incomparable series in one artifact (pre-r11 fragments without the
  * fields are accepted with a warning).
  */
object StreamScale {

  /** The leg registry: names the 4th-arg filter validates against.
    * main() builds its runner list as (name, thunk) pairs and ASSERTS
    * the driven names equal this list (the r11 advice: a leg added to
    * one and not the other must fail loudly, not skew the count gate).
    */
  val LegNames: Seq[String] = Seq(
    "session_agg", "dedup_watermark", "interval_join", "interval_join_outer",
    "ewma_v2", "drift_monitor", "session_close_v2", "rolling_avg_ttl",
    "doc_admit", "doc_admit_restart", "session_close_v2_restart",
    "doc_admit_disorder", "doc_admit_kill", "doc_admit_disorder_kill")

  /** Legs that only mean anything with REAL executor processes to kill:
    * a run-ALL invocation on a single-JVM master skips them with a
    * notice; naming one in the 4th-arg filter makes a single-JVM master
    * a hard error instead (an explicitly-requested kill receipt must
    * never silently degrade to a kill-free run).
    */
  val ClusterOnlyLegs: Set[String] =
    Set("doc_admit_kill", "doc_admit_disorder_kill")

  /** JSON string-escape (the Verify.q discipline) for anything
    * interpolated into a fragment: conf keys/values AND the sf_dir /
    * derived strings (the r11 advice: an unescaped path with a quote or
    * backslash would yield an unparseable artifact).
    */
  def jqs(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/sf1")
    val outFile = args.lift(1).getOrElse("STREAM_sf1.json")
    val chunks = args.lift(2).map(_.toInt).getOrElse(60)
    val onlyLegs: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    onlyLegs.foreach { ls =>
      val unknown = ls.diff(LegNames.toSet)
      require(unknown.isEmpty,
        s"unknown legs: ${unknown.toSeq.sorted.mkString(",")} " +
          s"(known: ${LegNames.mkString(",")})")
      require(ls.nonEmpty, "legs filter selected zero legs")
    }
    val ownsSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isEmpty
    // the executor-kill legs run the stream on local-cluster (REAL
    // executor processes); the master and the retry-budget conf are
    // recorded by the leg, since they are provenance
    val master = graft.GraftSession.master(s"local[${graft.GraftSession.cpus("8")}]")
    val spark = graft.GraftSession(master, graft.GraftSession.shufflePartitions("32"))
    import spark.implicits._

    // the whole month of events, event-time ordered, staged on the
    // driver once (the rehearsal volume is ~1M rows — a harness-side
    // fit, not a catalog-operator pattern). Lazy: a doc-legs-only run
    // never pays for it.
    lazy val stagedEvents: Array[(Long, Long, Long, String, Double)] =
      graft.Tables.events(spark, sfDir)
        .select($"event_id", expr("unix_micros(ts)").as("tsus"),
          $"user_id", $"event_type", $"value")
        .orderBy($"tsus", $"event_id")
        .as[(Long, Long, Long, String, Double)]
        .collect()

    // the documents corpus for the dedup-admission leg, fingerprinted
    // IN SPARK (only (doc_id, fp, tsus) tuples reach the driver — the
    // text never does), arrival-ordered by the synthesized clock
    lazy val stagedDocs: Array[(Long, String, Long)] =
      DocStreams.fingerprintedDocs(spark, sfDir)
        .select($"doc_id", $"fp", expr("unix_micros(ts)").as("tsus"))
        .orderBy($"tsus", $"doc_id")
        .as[(Long, String, Long)]
        .collect()

    def legPath(name: String) = java.nio.file.Paths.get(s"$outFile.leg_$name")

    /** Fragment reuse with provenance validation: a fragment recorded
      * on a different corpus or chunking must not be assembled into
      * this artifact. Fragments that predate the embedded fields
      * (r10) are accepted with a warning.
      */
    def reuseFragment(name: String): Option[String] = {
      if (!java.nio.file.Files.exists(legPath(name))) return None
      val frag = java.nio.file.Files.readString(legPath(name))
      val sfRe = """"sf_dir":"([^"]*)"""".r
      val ckRe = """"chunks_cfg":(\d+)""".r
      (sfRe.findFirstMatchIn(frag), ckRe.findFirstMatchIn(frag)) match {
        case (Some(s), Some(c)) =>
          require(s.group(1) == jqs(sfDir) && c.group(1).toInt == chunks,
            s"fragment ${legPath(name)} was recorded at sf_dir=${s.group(1)} " +
              s"chunks=${c.group(1)} but this run is sf_dir=$sfDir chunks=$chunks " +
              "— delete the fragment to re-record it")
        case _ =>
          println(s"STREAMSCALE $name fragment predates provenance fields " +
            s"— accepting as-is (recorded pre-r11)")
      }
      println(s"STREAMSCALE $name reused from ${legPath(name)}")
      Some(frag)
    }

    /** Drives one leg: chunk the staged rows into the MemoryStream,
      * record state metrics after each micro-batch, persist the
      * fragment. `extraConf` entries are set for the leg and restored
      * after (and recorded in the fragment — they are part of the
      * measurement's provenance).
      */
    def driveLeg[T: Encoder](
        name: String,
        staged: => Array[T],
        toEvents: DataFrame => DataFrame,
        build: DataFrame => DataFrame,
        mode: OutputMode = OutputMode.Append(),
        rocksdb: Boolean = false,
        extraConf: Map[String, String] = Map.empty,
        ttlPoll: Boolean = false): Option[String] = {
      // reuse BEFORE the filter: the filter gates live execution only,
      // so a one-leg recovery run still assembles the other fragments
      val reused = reuseFragment(name)
      if (reused.isDefined) return reused
      if (onlyLegs.exists(!_(name))) {
        println(s"STREAMSCALE $name skipped (not in legs filter)")
        return None
      }
      // transformWithState needs multi-column-family state, which only
      // the RocksDB provider supports (the StreamingSpec discipline:
      // set per leg, restore after, so the watermark legs keep the
      // default HDFS-backed provider their metrics were recorded on)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val legConf: Map[String, String] =
        (if (rocksdb) Map(providerKey ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Map.empty[String, String]) ++ extraConf
      val prevConf: Map[String, Option[String]] =
        legConf.map { case (k, _) => k -> spark.conf.getOption(k) }
      legConf.foreach { case (k, v) => spark.conf.set(k, v) }
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val data = staged
      val chunkSize = math.max(1, data.length / chunks)
      val input = MemoryStream[T]
      val events = toEvents(input.toDF())
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graftss_$name").toString
      val q: StreamingQuery = build(events).writeStream
        .outputMode(mode)
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
      // Under TimeMode.ProcessingTime the TTL machinery keeps the
      // trigger armed, so StreamExecution NEVER reaches the quiescent
      // point processAllAvailable waits for — the r10 run's real wall
      // (endless zero-input TTL batches, each paying the checkpoint
      // round-trip, with processAllAvailable parked forever; the
      // StreamingSpec pollUntil discipline, applied here). For those
      // legs (`ttlPoll`) the chunk barrier is instead "the engine has
      // CONSUMED every row added so far", observed via a listener
      // summing numInputRows across progress events.
      val consumed = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.id == q.id) consumed.addAndGet(e.progress.numInputRows)
      }
      if (ttlPoll) spark.streams.addListener(listener)
      def awaitConsumed(target: Long): Unit = {
        val deadline = System.nanoTime() + 15L * 60 * 1000000000L
        while (consumed.get() < target) {
          require(System.nanoTime() < deadline,
            s"$name: engine consumed ${consumed.get()}/$target rows after 15 min")
          Thread.sleep(200)
        }
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val mem = scala.collection.mutable.ArrayBuffer.empty[Long]
      val wm = scala.collection.mutable.ArrayBuffer.empty[String]
      val dur = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        var added = 0L
        data.grouped(chunkSize).foreach { chunk =>
          input.addData(chunk.toIndexedSeq)
          added += chunk.length
          if (ttlPoll) awaitConsumed(added) else q.processAllAvailable()
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty) {
            rows += p.stateOperators.map(_.numRowsTotal).sum
            mem += p.stateOperators.map(_.memoryUsedBytes).sum
            wm += Option(p.eventTime.get("watermark")).getOrElse("")
            // wall time of the batch: the straggler signal a hot key
            // produces even when state stays plateaued (one partition
            // doing quadratic probe work shows up here first)
            dur += p.batchDuration
          }
        }
      } finally {
        if (ttlPoll) spark.streams.removeListener(listener)
        q.stop()
        prevConf.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      val quarter = rows.drop(rows.length * 3 / 4)
      val firstQ = rows.take(math.max(1, rows.length / 4))
      val peak = if (rows.nonEmpty) rows.max else 0L
      val plateau =
        if (peak == 0L) 0.0 else quarter.max.toDouble / peak
      def meanOf(xs: scala.collection.Seq[Long]): Double =
        if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.length
      val drift =
        if (meanOf(firstQ) == 0.0) 0.0 else meanOf(quarter) / meanOf(firstQ)
      val finalVsInput =
        if (rows.isEmpty) 0.0 else rows.last.toDouble / data.length
      val totalMs = dur.sum
      val maxMs = if (dur.nonEmpty) dur.max else 0L
      println(f"STREAMSCALE $name%-14s batches=${rows.length} peakRows=$peak " +
        f"finalRows=${if (rows.nonEmpty) rows.last else 0} plateau=$plateau%.3f " +
        f"drift=$drift%.3f finalVsInput=$finalVsInput%.4f " +
        f"totalMs=$totalMs maxBatchMs=$maxMs")
      // conf keys/values are arbitrary strings — escape them (and the
      // sf_dir: the jqs discipline) so nothing interpolated can
      // produce an unparseable fragment
      def jq(s: String): String = "\"" + jqs(s) + "\""
      val confField =
        if (extraConf.isEmpty) ""
        else extraConf.map { case (k, v) => s"${jq(k)}:${jq(v)}" }
          .mkString(""""conf":{""", ",", "},")
      val frag =
        s""""$name":{"sf_dir":"${jqs(sfDir)}","chunks_cfg":$chunks,$confField""" +
        s""""batches":${rows.length},"input_rows":${data.length},""" +
        s""""state_rows":[${rows.mkString(",")}],""" +
        s""""state_bytes":[${mem.mkString(",")}],""" +
        s""""batch_ms":[${dur.mkString(",")}],""" +
        s""""total_ms":$totalMs,"max_batch_ms":$maxMs,""" +
        s""""peak_rows":$peak,"final_rows":${if (rows.nonEmpty) rows.last else 0},""" +
        s""""plateau_ratio":$plateau,"drift_ratio":$drift,""" +
        s""""final_vs_input":$finalVsInput,""" +
        s""""last_watermark":"${wm.lastOption.getOrElse("")}"}"""
      java.nio.file.Files.write(legPath(name),
        frag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Some(frag)
    }

    def runLeg(
        name: String,
        build: DataFrame => DataFrame,
        mode: OutputMode = OutputMode.Append(),
        rocksdb: Boolean = false,
        extraConf: Map[String, String] = Map.empty,
        ttlPoll: Boolean = false): Option[String] =
      driveLeg[(Long, Long, Long, String, Double)](
        name, stagedEvents,
        df => df.toDF("event_id", "tsus", "user_id", "event_type", "value")
          .withColumn("ts", expr("timestamp_micros(tsus)"))
          .drop("tsus"),
        build, mode, rocksdb, extraConf, ttlPoll)

    // ------------------------------------------------------------------
    // r12 legs: checkpoint restart at volume (VERDICT item 2) and
    // disordered arrival at volume (VERDICT item 3). These need custom
    // drive loops (two queries sharing a checkpoint; an arrival
    // schedule), so they do not ride driveLeg.
    // ------------------------------------------------------------------

    /** Set `legConf` for the duration of `body`, restore after. */
    def withConf[A](legConf: Map[String, String])(body: => A): A = {
      val prevConf: Map[String, Option[String]] =
        legConf.map { case (k, _) => k -> spark.conf.getOption(k) }
      legConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prevConf.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val rocksdbConf = Map("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    /** Reuse-or-filter gate shared by the custom legs (driveLeg's
      * opening discipline): Some(Some(frag)) = reuse, Some(None) =
      * filtered out, None = run live.
      */
    def gate(name: String): Option[Option[String]] = {
      val reused = reuseFragment(name)
      if (reused.isDefined) return Some(reused)
      if (onlyLegs.exists(!_(name))) {
        println(s"STREAMSCALE $name skipped (not in legs filter)")
        return Some(None)
      }
      None
    }

    /** Per-chunk state-metrics recorder (the driveLeg series shape). */
    final class Series {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val mem = scala.collection.mutable.ArrayBuffer.empty[Long]
      val wm = scala.collection.mutable.ArrayBuffer.empty[String]
      val dur = scala.collection.mutable.ArrayBuffer.empty[Long]
      def record(q: StreamingQuery): Unit = {
        val p = q.lastProgress
        if (p != null && p.stateOperators.nonEmpty) {
          rows += p.stateOperators.map(_.numRowsTotal).sum
          mem += p.stateOperators.map(_.memoryUsedBytes).sum
          wm += Option(p.eventTime.get("watermark")).getOrElse("")
          dur += p.batchDuration
        }
      }
      def fragmentCore(inputRows: Long): String = {
        val quarter = rows.drop(rows.length * 3 / 4)
        val firstQ = rows.take(math.max(1, rows.length / 4))
        val peak = if (rows.nonEmpty) rows.max else 0L
        val plateau = if (peak == 0L) 0.0 else quarter.max.toDouble / peak
        def meanOf(xs: scala.collection.Seq[Long]): Double =
          if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.length
        val drift =
          if (meanOf(firstQ) == 0.0) 0.0 else meanOf(quarter) / meanOf(firstQ)
        val fvi = if (rows.isEmpty) 0.0 else rows.last.toDouble / inputRows
        s""""batches":${rows.length},"input_rows":$inputRows,""" +
          s""""state_rows":[${rows.mkString(",")}],""" +
          s""""state_bytes":[${mem.mkString(",")}],""" +
          s""""batch_ms":[${dur.mkString(",")}],""" +
          s""""total_ms":${dur.sum},"max_batch_ms":${if (dur.nonEmpty) dur.max else 0L},""" +
          s""""peak_rows":$peak,"final_rows":${if (rows.nonEmpty) rows.last else 0},""" +
          s""""plateau_ratio":$plateau,"drift_ratio":$drift,""" +
          s""""final_vs_input":$fvi,""" +
          s""""last_watermark":"${wm.lastOption.getOrElse("")}""""
      }
    }

    /** Order-independent row hash of a result frame: Σ xxhash64(row)
      * in DECIMAL(38,0) (no overflow wrap), nulls spelled explicitly so
      * a null column can never alias a shifted value.
      */
    def rowHash(df: DataFrame): String = graft.RowHash.of(df)

    def writeFrag(name: String, frag: String): Some[String] = {
      java.nio.file.Files.write(legPath(name),
        frag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Some(frag)
    }

    /** VERDICT item 2a: stop the doc-admit verdict stream mid-replay
      * and resume from `checkpointLocation` with a FRESH query; the
      * assembled parquet sink must equal the oracled batch twin exactly
      * (count, per-doc verdicts, order-independent hash). Proves the
      * RocksDB ValueState + event-time timers + file-sink commit log
      * survive a driver-side restart at 100x volume, and — en passant —
      * re-proves stream==batch for the FULL corpus (the r11 leg only
      * measured state; the spec pinned equality at fixture scale).
      */
    def runDocAdmitRestart(name: String): Option[String] = {
      gate(name).foreach(return _)
      withConf(rocksdbConf) {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val data = stagedDocs
        val chunkSize = math.max(1, data.length / chunks)
        val groups = data.grouped(chunkSize).toArray
        val input = MemoryStream[(Long, String, Long)]
        val events = input.toDF().toDF("doc_id", "fp", "tsus")
          .withColumn("ts", expr("timestamp_micros(tsus)")).drop("tsus")
        val dir = java.nio.file.Files.createTempDirectory(s"graftss_$name")
        val (ckpt, sink) = (s"$dir/ck", s"$dir/out")
        def startQ(): StreamingQuery = DocStreams.docAdmitStream(events).toDF()
          .writeStream.outputMode(OutputMode.Append())
          .format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).start()
        val series = new Series
        val q1 = startQ()
        val half = math.max(1, groups.length / 2)
        var i = 0
        try {
          while (i < half) {
            input.addData(groups(i).toIndexedSeq)
            q1.processAllAvailable(); series.record(q1); i += 1
          }
        } finally q1.stop()
        val stopBatch = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
        val q2 = startQ()
        try {
          while (i < groups.length) {
            input.addData(groups(i).toIndexedSeq)
            q2.processAllAvailable(); series.record(q2); i += 1
          }
        } finally q2.stop()
        val resumeBatch = q2.recentProgress.map(_.batchId)
          .foldLeft(Long.MaxValue)(math.min)
        val got = spark.read.parquet(sink)
        val twin = DocStreams.dedupAdmitChain(spark, sfDir)
          .transform(graft.Ckpt.cut)
        val mism = got.as("g").join(twin.as("t"), Seq("doc_id"), "full_outer")
          .filter(!(col("g.verdict") <=> col("t.verdict") &&
            col("g.matched_to") <=> col("t.matched_to")))
          .count()
        val (gotRows, twinRows) = (got.count(), twin.count())
        val (gotHash, twinHash) = (rowHash(got), rowHash(twin))
        require(mism == 0 && gotRows == twinRows && gotHash == twinHash,
          s"$name: restart output diverged from the batch twin " +
            s"(rows $gotRows/$twinRows, mismatches $mism, " +
            s"hash $gotHash/$twinHash)")
        println(s"STREAMSCALE $name batches=${series.rows.length} " +
          s"stopBatch=$stopBatch resumeBatch=$resumeBatch " +
          s"rows=$gotRows mismatches=$mism hash=$gotHash")
        writeFrag(name,
          s""""$name":{"sf_dir":"${jqs(sfDir)}","chunks_cfg":$chunks,""" +
            s""""stop_after_batch":$stopBatch,"resume_batch":$resumeBatch,""" +
            s""""verdict_rows":$gotRows,"twin_rows":$twinRows,""" +
            s""""mismatch_rows":$mism,"verdict_hash":"$gotHash",""" +
            s""""twin_hash":"$twinHash","batch_match":true,""" +
            series.fragmentCore(data.length) + "}")
      }
    }

    /** VERDICT item 2b: the same restart against the TIMER-heavy state
      * class — sessionCloseStreamV2's per-user open-session cells with
      * event-time timers. No closed-form twin exists for "sessions the
      * timers closed by end-of-replay" (tail sessions stay open), so
      * the reference is an UNINTERRUPTED run of the same leg on a
      * separate checkpoint: the restarted run's sink must equal it as a
      * multiset.
      */
    def runSessionCloseRestart(name: String): Option[String] = {
      gate(name).foreach(return _)
      withConf(rocksdbConf) {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val data = stagedEvents
        val chunkSize = math.max(1, data.length / chunks)
        val groups = data.grouped(chunkSize).toArray
        def mkStream(): (MemoryStream[(Long, Long, Long, String, Double)], DataFrame) = {
          val in = MemoryStream[(Long, Long, Long, String, Double)]
          val ev = in.toDF()
            .toDF("event_id", "tsus", "user_id", "event_type", "value")
            .withColumn("ts", expr("timestamp_micros(tsus)")).drop("tsus")
          (in, EventStreams.sessionCloseStreamV2(ev).toDF())
        }
        val dir = java.nio.file.Files.createTempDirectory(s"graftss_$name")
        def startQ(ds: DataFrame, tag: String): StreamingQuery = ds.writeStream
          .outputMode(OutputMode.Append())
          .format("parquet").option("path", s"$dir/out_$tag")
          .option("checkpointLocation", s"$dir/ck_$tag").start()
        // uninterrupted reference run
        val (inA, dsA) = mkStream()
        val qA = startQ(dsA, "base")
        try groups.foreach { g =>
          inA.addData(g.toIndexedSeq); qA.processAllAvailable()
        } finally qA.stop()
        // restarted run: stop at half, resume from the checkpoint
        val series = new Series
        val (inB, dsB) = mkStream()
        val q1 = startQ(dsB, "restart")
        val half = math.max(1, groups.length / 2)
        var i = 0
        try {
          while (i < half) {
            inB.addData(groups(i).toIndexedSeq)
            q1.processAllAvailable(); series.record(q1); i += 1
          }
        } finally q1.stop()
        val stopBatch = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
        val q2 = startQ(dsB, "restart")
        try {
          while (i < groups.length) {
            inB.addData(groups(i).toIndexedSeq)
            q2.processAllAvailable(); series.record(q2); i += 1
          }
        } finally q2.stop()
        val resumeBatch = q2.recentProgress.map(_.batchId)
          .foldLeft(Long.MaxValue)(math.min)
        val base = spark.read.parquet(s"$dir/out_base")
        val rest = spark.read.parquet(s"$dir/out_restart")
        val keys = base.columns.toSeq
        def counted(df: DataFrame, cn: String): DataFrame =
          df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(cn))
        val mism = counted(base, "_ca").join(counted(rest, "_cb"),
            keys, "full_outer")
          .filter(!(col("_ca") <=> col("_cb"))).count()
        val (baseRows, restRows) = (base.count(), rest.count())
        val (baseHash, restHash) = (rowHash(base), rowHash(rest))
        require(mism == 0 && baseRows == restRows && baseHash == restHash,
          s"$name: restarted run diverged from the uninterrupted run " +
            s"(rows $restRows/$baseRows, mismatches $mism)")
        println(s"STREAMSCALE $name batches=${series.rows.length} " +
          s"stopBatch=$stopBatch resumeBatch=$resumeBatch " +
          s"rows=$restRows mismatches=$mism hash=$restHash")
        writeFrag(name,
          s""""$name":{"sf_dir":"${jqs(sfDir)}","chunks_cfg":$chunks,""" +
            s""""stop_after_batch":$stopBatch,"resume_batch":$resumeBatch,""" +
            s""""closed_rows":$restRows,"baseline_rows":$baseRows,""" +
            s""""mismatch_rows":$mism,"verdict_hash":"$restHash",""" +
            s""""baseline_hash":"$baseHash","baseline_match":true,""" +
            series.fragmentCore(data.length) + "}")
      }
    }

    /** VERDICT item 3: disordered arrival at 100x volume. Every chunk
      * is internally PERMUTED (the processor's in-batch event-time sort
      * must heal it), a hash-chosen ~10% of delayable rows arrives one
      * chunk late but inside a widened watermark (the 732eb0d
      * late-tail path at volume), and a ~0.1% slice arrives three
      * chunks late — beyond the watermark, so the engine must DROP it
      * and the count is reported, not silent. Delayable = non-root
      * rows whose removal bridges no >horizon gap (selected
      * non-adjacently per fingerprint): for that class — PROVIDED the
      * arrival delay stays under the horizon (one chunk span < horizon,
      * required at runtime), so a late row can never find a successor
      * chain's root already live — stream == batch
      * EXACTLY (DocStreamsSpec pins the class at fixture scale and the
      * late-before-root divergence that motivates excluding roots —
      * Append mode cannot retract an emitted admit). Assertions:
      * verdicts == the batch twin over accepted rows, and
      * numRowsDroppedByWatermark == the planted far count.
      */
    def executorPids(): Seq[Long] = graft.Execs.childExecutorPids()

    /** The disorder leg, optionally composed with a mid-replay executor
      * SIGKILL (`killMidReplay` — the r12 verdict's loss × disorder
      * composition): the two guarantees the kill-free legs prove
      * separately must hold SIMULTANEOUSLY through a state reload —
      * sink == accepted-rows twin (no double-emits, no lost admits)
      * AND numRowsDroppedByWatermark == planted beyond-watermark rows
      * (the reloaded state must neither resurrect nor re-drop them).
      */
    def runDocAdmitDisorder(
        name: String, killMidReplay: Boolean = false): Option[String] = {
      gate(name).foreach(return _)
      if (killMidReplay && executorPids().size < 2 && onlyLegs.isEmpty) {
        println(s"STREAMSCALE $name skipped (cluster-only leg; " +
          s"master=$master has no executor JVMs)")
        return None
      }
      if (killMidReplay) require(executorPids().size >= 2,
        s"$name needs >=2 executor JVMs to kill one and survive " +
          s"(found ${executorPids().size}; master=$master — pass " +
          "SPARK_GRAFT_MASTER=local-cluster[n,c,m])")
      withConf(rocksdbConf) {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.expressions.Window
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val H = DocStreams.HorizonSec
        val base = DocStreams.fingerprintedDocs(spark, sfDir)
          .select($"doc_id", $"fp",
            (lit(DocStreams.ArrivalBaseSec) +
              $"doc_id" * DocStreams.ArrivalSpacingSec).as("t"))
        val b = base.agg(min($"t"), max($"t")).head()
        val (minT, maxT) = (b.getLong(0), b.getLong(1))
        val spanSec = (maxT - minT + chunks) / chunks
        // stream==twin for the delayable class additionally requires the
        // arrival delay (one chunk span) to be SHORTER than the horizon:
        // a successor chain's root sits >= horizon after the late row's
        // own chain tail, so with span < horizon it always ARRIVES after
        // the late row and the live cell is still the late row's own
        // chain. With span >= horizon (too-few chunks) the late row could
        // land on a successor chain's root — a verdict the event-time
        // twin never produces. Fail loudly instead of flaking.
        require(spanSec < H,
          s"$name: chunk span ${spanSec}s >= horizon ${H}s — raise the " +
            "chunk count so one-chunk-late arrivals stay inside their own " +
            "chain's live window")
        // 1.5x the chunk span, corpus-size-free: a 1-chunk-late row is
        // in-watermark by >=0.5 span (worst case wm = t - 0.5 span) and
        // a 3-chunk-late row is beyond it by >=0.5 span (worst case
        // wm = t + 0.5 span) — both margins scale with the corpus
        val wmDelaySec = 3L * spanSec / 2L
        val w = Window.partitionBy($"fp").orderBy($"t", $"doc_id")
        val marked = base
          .withColumn("prev_t", lag($"t", 1).over(w))
          .withColumn("next_t", lead($"t", 1).over(w))
          // delayable: a non-root whose removal bridges no >H gap
          .withColumn("cand",
            $"prev_t".isNotNull && ($"t" - $"prev_t") <= H &&
              ($"next_t".isNull || ($"next_t" - $"prev_t") <= H))
          .withColumn("h", pmod(xxhash64($"doc_id", lit("r12disorder")), lit(1000L)))
          .withColumn("presel", $"cand" && $"h" < 101L)
        val sel = marked
          // never two adjacent same-fp rows (each selected row's
          // next-prev predicate must speak for the on-time sequence)
          .withColumn("sel", $"presel" &&
            !coalesce(lag($"presel", 1).over(w), lit(false)) &&
            !coalesce(lead($"presel", 1).over(w), lit(false)))
          .withColumn("base_chunk",
            (($"t" - minT) * chunks / (maxT - minT + 1)).cast("long"))
          .withColumn("kind",
            when($"sel" && $"h" < 100L, "late")
              // far rows planted only where the watermark still
              // advances ≥2 chunk spans past them before they arrive
              .when($"sel" && $"h" === 100L && $"base_chunk" < chunks - 4L, "far")
              .otherwise("ontime"))
          .withColumn("arrival_chunk", $"base_chunk" +
            when($"kind" === "late", 1L).when($"kind" === "far", 3L)
              .otherwise(0L))
          .withColumn("perm", xxhash64($"doc_id", lit("perm")))
          .select($"doc_id", $"fp", $"t", $"arrival_chunk", $"perm", $"kind")
          .transform(graft.Ckpt.cut)
        val staged: Array[(Long, String, Long, Long)] = sel
          .orderBy($"arrival_chunk", $"perm", $"doc_id")
          .select($"doc_id", $"fp", $"t", $"arrival_chunk")
          .as[(Long, String, Long, Long)].collect()
        val lateCount = sel.filter($"kind" === "late").count()
        val farCount = sel.filter($"kind" === "far").count()

        val input = MemoryStream[(Long, String, Long)]
        val events = input.toDF().toDF("doc_id", "fp", "t")
          .withColumn("ts", expr("timestamp_seconds(t)")).drop("t")
        val dir = java.nio.file.Files.createTempDirectory(s"graftss_$name")
        val (ckpt, sink) = (s"$dir/ck", s"$dir/out")
        val q = DocStreams
          .docAdmitStream(events, watermarkDelay = s"$wmDelaySec seconds")
          .toDF()
          .writeStream.outputMode(OutputMode.Append())
          .format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).start()
        // watermark drops are per-batch metrics; lastProgress after a
        // chunk barrier may be a no-data timer batch, so sum across ALL
        // progress events via a listener (the ttlPoll discipline)
        val dropped = new java.util.concurrent.atomic.AtomicLong
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            if (e.progress.id == q.id)
              dropped.addAndGet(
                e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        }
        spark.streams.addListener(listener)
        // the scheduler's own view of the loss (killMidReplay only):
        // the artifact must prove Spark OBSERVED a removal, not just
        // that an OS kill was issued
        val removals = new java.util.concurrent.atomic.AtomicInteger
        val lossListener = new org.apache.spark.scheduler.SparkListener {
          override def onExecutorRemoved(
              e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
            removals.incrementAndGet(); ()
          }
        }
        if (killMidReplay) spark.sparkContext.addSparkListener(lossListener)
        val totalGroups = staged.iterator.map(_._4).distinct.length
        val halfGroup = math.max(1, totalGroups / 2)
        var killPid = -1L
        @volatile var killUtc = ""
        val series = new Series
        try {
          var i = 0
          var groupIdx = 0
          while (i < staged.length) {
            if (killMidReplay && groupIdx == halfGroup) {
              // arm the kill BEFORE feeding the half-way chunk so it
              // lands while processAllAvailable is blocked on the
              // running micro-batch — mid-batch, not between batches
              // (the runDocAdmitKill discipline)
              val victim = executorPids().head
              val killer = new Thread(() => {
                Thread.sleep(500)
                killUtc = java.time.Instant.now().toString
                ProcessHandle.of(victim).ifPresent(_.destroyForcibly()); ()
              }, s"$name-killer")
              killer.setDaemon(true)
              killPid = victim
              killer.start()
            }
            val c = staged(i)._4
            var j = i
            while (j < staged.length && staged(j)._4 == c) j += 1
            input.addData(staged.slice(i, j).toIndexedSeq
              .map(r => (r._1, r._2, r._3)))
            q.processAllAvailable(); series.record(q)
            i = j
            groupIdx += 1
          }
        } finally {
          // listener events are async: drain the shared bus before
          // reading the drop counter (the Bench BusDrain discipline)
          try org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
          catch { case _: Throwable => () }
          q.stop()
          spark.streams.removeListener(listener)
          if (killMidReplay) spark.sparkContext.removeSparkListener(lossListener)
        }
        if (killMidReplay) {
          require(killPid > 0 && !executorPids().contains(killPid),
            s"$name: kill never landed (pid=$killPid, " +
              s"after=${executorPids()})")
          require(removals.get() >= 1,
            s"$name: the scheduler never observed an executor removal — " +
              "the kill did not land on this session's cluster")
        }
        val got = spark.read.parquet(sink)
        val accepted = sel.filter($"kind" =!= "far")
          .select($"doc_id", $"fp", $"t")
        val twin = DocStreams.admitChainOf(accepted)
          .transform(graft.Ckpt.cut)
        val mism = got.as("g").join(twin.as("t"), Seq("doc_id"), "full_outer")
          .filter(!(col("g.verdict") <=> col("t.verdict") &&
            col("g.matched_to") <=> col("t.matched_to")))
          .count()
        val (gotRows, twinRows) = (got.count(), twin.count())
        val (gotHash, twinHash) = (rowHash(got), rowHash(twin))
        require(mism == 0 && gotRows == twinRows && gotHash == twinHash,
          s"$name: disordered stream diverged from the accepted-rows twin " +
            s"(rows $gotRows/$twinRows, mismatches $mism)")
        require(dropped.get() == farCount,
          s"$name: watermark dropped ${dropped.get()} rows, planted $farCount")
        val killInfo =
          if (!killMidReplay) ""
          else s""""master":"${jqs(master)}","kill_pid":$killPid,""" +
            s""""kill_utc":"${jqs(killUtc)}","kill_after_chunks":$halfGroup,""" +
            s""""executor_removals_observed":${removals.get()},"""
        println(s"STREAMSCALE $name batches=${series.rows.length} " +
          s"late=$lateCount far=$farCount dropped=${dropped.get()} " +
          (if (killMidReplay) s"killedPid=$killPid at=$killUtc " else "") +
          s"rows=$gotRows mismatches=$mism hash=$gotHash")
        writeFrag(name,
          s""""$name":{"sf_dir":"${jqs(sfDir)}","chunks_cfg":$chunks,""" +
            killInfo +
            s""""wm_delay_sec":$wmDelaySec,"late_rows":$lateCount,""" +
            s""""far_rows":$farCount,"dropped_by_watermark":${dropped.get()},""" +
            s""""verdict_rows":$gotRows,"twin_rows":$twinRows,""" +
            s""""mismatch_rows":$mism,"verdict_hash":"$gotHash",""" +
            s""""twin_hash":"$twinHash","batch_match":true,""" +
            series.fragmentCore(staged.length) + "}")
      }
    }

    /** Executor-kill during a LIVE stateful stream — the receipt class
      * the r12 batch kill legs (CORRECTNESS_kill*.txt) leave open: the
      * batch reruns a failed stage from immutable parquet, but a
      * stateful stream must reload RocksDB state + timers from the
      * checkpoint onto a SURVIVING executor mid-query and keep the
      * exactly-once sink contract. Requires a multi-process master
      * (SPARK_GRAFT_MASTER=local-cluster[...]): half-way through the
      * replay one CoarseGrainedExecutorBackend JVM is SIGKILLed
      * (ProcessHandle.destroyForcibly — a real OS kill, timestamped and
      * pid-recorded in the fragment) while the stream keeps consuming;
      * the finished sink must equal the oracled batch twin exactly.
      * Fails loudly under a single-JVM master instead of degrading to a
      * kill-free rerun of doc_admit.
      */
    def runDocAdmitKill(name: String): Option[String] = {
      gate(name).foreach(return _)
      withConf(rocksdbConf) {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val execsBefore = executorPids()
        if (execsBefore.size < 2 && onlyLegs.isEmpty) {
          // run-ALL on a single-JVM master: nothing to kill — skip with
          // a notice (ClusterOnlyLegs contract) instead of failing the
          // whole assembly
          println(s"STREAMSCALE $name skipped (cluster-only leg; " +
            s"master=$master has no executor JVMs)")
          return None
        }
        require(execsBefore.size >= 2,
          s"$name needs >=2 executor JVMs to kill one and survive " +
            s"(found ${execsBefore.size}; master=$master — pass " +
            "SPARK_GRAFT_MASTER=local-cluster[n,c,m])")
        val maxFailures = spark.conf.getOption("spark.task.maxFailures")
          .getOrElse("4")
        val data = stagedDocs
        val chunkSize = math.max(1, data.length / chunks)
        val groups = data.grouped(chunkSize).toArray
        val input = MemoryStream[(Long, String, Long)]
        val events = input.toDF().toDF("doc_id", "fp", "tsus")
          .withColumn("ts", expr("timestamp_micros(tsus)")).drop("tsus")
        val dir = java.nio.file.Files.createTempDirectory(s"graftss_$name")
        val (ckpt, sink) = (s"$dir/ck", s"$dir/out")
        // the scheduler's own view of the loss, recorded into the
        // fragment: the artifact must prove Spark OBSERVED a removal,
        // not just that an OS kill was issued
        val removals = new java.util.concurrent.atomic.AtomicInteger
        val lossListener = new org.apache.spark.scheduler.SparkListener {
          override def onExecutorRemoved(
              e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
            removals.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(lossListener)
        val q = DocStreams.docAdmitStream(events).toDF()
          .writeStream.outputMode(OutputMode.Append())
          .format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt).start()
        val series = new Series
        val half = math.max(1, groups.length / 2)
        var killPid = -1L
        @volatile var killUtc = ""
        try {
          groups.zipWithIndex.foreach { case (g, i) =>
            if (i == half) {
              // arm the kill BEFORE feeding the half-way chunk and let it
              // land ~0.5 s in, while processAllAvailable is blocked on
              // the running micro-batch — mid-batch, not between batches
              val victim = executorPids().head
              val killer = new Thread(() => {
                Thread.sleep(500)
                killUtc = java.time.Instant.now().toString
                ProcessHandle.of(victim).ifPresent(_.destroyForcibly())
              }, s"$name-killer")
              killer.setDaemon(true)
              killPid = victim
              killer.start()
            }
            input.addData(g.toIndexedSeq)
            q.processAllAvailable(); series.record(q)
          }
        } finally {
          try org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
          catch { case _: Throwable => () }
          q.stop()
          spark.sparkContext.removeSparkListener(lossListener)
        }
        val execsAfter = executorPids()
        require(killPid > 0 && !execsAfter.contains(killPid),
          s"$name: kill never landed (pid=$killPid, after=$execsAfter)")
        require(removals.get() >= 1,
          s"$name: the scheduler never observed an executor removal — " +
            "the kill did not land on this session's cluster")
        val got = spark.read.parquet(sink)
        val twin = DocStreams.dedupAdmitChain(spark, sfDir)
          .transform(graft.Ckpt.cut)
        val mism = got.as("g").join(twin.as("t"), Seq("doc_id"), "full_outer")
          .filter(!(col("g.verdict") <=> col("t.verdict") &&
            col("g.matched_to") <=> col("t.matched_to")))
          .count()
        val (gotRows, twinRows) = (got.count(), twin.count())
        val (gotHash, twinHash) = (rowHash(got), rowHash(twin))
        require(mism == 0 && gotRows == twinRows && gotHash == twinHash,
          s"$name: post-kill output diverged from the batch twin " +
            s"(rows $gotRows/$twinRows, mismatches $mism, " +
            s"hash $gotHash/$twinHash)")
        println(s"STREAMSCALE $name batches=${series.rows.length} " +
          s"killedPid=$killPid at=$killUtc " +
          s"execs=${execsBefore.size}->${execsAfter.size} " +
          s"rows=$gotRows mismatches=$mism hash=$gotHash")
        writeFrag(name,
          s""""$name":{"sf_dir":"${jqs(sfDir)}","chunks_cfg":$chunks,""" +
            s""""master":"${jqs(master)}","task_max_failures":"${jqs(maxFailures)}",""" +
            s""""kill_pid":$killPid,"kill_utc":"${jqs(killUtc)}",""" +
            s""""kill_after_chunks":$half,""" +
            s""""executor_removals_observed":${removals.get()},""" +
            s""""executors_before":${execsBefore.size},""" +
            s""""executors_at_end":${execsAfter.size},""" +
            s""""verdict_rows":$gotRows,"twin_rows":$twinRows,""" +
            s""""mismatch_rows":$mism,"verdict_hash":"$gotHash",""" +
            s""""twin_hash":"$twinHash","batch_match":true,""" +
            series.fragmentCore(data.length) + "}")
      }
    }

    val legRuns: Seq[(String, () => Option[String])] = Seq(
      ("session_agg",
        () => runLeg("session_agg", e => EventStreams.sessionAggStream(e))),
      ("dedup_watermark",
        () => runLeg("dedup_watermark", e => EventStreams.dedupStream(e))),
      ("interval_join",
        () => runLeg("interval_join",
          e => EventStreams.purchaseClickJoinStream(e))),
      // the OUTER variant is a strictly larger state class: an unmatched
      // purchase cannot emit its null-padded row until the click-side
      // watermark proves no match can still arrive, so state = the inner
      // join's buffers PLUS the unmatched tail awaiting the horizon
      ("interval_join_outer",
        () => runLeg("interval_join_outer",
          e => EventStreams.purchaseClickJoinOuterStream(e))),
      // the ADJUDICATED unbounded-retention leg: EWMA state is one cell
      // per distinct user FOREVER (a TTL would silently re-seed idle
      // users). The series should plateau at the user count — growth
      // tracking USERS, not events, is the measured form of that
      // adjudication (final_vs_input here is bounded by users/events).
      ("ewma_v2",
        () => runLeg("ewma_v2", e => EventStreams.ewmaStreamV2(e).toDF(),
          OutputMode.Update(), rocksdb = true)),
      // the drift monitor's state is ONE counter row per 6-hour window
      // under the 1-hour watermark: bounded by the event-time horizon,
      // independent of both volume and key cardinality — the flattest
      // series of the legs by construction
      ("drift_monitor",
        () => runLeg("drift_monitor", e => Drift.driftStream(e,
          Drift.baselineOf(spark, sfDir)
            .transform(graft.Ckpt.cut)))),
      // transformWithState twins at rehearsal volume (r9 verdict item
      // 6). The timer-driven session closer holds OPEN sessions only —
      // each event-time timer fires as the watermark passes gap past a
      // session's tail and evicts the cell, so state tracks CONCURRENT
      // sessions inside the watermark horizon, not ever-seen users
      ("session_close_v2",
        () => runLeg("session_close_v2",
          e => EventStreams.sessionCloseStreamV2(e).toDF(),
          OutputMode.Append(), rocksdb = true)),
      // ...and the TTL'd ListState rolling window: O(N) cells per key
      // with RECENT activity. The TTL clock is PROCESSING time, and the
      // replay compresses a month of event time into minutes of wall
      // clock, so a production-shaped TTL (hours) would never fire
      // mid-run — 60 s of wall clock is the replay-scaled stand-in that
      // actually exercises eviction at volume. Checkpoint file checksums
      // are disabled FOR THIS LEG ONLY (recorded in the fragment): the
      // r10 run's wall was 14/16 tasks parked in
      // ChecksumCheckpointFileManager.awaitResult — the TTL secondary
      // index multiplies RocksDB changelog files per batch, and at
      // replay compression the checksum round-trip dominates the
      // measurement without changing what is being measured (state
      // boundedness)
      ("rolling_avg_ttl",
        () => runLeg("rolling_avg_ttl",
          e => EventStreams.rollingAvgStreamV2(
            e, java.time.Duration.ofSeconds(60)).toDF(),
          OutputMode.Update(), rocksdb = true,
          extraConf = Map(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false"),
          ttlPoll = true)),
      // docs-as-stream dedup admission (r10 verdict item 6): state =
      // fingerprint chains alive inside the 1-day horizon (~17k at the
      // 5 s synthesized arrival spacing) regardless of corpus size
      ("doc_admit",
        () => driveLeg[(Long, String, Long)]("doc_admit", stagedDocs,
          df => df.toDF("doc_id", "fp", "tsus")
            .withColumn("ts", expr("timestamp_micros(tsus)"))
            .drop("tsus"),
          d => DocStreams.docAdmitStream(d).toDF(),
          OutputMode.Append(), rocksdb = true)),
      ("doc_admit_restart", () => runDocAdmitRestart("doc_admit_restart")),
      ("session_close_v2_restart",
        () => runSessionCloseRestart("session_close_v2_restart")),
      ("doc_admit_disorder", () => runDocAdmitDisorder("doc_admit_disorder")),
      ("doc_admit_kill", () => runDocAdmitKill("doc_admit_kill")),
      ("doc_admit_disorder_kill", () => runDocAdmitDisorder(
        "doc_admit_disorder_kill", killMidReplay = true)))
    // the single-registry assertion (r11 advice): the driven leg names
    // must BE the registry — a leg added to one list and not the other
    // fails here, before any artifact is written
    require(legRuns.map(_._1) == LegNames,
      s"leg registry drift: driven=${legRuns.map(_._1).mkString(",")} " +
        s"registry=${LegNames.mkString(",")}")
    val parts = legRuns.flatMap(_._2())
    val fields = Seq(s""""sf":"${jqs(sfDir)}"""", s""""chunks":$chunks""") ++ parts
    val json = fields.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json.take(500))
    if (ownsSession) spark.stop()
  }
}
