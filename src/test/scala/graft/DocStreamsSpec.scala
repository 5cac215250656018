package graft

import graft.streaming.DocStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming dedup-admission == batch chain twin, on synthetic chains
  * that exercise every verdict path the fixture corpus lacks (it has
  * zero byte-exact dups): within-horizon dup, chain extension past the
  * head's own horizon, cross-gap re-admission, and batch-internal dups.
  * The streaming test additionally pins STATE EVICTION — the gap rule
  * alone yields correct verdicts even with leaking state, so the leak
  * is only observable in the state-store row count.
  */
class DocStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val H = DocStreams.HorizonSec
  private val B = DocStreams.ArrivalBaseSec

  /** (doc_id, fp, t-seconds): three fingerprints with chain structure.
    * fpA: head 10, dup at +1h, extension at exactly horizon after the
    * tail (past the HEAD's own horizon — still the same chain), then a
    * sighting a full horizon+1s after that tail → NEW chain (re-admit).
    * fpB: a singleton. fpC: two docs 1s apart (same-batch dup).
    */
  private val docs: Seq[(Long, String, Long)] = Seq(
    (10L, "fpA", B),
    (11L, "fpA", B + 3600L),
    (12L, "fpA", B + H),             // gap H-3600 ≤ H: extends chain 1
    (13L, "fpA", B + 2L * H + 1L),   // gap H+1 > H: new chain
    (20L, "fpB", B + 500L),
    (30L, "fpC", B + 1000L),
    (31L, "fpC", B + 1001L))

  private val want: Set[(Long, String, Option[Long])] = Set(
    (10L, "admit", None), (11L, "drop_dup", Some(10L)),
    (12L, "drop_dup", Some(10L)), (13L, "admit", None),
    (20L, "admit", None),
    (30L, "admit", None), (31L, "drop_dup", Some(30L)))

  test("batch admit chain on synthetic chains") {
    val f = docs.toDF("doc_id", "fp", "t")
    val got = DocStreams.admitChainOf(f).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got === want)
  }

  test("streaming admission == batch chain twin, and expired chains leave the state store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val stream = input.toDF().toDF("doc_id", "fp", "t")
        .withColumn("ts", expr("timestamp_seconds(t)")).drop("t")
      val q = DocStreams.docAdmitStream(stream).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("doc_admit_out").start()
      try {
        // event-time-ordered chunks so the watermark advances between
        // batches; the last two far-future singletons push it past
        // every earlier chain's tail+horizon, so their batches both
        // FIRE the eviction timers and land fresh state to compare
        // against
        val flushed = docs ++
          Seq((40L, "fpD", B + 10L * H), (50L, "fpE", B + 10L * H + 100L))
        val ordered = flushed.sortBy(d => (d._3, d._1))
        val chunks = Seq(ordered.take(5), Seq(ordered(5)), Seq(ordered(6)),
          Seq(ordered(7)), Seq(ordered(8)))
        val stateRows = chunks.map { c =>
          input.addData(c)
          q.processAllAvailable()
          Option(q.lastProgress).toSeq
            .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
        }
        val got = spark.table("doc_admit_out").collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        assert(got === want + ((40L, "admit", None)) + ((50L, "admit", None)))
        // eviction: by the final batch the watermark (10H+100-3600) is
        // past tail+H of every chain except fpD/fpE, so only those two
        // cells (+ their timers) may remain — strictly below the
        // mid-run peak that held fpA/fpB/fpC simultaneously
        // (≤6 not ==2: numRowsTotal may count timer column-family rows
        // alongside the two live value cells)
        assert(stateRows.max >= 3, s"state series $stateRows never held the live chains")
        assert(stateRows.last <= 6 && stateRows.last < stateRows.max,
          s"expired chains were not evicted: $stateRows")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("late within-watermark arrival cannot regress the chain tail (stream == batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val stream = input.toDF().toDF("doc_id", "fp", "t")
        .withColumn("ts", expr("timestamp_seconds(t)")).drop("t")
      val q = DocStreams.docAdmitStream(stream).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("doc_late_out").start()
      try {
        // batch 1 ends at tail B+3600; batch 2's first row is LATE
        // (t=B+1800 > the watermark B) and must NOT regress the tail:
        // doc 16 at exactly tail+H is a dup of the chain root, which a
        // regressed tail (B+1800) would wrongly re-admit
        input.addData(Seq((10L, "fpA", B), (11L, "fpA", B + 3600L)))
        q.processAllAvailable()
        input.addData(Seq((15L, "fpA", B + 1800L),
          (16L, "fpA", B + 3600L + H)))
        q.processAllAvailable()
        val got = spark.table("doc_late_out").collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        val batch = Seq((10L, "fpA", B), (11L, "fpA", B + 3600L),
          (15L, "fpA", B + 1800L), (16L, "fpA", B + 3600L + H))
          .toDF("doc_id", "fp", "t")
        val want = DocStreams.admitChainOf(batch).collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        assert(want.contains((16L, "drop_dup", Some(10L))))
        assert(got === want)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("late row preceding the chain root: pinned arrival semantics (documented stream/batch divergence)") {
    // The ONE case where stream and twin cannot agree (Append mode
    // cannot retract the root's `admit`): a within-watermark late row
    // whose t is EARLIER than the live chain's root. Pinned semantics:
    // the stream drops it onto the EMITTED root and never rewrites the
    // root; the batch twin would crown the earlier-t row. This test is
    // the contract in DocStreams' scaladoc made executable.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val stream = input.toDF().toDF("doc_id", "fp", "t")
        .withColumn("ts", expr("timestamp_seconds(t)")).drop("t")
      val q = DocStreams.docAdmitStream(stream).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("doc_preroot_out").start()
      try {
        // batch 1: doc 10 at B+1800 admitted (the emitted root).
        // batch 2: doc 9 at B arrives late (within the 1h watermark,
        // t - last_ms = -1800 <= horizon) — earlier than the root.
        input.addData(Seq((10L, "fpA", B + 1800L)))
        q.processAllAvailable()
        input.addData(Seq((9L, "fpA", B), (11L, "fpA", B + 2000L)))
        q.processAllAvailable()
        val got = spark.table("doc_preroot_out").collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        // arrival semantics: 10 stays the root; 9 and 11 both drop on it
        assert(got === Set((10L, "admit", None),
          (9L, "drop_dup", Some(10L)), (11L, "drop_dup", Some(10L))))
        // ...and the batch twin DISAGREES by construction (9 is its
        // root) — the documented divergence, asserted so a future
        // "fix" that silently changes either side trips this pin
        val twin = DocStreams.admitChainOf(
          Seq((10L, "fpA", B + 1800L), (9L, "fpA", B), (11L, "fpA", B + 2000L))
            .toDF("doc_id", "fp", "t")).collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        assert(twin === Set((9L, "admit", None),
          (10L, "drop_dup", Some(9L)), (11L, "drop_dup", Some(9L))))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("chunk-late NON-ROOT row (the disorder-leg delayable class): stream == batch exactly") {
    // The doc_admit_disorder leg of STREAM_sf10.json delayed only
    // non-root rows whose removal bridges no >horizon gap; this is that
    // class at fixture scale: doc 11 (a mid-chain dup) arrives one batch late,
    // after its event-time successor 12 was already processed. The
    // successor still links (12.t - 10.t <= horizon — the leg's
    // non-bridge predicate), the late row lands on the live chain, and
    // every verdict equals the event-time batch twin.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val stream = input.toDF().toDF("doc_id", "fp", "t")
        .withColumn("ts", expr("timestamp_seconds(t)")).drop("t")
      val q = DocStreams.docAdmitStream(stream, watermarkDelay = "2 hours")
        .toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("doc_disorder_out").start()
      try {
        val all = Seq((10L, "fpA", B), (11L, "fpA", B + 1800L),
          (12L, "fpA", B + 3600L), (13L, "fpA", B + 5400L))
        input.addData(Seq(all(0), all(2))) // 11 held back one batch
        q.processAllAvailable()
        input.addData(Seq(all(1), all(3))) // 11 arrives late, in-watermark
        q.processAllAvailable()
        val got = spark.table("doc_disorder_out").collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        val twin = DocStreams.admitChainOf(all.toDF("doc_id", "fp", "t"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
        assert(got === twin)
        assert(got === Set((10L, "admit", None), (11L, "drop_dup", Some(10L)),
          (12L, "drop_dup", Some(10L)), (13L, "drop_dup", Some(10L))))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("beyond-watermark row is dropped BEFORE the processor and counted in numRowsDroppedByWatermark") {
    // the disorder leg's far-row contract: the engine (not our code)
    // drops a row older than the watermark, the verdict stream never
    // sees it, and the per-batch metric reports it — asserted here so
    // the 100x leg's dropped==planted gate rests on a wired metric
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String, Long)]
      val stream = input.toDF().toDF("doc_id", "fp", "t")
        .withColumn("ts", expr("timestamp_seconds(t)")).drop("t")
      val q = DocStreams.docAdmitStream(stream).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("doc_wmdrop_out").start()
      val droppedTotal = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.id == q.id)
            droppedTotal.addAndGet(
              e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
      spark.streams.addListener(listener)
      try {
        // batch 1 advances the watermark to B+8h-1h; batch 2's doc 9
        // (t=B, 7h older than the watermark) must be DROPPED — no
        // verdict — while doc 11 passes
        input.addData(Seq((10L, "fpA", B + 8L * 3600L)))
        q.processAllAvailable()
        input.addData(Seq((9L, "fpA", B), (11L, "fpA", B + 8L * 3600L + 10L)))
        q.processAllAvailable()
        val got = spark.table("doc_wmdrop_out").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got === Set((10L, "admit"), (11L, "drop_dup")),
          s"dropped row leaked a verdict: $got")
        // listener delivery is async — drain the bus before reading
        org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
        assert(droppedTotal.get() == 1L,
          s"numRowsDroppedByWatermark not wired: ${droppedTotal.get()}")
      } finally {
        q.stop()
        spark.streams.removeListener(listener)
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("batch chain root is the FIRST ARRIVAL, not min(doc_id)") {
    // doc_id order deliberately disagrees with arrival order: the
    // stream admits doc 100 (it arrived first) and drops doc 5 onto it;
    // the batch twin must agree
    val f = Seq((100L, "fpY", B), (5L, "fpY", B + 100L)).toDF("doc_id", "fp", "t")
    val got = DocStreams.admitChainOf(f).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got === Set((100L, "admit", None), (5L, "drop_dup", Some(100L))))
  }

  test("dedup_admit_chain catalog query: fixture prefix collisions produce drops, roots self-consistent") {
    val out = DocStreams.dedupAdmitChain(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(out.length === Tables.documents(spark, sf).count())
    // the fixture has prefix-fingerprint collisions (8-token prefix),
    // so the drop path is live at every test scale
    val drops = out.filter(_._2 == "drop_dup")
    assert(drops.nonEmpty, "expected prefix-collision drops in the fixture")
    val admits = out.filter(_._2 == "admit").map(_._1).toSet
    // every drop points at an admitted, earlier doc
    drops.foreach { case (id, _, m) =>
      assert(m.exists(r => admits(r) && r < id), s"doc $id matched_to $m")
    }
    // admits carry no match
    assert(out.filter(_._2 == "admit").forall(_._3.isEmpty))
  }
}
