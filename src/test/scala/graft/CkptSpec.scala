package graft

import org.apache.spark.sql.DataFrame

/** Memo.frame — the self-healing cross-query checkpoint memo. The
  * failure it exists for: a memoized localCheckpoint's blocks
  * die after the fitting query finishes (executor cascade, or Verify's
  * inter-query unpersist hygiene), and since a localCheckpoint has no
  * lineage, every later consumer of the stale memo fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — observed live at the sf10
  * multi-process gate (the prefix-jaccard executor massacre poisoned
  * mixture_sample minutes later). The memo must refit instead.
  *
  * Memo entries are per session: a fresh `newSession()` starts cold,
  * concurrent callers of one cold key share a single fit, a fit that
  * throws is retried, and concurrent lanes sharing one session's memos
  * return the serial results. `Memo.latest` returns the newest completed
  * fit of a live session and never runs or waits for one; Verify's
  * between-query sweep spares the checkpoints behind live memo frames.
  * Every suite shares one SparkContext, so a stopped session is a stand-in
  * whose context reports the stopped flag the test sets.
  */
class CkptSpec extends SparkSpec {
  import spark.implicits._
  import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

  /** A session whose context's stopped flag is `stopped`, allocated
    * without running either constructor (a JVM holds one live
    * SparkContext): only the two fields Memo reads are set.
    */
  private def standInSession(stopped: AtomicBoolean): org.apache.spark.sql.SparkSession = {
    val objenesis = new org.objenesis.ObjenesisStd
    def set(o: AnyRef, cls: Class[_], field: String, v: AnyRef): Unit = {
      val f = cls.getDeclaredField(field)
      f.setAccessible(true)
      f.set(o, v)
    }
    val sc = objenesis.newInstance(classOf[org.apache.spark.SparkContext])
    set(sc, classOf[org.apache.spark.SparkContext], "stopped", stopped)
    val s = objenesis.newInstance(spark.getClass)
    set(s, spark.getClass, "sparkContext", sc)
    s
  }

  private def fitFrame(mark: java.util.concurrent.atomic.AtomicInteger): DataFrame = {
    mark.incrementAndGet()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
  }

  test("Memo.frame: hit returns the same checkpointed frame, no refit") {
    val fits = new java.util.concurrent.atomic.AtomicInteger
    val first = Memo.frame(spark, ("ckpt_spec", "d1"))(fitFrame(fits))
    val second = Memo.frame(spark, ("ckpt_spec", "d1"))(fitFrame(fits))
    assert(fits.get() == 1, "second call must reuse the memo")
    assert(second eq first, "hit must return the cached instance")
    assert(second.count() == 3)
  }

  test("Memo.frame: dead checkpoint blocks trigger a refit, not a poison") {
    val fits = new java.util.concurrent.atomic.AtomicInteger
    val first = Memo.frame(spark, ("ckpt_spec", "d2"))(fitFrame(fits))
    assert(first.count() == 3)
    // kill the checkpoint the way Verify's hygiene (or an executor
    // cascade) does: unpersist the truncated-lineage RDD's blocks —
    // only this frame's, so other suites' memo frames in the shared
    // SparkSession stay alive
    val own = first.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if own(id) => rdd }
      .foreach(_.unpersist(blocking = true))
    val healed = Memo.frame(spark, ("ckpt_spec", "d2"))(fitFrame(fits))
    assert(fits.get() == 2, "dead blocks must force a refit")
    assert(healed.count() == 3, "the refitted frame must evaluate")
    // and the healed frame is re-memoized: a third call reuses it
    val third = Memo.frame(spark, ("ckpt_spec", "d2"))(fitFrame(fits))
    assert(fits.get() == 2)
    assert(third eq healed)
  }

  test("Memo: a fresh newSession() fits again; the first session still hits") {
    val fits = new java.util.concurrent.atomic.AtomicInteger
    val first = Memo(spark, ("ckpt_spec", "d3"))(fitFrame(fits))
    val fresh = spark.newSession()
    val other = Memo(fresh, ("ckpt_spec", "d3"))(fitFrame(fits))
    assert(fits.get() == 2, "a new session must not see the first session's memo")
    assert(!(other eq first))
    assert(Memo(spark, ("ckpt_spec", "d3"))(fitFrame(fits)) eq first)
    assert(Memo(fresh, ("ckpt_spec", "d3"))(fitFrame(fits)) eq other)
    assert(fits.get() == 2)
  }

  test("Memo: 4 concurrent callers of a cold key fit it once") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      for ((key, memo) <- Seq[(String, (=> DataFrame) => DataFrame)](
          "d4" -> (fit => Memo(spark, ("ckpt_spec", "d4"))(fit)),
          "d5" -> (fit => Memo.frame(spark, ("ckpt_spec", "d5"))(fit)))) {
        val fits = new java.util.concurrent.atomic.AtomicInteger
        val go = new java.util.concurrent.CountDownLatch(1)
        val callers = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = {
            go.await()
            memo { Thread.sleep(300); fitFrame(fits) }
          }
        }))
        go.countDown()
        val got = callers.map(_.get())
        assert(fits.get() == 1, s"$key: the waiting callers must not fit again")
        assert(got.forall(_ eq got.head), s"$key: every caller gets the one fitted value")
        assert(got.head.count() == 3)
      }
    } finally pool.shutdown()
  }

  test("Memo: a fit that throws is retried by the next caller") {
    for ((key, memo) <- Seq[(String, (=> DataFrame) => DataFrame)](
        "d6" -> (fit => Memo(spark, ("ckpt_spec", "d6"))(fit)),
        "d7" -> (fit => Memo.frame(spark, ("ckpt_spec", "d7"))(fit)))) {
      val fits = new java.util.concurrent.atomic.AtomicInteger
      intercept[IllegalStateException] {
        memo { fits.incrementAndGet(); throw new IllegalStateException("fit failed") }
      }
      val df = memo(fitFrame(fits))
      assert(fits.get() == 2, s"$key: the failed fit must not be memoized")
      assert(memo(fitFrame(fits)) eq df, s"$key: the retried fit is memoized")
      assert(fits.get() == 2)
    }
  }

  test("Memo: 4 concurrent lanes on a fresh session equal the serial run") {
    // every query that reads a memo another query of the list also reads
    val names = Seq("dedup_blocking_eval", "dedup_minhash_pairs",
      "dedup_simhash_pairs", "dedup_edit_pairs", "graph_triangles",
      "graph_kcore", "dedup_clusters", "dedup_survivors", "mixture_sample",
      "embed_pca_power", "embed_pca_residuals", "bpe_merges", "bpe_vocab")
    val queries = SparkEntry.selected(Some(names.mkString(",")))
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val serialSession = spark.newSession()
    val serial = names.map(n => n -> sorted(queries(n)(serialSession, sf))).toMap
    // BenchConcurrency's lanes: a fixed pool of 4 driver threads, every
    // query submitted at once against one session
    val lanes = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = names.map { n =>
        n -> pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = sorted(queries(n)(lanes, sf))
        })
      }
      futures.foreach { case (n, f) =>
        val got = f.get()
        assert(got.nonEmpty, s"$n: empty result")
        assert(got == serial(n), s"$n: concurrent result differs from the serial run")
      }
    } finally pool.shutdown()
  }

  test("Memo.latest: the newest completed fit under a tag wins across dirs") {
    val s = spark.newSession()
    Memo(s, ("latest_spec_a", "d1"))("one")
    Memo(s, ("latest_spec_a", "d2"))("two")
    assert(Memo.latest[String]("latest_spec_a").contains("two"))
    // a hit completes no fit, so it does not change the answer
    assert(Memo(s, ("latest_spec_a", "d1"))("unused") == "one")
    assert(Memo.latest[String]("latest_spec_a").contains("two"))
    Memo(s, ("latest_spec_a", "d3"))("three")
    assert(Memo.latest[String]("latest_spec_a").contains("three"))
  }

  test("Memo.latest: a stopped session's entries are not returned") {
    val stopped = new AtomicBoolean(false)
    val s = standInSession(stopped)
    Memo(s, ("latest_spec_b", "d1"))("live")
    assert(Memo.latest[String]("latest_spec_b").contains("live"))
    stopped.set(true)
    assert(Memo.latest[String]("latest_spec_b").isEmpty)
  }

  test("Memo.latest: a running or failed fit is not returned, and the read never runs or waits for one") {
    val s = spark.newSession()
    val fits = new AtomicInteger
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      val fit = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = Memo(s, ("latest_spec_c", "d1")) {
          fits.incrementAndGet(); started.countDown(); release.await(); "done"
        }
      })
      started.await()
      // the fit is blocked on `release`: a read that waited would hang here
      assert(Memo.latest[String]("latest_spec_c").isEmpty)
      assert(!fit.isDone)
      release.countDown()
      assert(fit.get() == "done")
      assert(Memo.latest[String]("latest_spec_c").contains("done"))
      assert(fits.get() == 1)
    } finally { release.countDown(); pool.shutdown() }
    intercept[IllegalStateException] {
      Memo(s, ("latest_spec_d", "d1")) { fits.incrementAndGet(); throw new IllegalStateException("fit failed") }
    }
    assert(Memo.latest[String]("latest_spec_d").isEmpty)
    assert(Memo.latest[String]("latest_spec_never_fitted").isEmpty)
    assert(fits.get() == 2, "reads must not run a fit")
  }

  test("Verify.sweep spares live Memo.frame checkpoints and unpersists the rest") {
    val fits = new AtomicInteger
    val first = Memo.frame(spark, ("ckpt_spec", "d8"))(fitFrame(fits))
    assert(first.count() == 3)
    val debris = Ckpt.cut(Seq(1L, 2L).toDF("k"))
    val debrisIds = debris.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(debrisIds.nonEmpty && debrisIds.forall(spark.sparkContext.getPersistentRDDs.contains))
    Verify.sweep(spark)
    assert(debrisIds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "a query's leftover checkpoint must be unpersisted")
    val again = Memo.frame(spark, ("ckpt_spec", "d8"))(fitFrame(fits))
    assert(fits.get() == 1, "the sweep must not make the memo refit")
    assert(again eq first)
    assert(again.count() == 3)
  }

  test("cut is the catalog lineage cut: materialized, truncated, value-preserving") {
    import spark.implicits._
    val src = Seq((1L, "a"), (2L, null: String), (3L, "c")).toDF("k", "v")
    val cut = Ckpt.cut(src)
    // lineage is gone (a localCheckpoint leaf), values are intact
    assert(cut.rdd.toDebugString.contains("CheckpointRDD") ||
      cut.queryExecution.analyzed.toString.contains("LogicalRDD"))
    assert(cut.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }
}
