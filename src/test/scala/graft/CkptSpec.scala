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
  * and concurrent lanes sharing one session's memos return the serial
  * results. Dropping the entries of a stopped session is not tested:
  * every suite shares one SparkContext, and stopping it would stop them
  * all.
  */
class CkptSpec extends SparkSpec {
  import spark.implicits._

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
    // cascade) does: unpersist the truncated-lineage RDD's blocks
    spark.sparkContext.getPersistentRDDs.values
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

  test("cut is the catalog lineage cut: materialized, truncated, value-preserving") {
    import spark.implicits._
    val src = Seq((1L, "a"), (2L, null: String), (3L, "c")).toDF("k", "v")
    val cut = Ckpt.cut(src)
    // lineage is gone (a localCheckpoint leaf), values are intact
    assert(cut.rdd.toDebugString.contains("CheckpointRDD") ||
      cut.queryExecution.analyzed.toString.contains("LogicalRDD"))
    assert(cut.orderBy("k").collect().toSeq == src.orderBy("k").collect().toSeq)
  }

  test("RowHash: order-independent, null-safe, and value-sensitive") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, null: String), (3L, "z")).toDF("k", "v")
    val shuffled = Seq((3L, "z"), (1L, "x"), (2L, null: String)).toDF("k", "v")
    assert(RowHash.of(a) == RowHash.of(shuffled), "row order must not matter")
    val changed = Seq((1L, "x"), (2L, null: String), (3L, "Z")).toDF("k", "v")
    assert(RowHash.of(a) != RowHash.of(changed), "a changed value must change the hash")
    // the NUL sentinel: a LITERAL "null" string is not a null
    val litNull = Seq((2L, "null")).toDF("k", "v")
    val realNull = Seq((2L, null: String)).toDF("k", "v")
    assert(RowHash.of(litNull) != RowHash.of(realNull))
    assert(RowHash.of(spark.emptyDataFrame.withColumn("k",
      org.apache.spark.sql.functions.lit(1L)).filter("k = 2")) == "0")
  }
}
