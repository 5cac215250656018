package graft

import org.apache.spark.storage.StorageLevel

/** THIS session's executor processes only: under local-cluster the
  * Workers run inside the driver JVM, so its executors are this
  * process's direct children — scoping by parent pid keeps a kill away
  * from any OTHER Spark job on the box (the smoke run that motivated
  * this killed a concurrent session's executor and measured nothing).
  * Used by [[DecommissionRehearsal]] to pick the executors it drains.
  */
object Execs {
  def childExecutorPids(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala
      .filter(h => h.parent()
        .map[Boolean](p => p.pid() == self).orElse(false))
      .filter(h => h.info().commandLine()
        .map[Boolean](_.contains("CoarseGrainedExecutorBackend"))
        .orElse(false))
      .map(_.pid()).toSeq.sorted
  }
}

object Ckpt {
  /** Storage level for every catalog `localCheckpoint`: replicated x2.
    *
    * Why: `localCheckpoint` TRUNCATES lineage — its blocks live only on
    * executors, and with the default single-replica storage level an
    * executor loss makes the query unrecoverable
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — observed live the first time an
    * executor JVM was SIGKILLed mid-`basket_rules` on
    * local-cluster[4,8,8192], r12). The reference engine's stated
    * fault-tolerance bar is surviving ONE worker failure (README.md:291,
    * the T2 row); a second replica is exactly that bar re-expressed for
    * executor-cached blocks: any single executor can die and every
    * checkpointed partition still has a live copy. Memory cost is 2x the
    * checkpointed frame — bounded by the catalog's fit discipline (the
    * frames are driver-fit-sized or calendar/domain-bounded by
    * construction). In single-JVM `local[*]` there are no peers, so
    * replication silently degrades to one copy and local benches are
    * unaffected.
    *
    * Queries that must survive MULTIPLE simultaneous executor losses
    * move to reliable `checkpoint()` on shared storage via the
    * [[Ckpt.Reliable]] switch — exercised by the two-kill rehearsal
    * (CORRECTNESS_kill2.txt).
    */
  val ReplicatedLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_2

  /** Reliable-checkpoint switch. Replicated localCheckpoint (the
    * default) survives any SINGLE executor loss; a simultaneous loss of
    * BOTH replica holders still strands the frame. The cluster posture
    * for that tier is reliable `checkpoint()` on shared storage (HDFS/
    * S3; a shared local path on local-cluster), which survives any
    * number of executor deaths because no block lives on an executor.
    * SPARK_GRAFT_RELIABLE_CKPT=1 swaps EVERY catalog lineage cut at
    * once — the multi-loss rehearsal (CORRECTNESS_kill2.txt) runs the
    * checkpoint-dependent queries in this mode and SIGKILLs two
    * executors in the same second mid-query.
    */
  val Reliable: Boolean =
    sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").contains("1")

  /** The catalog-wide lineage cut: every query-side checkpoint goes
    * through here so the storage tier is a deployment decision, not 67
    * call-site decisions. Eager in both modes — the sites depend on
    * materialize-once semantics.
    *
    * Reliable-mode housekeeping: checkpoint FILES outlive the RDDs that
    * wrote them (the session hygiene unpersist only drops blocks), and
    * one full catalog pass at sf0.01 leaves 91 rdd-* dirs on the shared
    * path (measured, CORRECTNESS_kill2.txt). Long-lived reliable-mode
    * sessions should set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a static
    * SparkConf — it must be on the session builder, which is why it
    * cannot be set here) so the ContextCleaner deletes dirs when their
    * RDDs are collected; the bounded rehearsal legs instead remove
    * their checkpoint dir whole after the oracle check.
    */
  def cut[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    if (!Reliable) ds.localCheckpoint(true, ReplicatedLevel)
    else {
      val sc = ds.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR",
          sys.error("SPARK_GRAFT_RELIABLE_CKPT=1 requires " +
            "SPARK_GRAFT_CKPT_DIR (the shared checkpoint path)")))
      ds.checkpoint(true)
    }

  /** Replicated local checkpoint for DATA-SCALE frames: bound the block
    * size first. BlockManager.replicate serializes a WHOLE block into
    * one contiguous upload buffer, and AQE coalesces an aggregate's
    * output to the 64 MB-compressed advisory target — at the 100x
    * corpus that made basket_rules' checkpointed basket frame ~130 MB+
    * per block and 8 concurrent replicating tasks OOM'd even 24 GB
    * executors (r12, measured). An EXPLICIT repartition count (AQE
    * never re-coalesces a user-specified count) divides the frame into
    * session-shuffle-partition-sized blocks, so the upload buffer stays
    * bounded at any corpus size. The added round-robin exchange is the
    * price — use this ONLY where no downstream consumer reuses the
    * frame's partitioning (a key-partitioned shared frame that IS
    * reused must stay on [[ReplicatedLevel]] with its own partitioning
    * and keep its blocks bounded by keyed partition count instead).
    */
  def sharded(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    cut(df.repartition(n))
  }
}

/** The one owner of cross-query session memos: values a query fits
  * once and later queries of the same session reuse (scan plans, shared
  * edge and pair lists, driver-side fits). An entry is keyed on the
  * session OBJECT plus a key that starts with its call site's literal
  * tag, e.g. `("minhash_pairs", dir)`, so a fresh `newSession()` starts
  * with every memo cold. A DataFrame pins its session, so on every miss
  * the entries of stopped sessions are dropped. Fits are single-flight:
  * the first caller of a cold key fits it, and concurrent callers of the
  * same key wait for that fit instead of repeating its jobs and
  * checkpoints. A fit that throws leaves the key cold for the next
  * caller. [[latest]] reads completed fits without running one: the
  * data-fitted oracles embed the constants their queries used.
  */
object Memo {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** One key's fit: the first `value` runs it, later ones wait for it
    * (a lazy val locks its holder), and a throwing fit runs again on the
    * next `value`. `done` holds a completed fit's value and its
    * completion stamp.
    */
  private final class Holder(fit: => Any) {
    @volatile var done: Option[(Long, Any)] = None
    lazy val value: Any = {
      val v = fit
      done = Some((completions.incrementAndGet(), v))
      v
    }
  }

  private val completions = new java.util.concurrent.atomic.AtomicLong

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Any), Holder]

  /** Completed values of live sessions' entries, with their keys. */
  private def completed: Iterator[(Any, (Long, Any))] =
    entries.iterator.collect {
      case ((s, key), h) if h.done.isDefined && !s.sparkContext.isStopped =>
        (key, h.done.get)
    }

  /** The most recently completed value whose key starts with `tag`, from
    * a session that is still live. Never runs or waits for a fit.
    */
  def latest[T](tag: Any): Option[T] =
    completed
      .collect { case (key: Product, done) if key.productIterator.nextOption().contains(tag) => done }
      .maxByOption(_._1).map(_._2.asInstanceOf[T])

  /** The ids of the persisted RDDs that live entries' frames read: the
    * checkpoint blocks that session hygiene between queries must spare.
    */
  def pinnedRdds: Set[Int] =
    completed.flatMap {
      case (_, (_, ds: org.apache.spark.sql.Dataset[_])) =>
        ds.queryExecution.logical.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        }
      case _ => Nil
    }.toSet

  /** A driver value or an uncheckpointed frame, fitted once per key. */
  def apply[T](spark: SparkSession, key: Any)(fit: => T): T = {
    val k = (spark, key)
    val h = entries.getOrElse(k, claim(k, new Holder(fit)))
    try h.value.asInstanceOf[T]
    catch { case e: Throwable => entries.remove(k, h); throw e }
  }

  /** A [[Ckpt.cut]] frame, self-healing. A localCheckpoint has NO
    * lineage to recompute from, and a memoized one outlives the query
    * that fitted it — if its blocks die in the meantime (an executor
    * cascade takes both replicas, or a between-query unpersist that
    * does not spare [[pinnedRdds]]), every later
    * consumer would fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    * forever (observed live: the sf10 gate's prefix-jaccard executor
    * massacre poisoned the mixture queries minutes later). Probe the
    * cached frame before handing it out and refit on ANY failure: one
    * cheap head(1) per call buys a memo that can never poison the
    * session. Only frames SMALL by construction (fit tables, capped
    * edge lists) belong here — the probe re-runs the fit on a miss.
    * The probe removes only the holder it probed, so a refit another
    * caller already stored survives.
    */
  def frame(spark: SparkSession, key: Any)(fit: => DataFrame): DataFrame = {
    val k = (spark, key)
    entries.get(k) match {
      case None => apply(spark, key)(Ckpt.cut(fit))
      case Some(h) =>
        val probed =
          try { val df = h.value.asInstanceOf[DataFrame]; df.head(1); Some(df) }
          catch { case _: Throwable => entries.remove(k, h); None }
        probed.getOrElse(frame(spark, key)(fit))
    }
  }

  /** Stores `h` for a cold key and drops stopped sessions' entries, or
    * returns the holder another caller stored first.
    */
  private def claim(k: (SparkSession, Any), h: Holder): Holder =
    entries.putIfAbsent(k, h).getOrElse {
      entries.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      h
    }
}
