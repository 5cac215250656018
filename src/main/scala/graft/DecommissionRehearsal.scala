package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Graceful executor decommission with shuffle-block MIGRATION — the
  * planned-drain twin of the SIGKILL receipts (CORRECTNESS_kill*.txt,
  * STREAM_kill.json). A crash proves retry; decommission proves the
  * engine can lose a worker WITHOUT losing its work: on SIGPWR
  * (`spark.executor.decommission.signal`) the executor stops accepting
  * tasks, ships its shuffle map outputs to surviving peers
  * (`spark.storage.decommission.shuffleBlocks.enabled`), updates the
  * MapOutputTracker, and exits — reducers then fetch the dead
  * executor's map outputs from their NEW homes with no recompute. At
  * 100 TB this is the spot-instance/preemption path: draining 100
  * executors must not re-run 100 executors' worth of map work.
  *
  * The receipt must rule out the cheap alternative (stage resubmission
  * recomputing the lost map outputs), so the run sequences the race as
  * two JOBS over ONE shuffle instead of hoping: job A computes a single
  * reduce partition — that materializes ALL map outputs and nothing
  * else worth caring about; then the driver SIGPWRs one executor while
  * it is IDLE (no running tasks, so after migrating its blocks it exits
  * on its own — no force-kill race) and waits until the scheduler
  * REMOVES it; only then does job B compute the full reduce, reusing
  * the shuffle. Every job-B task launches after the removal (epoch
  * bumped, map statuses re-fetched), so success at stage attempt 0 with
  * zero FetchFailed is only possible if the dead executor's map outputs
  * were migrated, not recomputed. Asserted: exact-integer result equals
  * a clean run, max stage attempt == 0, FetchFailed == 0, zero failed
  * tasks of any kind, and every executor wrote shuffle data in the map
  * stage (so the victim, whichever it was, held a share that had to
  * move).
  *
  * Two dead ends this design replaced, kept for the record: (1) a
  * barrier file gating the reduce tasks' iterators does NOT gate the
  * fetch — shuffle readers fetch map statuses and issue block requests
  * at iterator CONSTRUCTION, before user code in the same stage runs —
  * and the victim's sleeping tasks force a kill-while-migrating race
  * (observed: exactly one of 24 map outputs un-registered, FetchFailed,
  * stage attempt 1); (2) a single job with the signal sent mid-stage
  * has pre-signal reduce tasks caching pre-migration map statuses, so
  * the victim's retried tasks fetch from the corpse (stale
  * MapOutputTrackerWorker cache) and burn a FetchFailed round even
  * though every block WAS migrated.
  *
  * Reference framing: the reference handles worker loss by re-executing
  * the lost worker's map tasks (mr/coordinator.go:126-131 reassignment);
  * Spark's decommission path is the strictly-stronger contract this
  * engine gets on 4.x — planned loss handled with ZERO re-execution.
  *
  * Two modes (SPARK_GRAFT_DECOMM_MODE):
  *   - `peer` (default): one executor drains to surviving peers.
  *   - `fallback`: EVERY executor is signalled at once — no live peer
  *     exists, so blocks drain to
  *     `spark.storage.decommission.fallbackStorage.path` (shared
  *     storage; at 100 TB, the object store), the whole fleet exits,
  *     the standalone master relaunches FRESH executors, and the
  *     reduce runs on a fully-replaced fleet reading the fallback —
  *     the scale-down/scale-up story with zero recompute. Extra
  *     assertions: post-run executor pids are disjoint from the
  *     victims', the fallback dir holds the migrated shuffle files,
  *     and every victim's removal was observed.
  *
  * Usage: DecommissionRehearsal <sfDir> <outFile>
  *   SPARK_GRAFT_MASTER=local-cluster[n,c,m] (required, >=2 executors —
  *     real processes to signal; same-host peers are valid migration
  *     targets, unlike speculation's host-exclusion)
  *   SPARK_GRAFT_EXTRA_CONF for executor memory etc.
  */
object DecommissionRehearsal {

  /** Exact-integer two-stage aggregation: sum of l_quantity (as long)
    * per (l_orderkey % buckets) — a shuffle whose result is order-free
    * arithmetic, comparable across runs. The sf0.1 lineitem is ONE
    * parquet row group = one irreducible scan task, so the map side is
    * spread with an explicit redistribute (ingest -> redistribute ->
    * aggregate, the shape a real pipeline has anyway).
    */
  def shuffleSum(spark: SparkSession, sfDir: String,
      buckets: Int): RDD[(Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_orderkey % " + buckets + " AS k",
        "CAST(l_quantity AS LONG) AS v")
      .as[(Long, Long)].rdd
      .repartition(24)
      .reduceByKey(_ + _, numPartitions = 32)
  }

  def summarize(per: Array[(Long, Long)]): (Long, Long) =
    (per.length.toLong, per.map(_._2).sum)

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val master = GraftSession.master("")
    require(master.startsWith("local-cluster"),
      s"decommission rehearsal needs real executor processes to SIGPWR " +
        s"(master='$master') — pass SPARK_GRAFT_MASTER=local-cluster[n,c,m]")
    val mode = sys.env.getOrElse("SPARK_GRAFT_DECOMM_MODE", "peer")
    require(mode == "peer" || mode == "fallback", s"unknown mode $mode")
    val fallbackDir =
      s"/tmp/graft_fallback_${ProcessHandle.current().pid()}/"
    val spark = GraftSession(master, "32", Seq(
      "spark.decommission.enabled" -> "true",
      "spark.storage.decommission.enabled" -> "true",
      "spark.storage.decommission.shuffleBlocks.enabled" -> "true",
      "spark.storage.decommission.rddBlocks.enabled" -> "true",
      // a block that fails its first transfer round is only retried
      // every replicationReattemptInterval (default 30 s — the first
      // version of this rehearsal lost ONE map output of 24 to that)
      "spark.storage.decommission.replicationReattemptInterval" -> "2s",
      // safety net only: the victim is signalled while IDLE, so it is
      // expected to exit on its own once migration finishes
      "spark.executor.decommission.forceKillTimeout" -> "60s",
      "spark.task.maxFailures" -> "4") ++
      (if (mode == "fallback")
        Seq("spark.storage.decommission.fallbackStorage.path" -> fallbackDir)
      else Nil): _*)
    val sc = spark.sparkContext

    // Clean run = ground truth + JIT/scan warmup.
    val (truthBuckets, truthSum) =
      summarize(shuffleSum(spark, sfDir, 1024).collect())

    val execsBefore = Execs.childExecutorPids()
    require(execsBefore.size >= 2,
      s"need >=2 executor processes, found ${execsBefore.size}")

    // Scheduler-eye evidence, recorded around the measured jobs only.
    val removedReason = new AtomicReference[String]("")
    // DISTINCT executor ids, not an event counter: ExecutorRemoved fires
    // ~2x per executor (observed: removed_count 2 for 1 victim, 6 for
    // 3), so a counter gate can open before every victim is actually
    // gone — in fallback mode that would let job B fetch from a
    // still-live victim and void the "reads only the fallback" claim
    val removedIds = ConcurrentHashMap.newKeySet[String]()
    val removedAtNanos = new AtomicLong(0)
    val maxStageAttempt = new AtomicInteger(0)
    val fetchFailed = new AtomicInteger(0)
    val failedTasks = new AtomicInteger(0)
    val sigSentNanos = new AtomicLong(0)
    val migratedBlocks = new AtomicInteger(0)
    val failuresByReason = new ConcurrentHashMap[String, Integer]()
    val shuffleWriters = ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val a = s.stageInfo.attemptNumber()
        maxStageAttempt.updateAndGet(m => math.max(m, a)); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val r = t.reason.toString
        if (t.taskInfo.successful && t.taskMetrics != null &&
            t.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) {
          shuffleWriters.add(t.taskInfo.executorId); ()
        }
        if (!t.taskInfo.successful) {
          failedTasks.incrementAndGet()
          failuresByReason.merge(r.takeWhile(_ != '('), 1, (a, b) =>
            Integer.valueOf(a.intValue() + b.intValue()))
          if (r.startsWith("FetchFailed")) { fetchFailed.incrementAndGet(); () }
        }
      }
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removedReason.set(e.reason)
        removedIds.add(e.executorId)
        removedAtNanos.set(System.nanoTime()); ()
      }
      // Shuffle blocks are normally tracked only by the MapOutputTracker
      // (no BlockUpdated events); a migrated block IS re-registered with
      // the BlockManagerMaster, so post-signal shuffle BlockUpdated
      // events are direct migration evidence when present. Recorded, not
      // asserted — the structural proof is the job sequencing.
      override def onBlockUpdated(
          b: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        if (sigSentNanos.get() > 0 &&
            b.blockUpdatedInfo.blockId.isShuffle) {
          migratedBlocks.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(listener)

    // In-JVM capture of the scheduler's decommission acknowledgment
    // ("Received executor N decommissioned message", WARN from
    // StandaloneDriverEndpoint). r12's removal-reason gate accepted
    // "exited with code 0" / "killed by driver" — neither is
    // decommission-specific, so only the evidence leg's EXTERNAL grep
    // over the driver log tied removal to an actual drain. A log4j2
    // appender on the root logger makes the committed artifact
    // self-contained: the ack is recorded AND required below.
    val ackLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    locally {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.LoggerContext
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
          "graftDecommAck", null, null, true,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
          val m = e.getMessage.getFormattedMessage
          if (m != null && m.toLowerCase.contains("decommission") &&
              ackLines.size < 64) {
            ackLines.add(
              s"${e.getLoggerName.split('.').last}: $m"); ()
          }
        }
      }
      app.start()
      ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
      ctx.updateLoggers()
    }

    val t0 = System.nanoTime()
    // Job A: one reduce partition — materializes ALL map outputs.
    val reduced = shuffleSum(spark, sfDir, 1024)
    sc.runJob(reduced, (it: Iterator[(Long, Long)]) => it.size, Seq(0))
    val mapDoneSec = (System.nanoTime() - t0) / 1e9

    // Signal the (idle) victim(s), wait for the scheduler to REMOVE them.
    // peer mode: one victim drains to live peers. fallback mode: the
    // WHOLE fleet is signalled — no live peer exists, blocks drain to
    // fallback storage, and the master must relaunch fresh executors.
    val victims =
      if (mode == "fallback") Execs.childExecutorPids() else Seq(Execs.childExecutorPids().head)
    val sigUtc = java.time.Instant.now().toString
    sigSentNanos.set(System.nanoTime())
    victims.foreach { pid =>
      new ProcessBuilder("kill", "-PWR", pid.toString)
        .inheritIO().start().waitFor()
    }
    val tSig = System.nanoTime()
    while (removedIds.size() < victims.size &&
        System.nanoTime() - tSig < 180e9.toLong)
      Thread.sleep(100)
    require(removedIds.size() >= victims.size,
      s"scheduler removed ${removedIds.size()}/${victims.size} " +
        "decommissioned executors")
    val removedUtc = java.time.Instant.now().toString
    val drainSec = (removedAtNanos.get() - tSig) / 1e9

    // Job B: the full reduce, reusing the shuffle — every task launches
    // after the removal, so its map statuses are post-migration.
    val tB = System.nanoTime()
    val (gotBuckets, gotSum) = summarize(reduced.collect())
    val reduceSec = (System.nanoTime() - tB) / 1e9
    val wall = (System.nanoTime() - t0) / 1e9
    try org.apache.spark.graftbench.BusDrain.drain(sc)
    catch { case _: Throwable => () }
    sc.removeSparkListener(listener)

    val execsAfter = Execs.childExecutorPids()
    val matches = gotBuckets == truthBuckets && gotSum == truthSum
    require(matches, s"decommissioned run diverged: buckets " +
      s"$gotBuckets/$truthBuckets sum $gotSum/$truthSum")
    require(victims.forall(v => !execsAfter.contains(v)),
      s"victims $victims not all gone after decommission (execs=$execsAfter)")
    val fallbackFiles =
      if (mode == "fallback") {
        import scala.jdk.CollectionConverters._
        // a missing dir must reach the require's diagnostic below, not
        // surface as a bare NoSuchFileException from Files.walk
        val n = if (!Files.exists(Paths.get(fallbackDir))) 0L
        else {
          val stream = java.nio.file.Files.walk(Paths.get(fallbackDir))
          try stream.iterator().asScala.count(p => Files.isRegularFile(p)).toLong
          finally stream.close()
        }
        // the WHOLE fleet was replaced: job B ran on executors that
        // never held a map output, reading only the fallback
        require(execsAfter.nonEmpty &&
            execsAfter.intersect(victims).isEmpty,
          s"fleet not replaced (before=$victims after=$execsAfter)")
        require(n > 0, s"fallback dir $fallbackDir holds no migrated files")
        n
      } else 0L
    // The graceful self-exit after migration surfaces as the worker's
    // "Command exited with code 0" (observed); a force-kill safety-net
    // exit reports "Executor killed by driver."; some paths say
    // "decommission" outright. A NON-ZERO exit code is none of these —
    // that's a crash, not a drain. The scheduler's acknowledgment line
    // is gated separately below.
    val reasonOk = removedReason.get().toLowerCase.contains("decommission") ||
      removedReason.get().toLowerCase.contains("killed by driver") ||
      removedReason.get().contains("exited with code 0")
    require(reasonOk,
      s"executor removal reason was '${removedReason.get()}' — neither the " +
        "decommission nor its force-kill completion (did the SIGPWR land?)")
    // The decommission-SPECIFIC gate: the driver endpoint must have
    // acknowledged the executor's decommissioning notice. Without this a
    // clean non-decommission exit would satisfy reasonOk above.
    val ackLine = {
      import scala.jdk.CollectionConverters._
      ackLines.asScala.find(_.toLowerCase.contains("decommissioned message"))
    }
    require(ackLine.nonEmpty,
      s"driver never logged the 'decommissioned message' acknowledgment — " +
        s"removal was not an actual drain (captured: " +
        s"${ackLines.size()} decommission log lines)")
    require(maxStageAttempt.get() == 0,
      s"stage resubmission happened (max attempt ${maxStageAttempt.get()}) " +
        "— map outputs were recomputed, not migrated")
    require(fetchFailed.get() == 0,
      s"${fetchFailed.get()} FetchFailed tasks — migration did not cover " +
        "the victim's map outputs")
    require(failedTasks.get() == 0,
      s"${failedTasks.get()} failed tasks (${failuresByReason}) — the " +
        "victim was signalled while idle, nothing should have died")
    // The victim must have HELD map outputs for the receipt to mean
    // anything: every live executor wrote shuffle data in the map stage,
    // so whichever one was signalled carried a share that had to move.
    require(shuffleWriters.size() >= execsBefore.size,
      s"only ${shuffleWriters.size()}/${execsBefore.size} executors wrote " +
        "shuffle data — the victim may not have held any map outputs")

    import scala.jdk.CollectionConverters._
    val failJson = failuresByReason.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${k.replaceAll("[\"\\\\]", "")}":$v""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"master":"$master","mode":"$mode",""" +
        s""""env":${Bench.envJson(Bench.machineStamp())},""" +
        s""""victim_pids":[${victims.mkString(",")}],"sigpwr_utc":"$sigUtc",""" +
        s""""removed_ids":[${removedIds.asScala.toSeq.sorted.map(i =>
          s""""$i"""").mkString(",")}],""" +
        s""""fallback_files":$fallbackFiles,""" +
        s""""removed_utc":"$removedUtc",""" +
        s""""removal_reason":"${removedReason.get().replaceAll("[\"\\\\]", "")}",""" +
        s""""driver_decommission_ack":${ackLine.nonEmpty},""" +
        s""""ack_line":"${ackLine.getOrElse("").replaceAll("[\"\\\\]", "")}",""" +
        s""""executors_before":${execsBefore.size},""" +
        s""""executors_after":${execsAfter.size},""" +
        s""""max_stage_attempt":${maxStageAttempt.get()},""" +
        s""""fetch_failed":${fetchFailed.get()},""" +
        s""""failed_tasks":${failedTasks.get()},""" +
        s""""shuffle_writers":${shuffleWriters.size()},""" +
        s""""shuffle_block_updates_post_signal":${migratedBlocks.get()},""" +
        s""""task_failures_by_reason":$failJson,""" +
        s""""map_sec":${math.round(mapDoneSec * 1000) / 1000.0},""" +
        s""""drain_sec":${math.round(drainSec * 1000) / 1000.0},""" +
        s""""reduce_sec":${math.round(reduceSec * 1000) / 1000.0},""" +
        s""""buckets":$gotBuckets,"total":$gotSum,"result_match":$matches,""" +
        s""""wall_sec":${math.round(wall * 1000) / 1000.0}}"""
    Files.write(Paths.get(outFile), json.getBytes("UTF-8"))
    println(s"DECOMMISSION mode=$mode victims=${victims.mkString(",")} " +
      s"removed='${removedReason.get()}' " +
      s"stageAttemptMax=${maxStageAttempt.get()} " +
      s"fetchFailed=${fetchFailed.get()} failedTasks=${failedTasks.get()} " +
      s"migratedBlockUpdates=${migratedBlocks.get()} match=$matches " +
      s"drain=$drainSec wall=$wall")
    spark.stop()
  }
}
