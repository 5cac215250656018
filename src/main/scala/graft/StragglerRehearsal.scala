package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Speculative-execution rehearsal: the reference's straggler row
  * EXECUTED on Spark instead of cited.
  *
  * The reference's experiment table (README.md:290, docs/EXPERIMENTS.md:11)
  * measures wc with "2 straggler nodes": T1 (no speculation) 78.5 s vs
  * T2 (speculation, quantile 0.8) 52.3 s — a slow worker gates the job
  * unless the coordinator launches backup copies of its tasks elsewhere.
  * Spark ships the same mechanism (`spark.speculation`, off by default):
  * once `speculation.quantile` of a stage's tasks have finished, any
  * running task slower than `multiplier` x the successful median gets a
  * speculative copy on a DIFFERENT executor; first attempt to finish
  * wins, the loser is killed. O10's evidence so far was the conf line —
  * this main runs the experiment.
  *
  * Shape: word count over the documents corpus (the reference's own
  * workload), `repartition(parts)` so the counted stage has a fixed task
  * count, with a pass-through `mapPartitions` that sleeps `sleepMs` iff
  * the task is executing on the designated victim executor JVM — a
  * deterministic straggler, 1 of the cluster's n executors (the
  * reference's 2-of-10 ratio, rounded up at our 4-executor scale). A
  * speculative copy of a stalled task lands on a non-victim executor by
  * construction (Spark never schedules the copy where the original
  * runs), so it finishes at normal speed; with speculation OFF the
  * victim's in-flight tasks hold the stage for the full sleep.
  *
  * `spark.speculation` is a scheduler (SparkConf) switch, not a runtime
  * SQL conf — so the contrast arms run as SEPARATE invocations of this
  * main (BENCH_straggler.json holds both), each
  * writing a JSON fragment with its wall, the scheduler's own
  * speculative-task counts (SparkListener — the artifact must prove the
  * scheduler actually speculated, not just that the conf was set), and
  * a result check against a clean same-session run (sleep 0, which also
  * serves as the JIT warmup so the measured arm isn't first to touch
  * the code paths).
  *
  * Cluster-only by construction: refuses a single-JVM master (there is
  * no "different executor" to speculate onto) rather than degrade to a
  * receipt-shaped no-op.
  *
  * DISTINCT HOSTNAMES REQUIRED (the r12 discovery, verified in the
  * Spark 4.1.2 bytecode): `TaskSetManager.dequeueSpeculativeTask` only
  * offers a speculative copy where `!hasAttemptOnHost(index, host)` —
  * the copy must land on a different HOST string (TaskInfo.host), not
  * merely a different executor. Under `local-cluster[n,c,m]` every
  * executor reports host=localhost, so the scheduler marks stragglers
  * speculatable and then never launches a single copy (observed:
  * "Marking task … as speculatable" with launched=0). The speculation
  * arm therefore needs a REAL standalone master plus two worker JVMs
  * bound to distinct loopback aliases (127.0.0.1 / 127.0.0.2 — same
  * box, two hosts to the scheduler), which is also the faithful shape
  * of the reference's "2 straggler NODES" row. The speculation arm
  * refuses to run if all executors share one host.
  *
  * Usage: StragglerRehearsal <sfDir> <outFile>
  *   SPARK_GRAFT_MASTER=spark://host:port (standalone; preferred) or
  *     local-cluster[n,c,m] (kept for the no-speculation arm only)
  *   SPARK_GRAFT_EXPECT_EXECUTORS=n (required for spark:// masters —
  *     there is no executor count to parse out of the master string)
  *   SPARK_GRAFT_EXTRA_CONF carries the speculation arm:
  *     off: "spark.speculation=false;spark.executor.memory=..."
  *     on:  "spark.speculation=true;spark.speculation.quantile=0.8;..."
  */
object StragglerRehearsal {

  /** Word count over `documents.text`, `parts` tasks in the counting
    * stage, stalling `sleepMs` on `victim` ("" = no stall). Returns the
    * (word -> count) map (bounded: the synthetic corpus vocabulary) and
    * the wall seconds.
    */
  def wordCount(
      spark: SparkSession, sfDir: String, parts: Int,
      victim: String, sleepMs: Long): (Map[String, Long], Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val counts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").as[String]
      .repartition(parts)
      .mapPartitions { it =>
        if (sleepMs > 0 && SparkEnv.get.executorId == victim)
          Thread.sleep(sleepMs)
        it
      }
      .flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy("value").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (counts, (System.nanoTime() - t0) / 1e9)
  }

  /** Distinct (executorId, advertisedHost) pairs currently registered,
    * observed from INSIDE tasks (the id is what the stall predicate
    * sees; the host is what `dequeueSpeculativeTask` compares, read off
    * the executor's own BlockManagerId). Retries until `want` executors
    * have joined — cluster registration is async and a probe that runs
    * before the last executor joins would pick a victim the scheduler
    * then underuses.
    */
  def awaitExecutors(spark: SparkSession, want: Int): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 120L * 1000000000L
    var ids = Seq.empty[(String, String)]
    while (ids.size < want && System.nanoTime() < deadline) {
      ids = sc.parallelize(1 to 256, 64)
        .map { _ =>
          val env = SparkEnv.get
          (env.executorId, env.blockManager.blockManagerId.host)
        }
        .distinct().collect().toSeq.sorted
      if (ids.size < want) Thread.sleep(1000)
    }
    require(ids.size >= want,
      s"only ${ids.size} executors registered (${ids.mkString(",")}), need $want")
    ids
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val master = GraftSession.master("")
    require(master.startsWith("local-cluster") || master.startsWith("spark://"),
      s"straggler rehearsal needs real executor JVMs to stall one of " +
        s"(master='$master') — pass SPARK_GRAFT_MASTER=spark://host:port " +
        s"(standalone, distinct-host workers) or local-cluster[n,c,m]")
    val nExec =
      if (master.startsWith("local-cluster"))
        master.stripPrefix("local-cluster[").split(",")(0).trim.toInt
      else sys.env.getOrElse("SPARK_GRAFT_EXPECT_EXECUTORS",
        sys.error("spark:// master: set SPARK_GRAFT_EXPECT_EXECUTORS")).toInt
    require(nExec >= 2, s"need >=2 executors, master=$master")
    val sleepMs = 8000L
    // locality wait would delay both first scheduling and the
    // speculative copy's placement by up to 3 s/level — zero it so the
    // artifact measures speculation, not locality backoff
    val spark = GraftSession(master, "32", "spark.locality.wait" -> "0s")
    val speculation =
      spark.sparkContext.getConf.getBoolean("spark.speculation", false)
    val quantile =
      spark.sparkContext.getConf.get("spark.speculation.quantile", "0.75")

    val execs = awaitExecutors(spark, nExec)
    val hosts = execs.map(_._2).distinct.sorted
    // Speculative copies are HOST-excluded (scaladoc above): with one
    // host the arm would stall forever marking-but-never-launching.
    if (speculation) require(hosts.size >= 2,
      s"speculation arm on a single-host cluster (hosts=${hosts.mkString(",")}): " +
        "dequeueSpeculativeTask never offers a copy on the original's host — " +
        "run workers on distinct hostnames (loopback aliases)")
    val victim = execs.head._1
    val victimHost = execs.head._2
    // Task count vs the quantile: speculation waits for
    // floor(quantile * numTasks) SUCCESSES, and the victim's in-flight
    // tasks can't succeed until their sleep ends — so the victim's task
    // share must sit UNDER 1 - quantile or the gate only opens when the
    // stragglers are about to finish anyway (measured: launched=4,
    // won=0 at 32 tasks / 8 victim slots = 25%). 48 tasks puts the
    // victim's one wave at 8/48 = 17% < 20%; the healthy host alone
    // reaches the 38-success threshold while the victim still has ~6 s
    // of stall left, so the copies win. The reference's 2-of-10-node
    // topology satisfies this naturally; quantile 0.8 is kept as theirs.
    val parts = 48

    // Clean run: ground truth AND the JIT/scan warmup for the measured arm.
    val (truth, _) = wordCount(spark, sfDir, parts, victim = "", sleepMs = 0)

    // The scheduler's own account of speculation — onTaskStart with
    // taskInfo.speculative is a COPY being launched; a successful end of
    // one is a copy that WON. Registered only around the measured run.
    val (launched, won) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (t.taskInfo.speculative) { launched.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo.speculative && t.taskInfo.successful) {
          won.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val (counts, wall) = wordCount(spark, sfDir, parts, victim, sleepMs)
    try org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
    catch { case _: Throwable => () }
    spark.sparkContext.removeSparkListener(listener)

    val matches = counts == truth
    require(matches,
      s"straggler arm diverged from the clean run: ${counts.size} vs " +
        s"${truth.size} words")
    if (speculation) require(won.get() >= 1,
      s"speculation arm: the scheduler never ran a winning speculative " +
        s"copy (launched=${launched.get()}, won=${won.get()}, " +
        s"wall=$wall) — the stall did not exercise speculation " +
        s"(check quantile/multiplier vs parts)")
    else require(launched.get() == 0,
      s"no-speculation arm launched ${launched.get()} speculative tasks")

    val json =
      s"""{"master":"$master","speculation":$speculation,""" +
        s""""env":${Bench.envJson(Bench.machineStamp())},""" +
        s""""executors":[${execs.map(e => s""""${e._1}@${e._2}"""").mkString(",")}],""" +
        s""""hosts":${hosts.size},"victim_host":"$victimHost",""" +
        s""""quantile":"$quantile","victim":"$victim","sleep_ms":$sleepMs,""" +
        s""""partitions":$parts,"wall_sec":${math.round(wall * 1000) / 1000.0},""" +
        s""""speculative_launched":${launched.get()},""" +
        s""""speculative_won":${won.get()},"words":${counts.size},""" +
        s""""result_match":$matches}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes("UTF-8"))
    println(s"STRAGGLER speculation=$speculation wall=$wall " +
      s"launched=${launched.get()} won=${won.get()} match=$matches")
    spark.stop()
  }
}
