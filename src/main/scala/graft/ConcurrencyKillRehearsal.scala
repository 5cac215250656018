package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Loss × concurrency composition (r12 verdict item 5): the
  * multi-tenant production posture is a preempted spot node UNDER
  * concurrent queries — BENCH_concurrency.json proves 8-way FAIR
  * throughput and CORRECTNESS_kill*.txt prove kill recovery, but each
  * receipt runs without the other's stressor. This rehearsal runs a
  * catalog subset serially (ground-truth hashes), then 8-way under FAIR
  * pools on local-cluster with an executor SIGKILLed once a quarter of
  * the lanes have finished (so completed, in-flight, and queued queries
  * all exist at the moment of loss), and requires EVERY query to finish
  * with a result hash equal to its serial run.
  *
  * Result equality is an order-independent distributed hash (sum of
  * per-row xxhash64 over stringified columns, [[RowHash]]), so nothing
  * data-scale is collected to the driver.
  */
object ConcurrencyKillRehearsal {

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val lanes = 8
    val master = GraftSession.master("")
    require(master.startsWith("local-cluster"),
      s"concurrency-kill rehearsal needs real executor processes " +
        s"(master='$master') — pass SPARK_GRAFT_MASTER=local-cluster[n,c,m]")
    // subset: caller-named, or the full catalog (the driver contract)
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_QUERIES")).toSeq.sortBy(_._1)
    val spark = GraftSession(master, GraftSession.shufflePartitions("32"),
      "spark.scheduler.mode" -> "FAIR")

    require(Execs.childExecutorPids().size >= 2,
      s"need >=2 executor processes, found ${Execs.childExecutorPids().size}")

    // ground truth: serial, kill-free
    val serial: Map[String, String] = selected.map { case (name, fn) =>
      name -> (try RowHash.of(fn(spark, sfDir))
      catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" })
    }.toMap
    require(!serial.values.exists(_.startsWith("ERROR:")),
      s"serial baseline failed: ${serial.filter(_._2.startsWith("ERROR:"))}")

    val removals = new AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
        removals.incrementAndGet(); ()
      }
    })

    // concurrent pass: kill one executor once a quarter of the queries
    // have completed — completed, in-flight, and queued lanes all exist
    // at the moment of loss
    val completed = new AtomicInteger
    val killAt = math.max(1, selected.size / 4)
    val killPid = new AtomicLong(-1)
    @volatile var killUtc = ""
    // lanes completed at the MOMENT of the kill: the artifact must
    // prove work was still in flight — a kill landing after the last
    // lane finished exercises nothing
    val completedAtKill = new AtomicInteger(-1)
    val killer = new Thread(() => {
      while (completed.get() < killAt) Thread.sleep(50)
      val victim = Execs.childExecutorPids().head
      killPid.set(victim)
      killUtc = java.time.Instant.now().toString
      completedAtKill.set(completed.get())
      ProcessHandle.of(victim).ifPresent(_.destroyForcibly()); ()
    }, "conc-killer")
    killer.setDaemon(true)
    killer.start()

    val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes)
    val t0 = System.nanoTime()
    val futures = selected.map { case (name, fn) =>
      pool.submit(new java.util.concurrent.Callable[(String, String, Double)] {
        def call(): (String, String, Double) = {
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"lane-${Thread.currentThread().getId}")
          val q0 = System.nanoTime()
          val h = try RowHash.of(fn(spark, sfDir))
          catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" }
          completed.incrementAndGet()
          ((name, h, (System.nanoTime() - q0) / 1e9))
        }
      })
    }
    val results = futures.map(_.get())
    val wall = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    try org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
    catch { case _: Throwable => () }

    val errs = results.filter(_._2.startsWith("ERROR:"))
    val mism = results.filter { case (n, h, _) => !h.startsWith("ERROR:") && serial(n) != h }
    // close the race with the killer's final poll: all lanes are done
    // here, so the trigger condition holds — wait for the thread to
    // finish its kill before inspecting its outputs
    killer.join(30000)
    require(killPid.get() > 0 && killUtc.nonEmpty,
      "kill never armed — did the run finish before a quarter completed?")
    require(completedAtKill.get() < selected.size,
      s"kill landed after all ${selected.size} lanes completed — " +
        "nothing was in flight; raise the query count")
    require(!Execs.childExecutorPids().contains(killPid.get()),
      s"victim ${killPid.get()} still alive")
    require(removals.get() >= 1,
      "the scheduler never observed an executor removal")
    require(errs.isEmpty,
      s"${errs.size} lanes FAILED through the kill: ${errs.map(_._1).mkString(",")}")
    require(mism.isEmpty,
      s"${mism.size} lanes diverged from their serial run: ${mism.map(_._1).mkString(",")}")

    val qs = results.sortBy(_._1)
      .map { case (n, _, s) => "\"" + n + "\":" + BigDecimal(s)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"concurrency_kill","level":$lanes,""" +
        s""""env":${Bench.envJson(Bench.machineStamp())},""" +
        s""""master":"$master","n":${results.size},""" +
        s""""kill_pid":${killPid.get()},"kill_utc":"$killUtc",""" +
        s""""kill_after_completed":$killAt,""" +
        s""""completed_at_kill":${completedAtKill.get()},""" +
        s""""executor_removals_observed":${removals.get()},""" +
        s""""lanes_completed":${results.size},"mismatches":0,""" +
        s""""wall_s":${math.round(wall * 1000) / 1000.0},""" +
        s""""queries":$qs,"sf":"$sfDir"}"""
    Files.write(Paths.get(outFile), (json + "\n").getBytes("UTF-8"))
    println(s"CONCKILL lanes=$lanes n=${results.size} killedPid=${killPid.get()} " +
      s"at=$killUtc removals=${removals.get()} mismatches=0 wall=$wall")
    spark.stop()
  }
}
