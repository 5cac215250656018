package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query task/shuffle accounting — the live-metrics surface the
  * reference keeps as queryable counters (utils/metrics.go:8-73),
  * re-expressed as a SparkListener: every task-end event folds its
  * TaskMetrics into running totals, and [[Bench]] snapshots the deltas
  * around each query (after draining the async listener bus). Shuffle
  * bytes per query make bench numbers self-diagnosing: a timing
  * regression with unchanged shuffle bytes is measurement noise, one
  * with grown bytes is a plan regression.
  */
final class TaskMetricsListener extends SparkListener {
  val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spilledBytes = new AtomicLong
  // r14 self-adjudication fields (VERDICT r13 item 1): both driver bench
  // runs last round started on a non-idle box and their 10-30x per-query
  // blowups could only be adjudicated by cross-run contradiction. With
  // per-query GC / executor-run / executor-CPU time in the artifact, a
  // blowup is attributable from the record alone: gcTimeMs ~ wall means
  // GC pressure; runMs << wall*cores with low CPU means the JVM was
  // starved by EXTERNAL load (corroborated by the per-query loadavg
  // sample appended in main); runMs and cpuMs tracking the wall means
  // the query really did the work.
  val jvmGcTimeMs = new AtomicLong
  val executorRunTimeMs = new AtomicLong
  val executorCpuTimeMs = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tm = e.taskMetrics
    if (tm != null) {
      tasks.incrementAndGet()
      inputBytes.addAndGet(tm.inputMetrics.bytesRead)
      inputRecords.addAndGet(tm.inputMetrics.recordsRead)
      shuffleReadBytes.addAndGet(
        tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead)
      shuffleWriteBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      spilledBytes.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled)
      jvmGcTimeMs.addAndGet(tm.jvmGCTime)
      executorRunTimeMs.addAndGet(tm.executorRunTime)
      executorCpuTimeMs.addAndGet(tm.executorCpuTime / 1000000L)
    }
  }

  def snapshot: Seq[Long] = Seq(
    tasks.get, inputBytes.get, inputRecords.get, shuffleReadBytes.get,
    shuffleWriteBytes.get, spilledBytes.get,
    jvmGcTimeMs.get, executorRunTimeMs.get, executorCpuTimeMs.get)
}

object Bench {

  /** Machine stamp for contention forensics: 1-min load average, core
    * count, and concurrent java-process count at bench start. Two
    * rounds of bench-drift adjudication (r7 machine drift, r9
    * self-contention with a concurrently-running 100x Verify) were
    * root-caused only via process-table archaeology — the stamp makes
    * a polluted bench self-evident from the committed artifact alone.
    */
  def machineStamp(): (Double, Int, Int) = {
    val load =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val cores = Runtime.getRuntime.availableProcessors
    val javas =
      try new java.io.File("/proc").listFiles
        .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
        .count { f =>
          try scala.io.Source.fromFile(s"${f.getPath}/comm").mkString.trim == "java"
          catch { case _: Throwable => false }
        }
      catch { case _: Throwable => -1 }
    (load, cores, javas)
  }

  /** JSON fragment for the contract line. */
  def envJson(stamp: (Double, Int, Int)): String =
    s"""{"loadavg1":${stamp._1},"cores":${stamp._2},"javaProcs":${stamp._3}}"""

  /** perfbench's BUSY rule: the 1-min load average above one runnable
    * task per core means another job shares the box and every timing
    * inflates. */
  def contended(load1: Double, cores: Int): Boolean = load1 / cores > 1.0

  /** Cumulative host-steal ticks (USER_HZ jiffies, summed across vCPUs)
    * from /proc/stat. This box is a microVM guest: the hypervisor can
    * deschedule vCPUs while the guest's loadavg reads 0 and the guest
    * still CHARGES the descheduled wall to thread CPU time — so a
    * steal episode inflates wall, runTimeMs and cpuTimeMs together on
    * an otherwise-idle box, mimicking a code regression (observed in
    * the r14 after-retake: bloom_prune 2.2 s -> 7.9 s full-run with
    * identical bytes/plans, 2.16 s again in isolation). A per-query
    * steal delta makes that episode readable from the artifact alone,
    * completing the VERDICT r13 item 1 attribution triad (GC vs
    * external load vs real work) for virtualized hosts where loadavg
    * cannot see the contention. -1 when /proc/stat is unreadable.
    */
  def stealTicks(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat")
        .getLines().find(_.startsWith("cpu ")).get
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  /** The scale factor a committed bench artifact records (its contract
    * line's `"sf":"…"` field), or None if the file is absent/unstamped.
    * Factored out of main so BenchFormatSpec can pin the guard without
    * running a benchmark.
    */
  def existingSf(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      val first = try src.getLines().next() finally src.close()
      """"sf":"([^"]+)"""".r.findFirstMatchIn(first).map(_.group(1))
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    // contention guard: banner-warn, the stamp lands in the artifact
    val stamp = machineStamp()
    if (contended(stamp._1, stamp._2))
      System.err.println(
        s"*** BENCH CONTENTION WARNING: 1-min load ${stamp._1} on ${stamp._2} cores " +
          s"(${stamp._3} java procs) — timings will be polluted ***")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Cross-sf overwrite guard: the r12 end-of-round snapshot clobbered
    // the committed idle sf0.1 flagship with an sf0.001 smoke run —
    // the artifact then contradicted SURVEY §9's numbers. Every contract
    // line stamps its `"sf":dir`, so a run at a DIFFERENT scale than the
    // artifact it would overwrite is refused up front (before the
    // multi-minute catalog run); such a run targets its own file via
    // SPARK_GRAFT_BENCH_OUT.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    existingSf(outFile).foreach { prev =>
      if (prev != sfDir) {
        System.err.println(
          s"*** BENCH REFUSED: $outFile records sf=$prev but this run is " +
            s"sf=$sfDir — set SPARK_GRAFT_BENCH_OUT to a new file ***")
        sys.exit(2)
      }
    }
    // optional subset (comma-separated names); unset = full catalog, the
    // driver's contract. A typo'd name fails loudly instead of silently
    // benching a subset.
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_QUERIES"))
    // SPARK_GRAFT_MASTER overrides the single-JVM default — the
    // multi-process rehearsal passes local-cluster[n,cores,memMb], the
    // cheapest falsifier of what local[*] structurally cannot test:
    // serialization of the custom Expressions and Aggregators across
    // executor JVMs, broadcasts actually broadcasting, and executor-side
    // class rebinding. The shuffle-partition count is swept apart from
    // the core count: per-task agg/sort state divides across it.
    val cpus = GraftSession.cpus("4")
    val spark = GraftSession(GraftSession.master(s"local[$cpus]"),
      GraftSession.shufflePartitions(cpus))
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // untimed: session start-up JIT belongs to no query
    GraftSession.warmup(spark, sfDir)
    // name-sorted: Map iteration order shifts as the catalog grows, which
    // would re-shuffle which queries absorb residual JIT warmup between
    // rounds; a fixed order keeps per-query times comparable round over
    // round.
    val metricNames =
      Seq("tasks", "inputBytes", "inputRecords", "shuffleReadBytes",
        "shuffleWriteBytes", "spilledBytes",
        // r14 additions (VERDICT item 1) — deltas of the new listener
        // fields, plus two NON-listener samples appended below in the
        // loop: the 1-min loadavg at query end and the host-steal tick
        // delta across the query (see stealTicks)
        "gcTimeMs", "runTimeMs", "cpuTimeMs", "loadavg1c", "stealTicks")
    val attempted = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val before = listener.snapshot
      val stealBefore = stealTicks()
      val t0 = System.nanoTime()
      // noop sink forces FULL evaluation of every projected expression —
      // a bare .count() lets Catalyst prune unevaluated projections, so
      // projection-only queries would measure parquet row counting only.
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // async listener events must land before the delta is read
      try org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
      catch { case _: Throwable => () }
      // loadavg1c: 1-min load average at query END, in centi-units — the
      // per-query contention sample the r13 adjudication lacked. Appended
      // as a plain sample (not a listener delta).
      val load1c =
        try math.round(scala.io.Source.fromFile("/proc/loadavg")
          .mkString.split(" ")(0).toDouble * 100)
        catch { case _: Throwable => -1L }
      val stealAfter = stealTicks()
      val steal =
        if (stealBefore < 0 || stealAfter < 0) -1L else stealAfter - stealBefore
      val delta = listener.snapshot.zip(before)
        .map { case (a, b) => a - b } :+ load1c :+ steal
      (name, ok, sec, delta)
    }
    // a query that threw has no timing: it stays out of total and the
    // per-query maps, and is counted by name in the summary line
    val results = attempted.collect { case (name, true, sec, delta) => (name, sec, delta) }
    val failed = attempted.collect { case (name, false, _, _) => name }
    // Stop BEFORE printing so no executor log line can interleave with
    // the machine-readable JSON lines — but never let a shutdown
    // exception eat those lines.
    try spark.stop() catch { case _: Throwable => () }
    // taskMetrics deliberately precedes queries: the driver keeps only
    // the TAIL of the output, and the ~18k-char metrics map was pushing
    // the per-query timings out of the round-5 capture window.
    val contract = contractLine(results, metricNames, sfDir, envJson(stamp))
    // The FULL record also lands in a committed file, so the driver's
    // 2000-char tail is a redundant copy: byte-counter noise adjudication
    // ("timing moved, bytes identical") works from the repo alone.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (contract + "\n" + summaryLine(results, sfDir, failed) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    println(contract)
    // The queries map alone (~4k chars at 151 queries) still overflows
    // the driver's 2000-char tail capture, so the LAST line is a compact
    // adjudication summary guaranteed to survive truncation whole:
    // total, query count, count under 1 s, max, and the slowest 12 with
    // their timings. BenchFormatSpec pins the size bound.
    println(summaryLine(results, sfDir, failed))
  }

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The driver-contract JSON line (metric=total). `env` carries the
    * start-of-run machine stamp (empty = unstamped, spec fixtures).
    */
  def contractLine(
      results: Seq[(String, Double, Seq[Long])],
      metricNames: Seq[String],
      sfDir: String,
      env: String = ""): String = {
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val tm = results.map { case (k, _, d) =>
      "\"" + k + "\":" +
        metricNames.zip(d).map { case (m, v) => s"""\"$m\":$v""" }
          .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val envField = if (env.isEmpty) "" else s""""env":$env,"""
    s"""{"metric":"total","value":$total,"unit":"sec",$envField"taskMetrics":$tm,"queries":$qs,"sf":"$sfDir"}"""
  }

  /** Failed queries named in the summary line (all are counted). */
  val FailedListed = 8

  /** The tail-capture-proof summary line (metric=summary): bounded size
    * regardless of catalog growth. `results` holds the queries that ran;
    * `failed` names those that threw — all are counted in n_failed, the
    * first [[FailedListed]] by name are listed.
    */
  def summaryLine(
      results: Seq[(String, Double, Seq[Long])],
      sfDir: String,
      failed: Seq[String] = Nil): String = {
    val sorted = results.sortBy(-_._2)
    val slowest = sorted.take(12)
      .map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failedNames = failed.sorted.take(FailedListed).map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"summary","total_s":${fmt(results.map(_._2).sum)},"n":${results.size},""" +
      s""""n_lt_1s":${results.count(_._2 < 1.0)},""" +
      s""""max_s":${fmt(sorted.headOption.map(_._2).getOrElse(0.0))},""" +
      s""""n_failed":${failed.size},""" +
      s""""failed":$failedNames,""" +
      s""""slowest":$slowest,"sf":"$sfDir"}"""
  }
}
