package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

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

  val IdleLoadMax = 2.0

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
    // Idle guard: a 1-min load above ~2 at start means another heavy
    // job is (or just was) on the box and every timing will inflate
    // uniformly (~1.4x in r9). Banner-warn always; with
    // SPARK_GRAFT_REQUIRE_IDLE=1 (the evidence-chain legs) wait up to
    // 15 min for the load to decay, then REFUSE rather than commit a
    // polluted artifact.
    var stamp = machineStamp()
    val requireIdle = sys.env.get("SPARK_GRAFT_REQUIRE_IDLE").contains("1")
    if (stamp._1 > IdleLoadMax) {
      System.err.println(
        s"*** BENCH CONTENTION WARNING: 1-min load ${stamp._1} > $IdleLoadMax " +
          s"(${stamp._3} java procs) — timings will be polluted ***")
      if (requireIdle) {
        val deadline = System.nanoTime() + 15L * 60 * 1000000000L
        while (stamp._1 > IdleLoadMax && System.nanoTime() < deadline) {
          Thread.sleep(30000)
          stamp = machineStamp()
        }
        if (stamp._1 > IdleLoadMax) {
          System.err.println(
            s"*** BENCH REFUSED: load still ${stamp._1} after 15 min — box not idle ***")
          sys.exit(2)
        }
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Cross-sf overwrite guard: the r12 end-of-round snapshot clobbered
    // the committed idle sf0.1 flagship with an sf0.001 smoke run —
    // the artifact then contradicted SURVEY §9's numbers. Every contract
    // line stamps its `"sf":dir`, so a run at a DIFFERENT scale than the
    // artifact it would overwrite is refused up front (before the
    // multi-minute catalog run), unless SPARK_GRAFT_BENCH_FORCE=1 or the
    // run targets its own file via SPARK_GRAFT_BENCH_OUT.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    if (!sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")) {
      existingSf(outFile).foreach { prev =>
        if (prev != sfDir) {
          System.err.println(
            s"*** BENCH REFUSED: $outFile records sf=$prev but this run is " +
              s"sf=$sfDir — set SPARK_GRAFT_BENCH_OUT to a new file or " +
              s"SPARK_GRAFT_BENCH_FORCE=1 to overwrite ***")
          sys.exit(2)
        }
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the cluster-scale lever under measurement in the sf3 rehearsal:
    // per-task agg/sort state divides across shuffle partitions, so the
    // spill experiment sweeps this independently of the core count
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // The sf3 lever sweep showed shuffle.partitions alone is NOT the
    // per-task-state lever once AQE coalescing is on: AQE re-merges
    // reduce partitions to the 64 MB advisory target, so the effective
    // task count (and spill) barely moves. The operative guard is the
    // advisory size itself — sweeping it is what divides per-task state.
    val advisoryMb = sys.env.get("SPARK_GRAFT_ADVISORY_MB")
    // SPARK_GRAFT_MASTER overrides the single-JVM default — the
    // multi-process rehearsal passes local-cluster[n,cores,memMb],
    // which is the cheapest falsifier of the claims local[*]
    // structurally cannot test: kryo/java serialization of the custom
    // Expressions and Aggregators across executor JVMs, broadcast
    // thresholds actually broadcasting, and executor-side class/registry
    // rebinding. local-cluster launches REAL executor processes, so
    // they need the compiled classes on their own classpath:
    // SPARK_GRAFT_EXECUTOR_CP (the java_run.sh class snapshot).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shuffleParts)
    sys.env.get("SPARK_GRAFT_EXECUTOR_CP").foreach(cp =>
      builder.config("spark.executor.extraClassPath", cp))
    // generic conf passthrough (semicolon-separated k=v), the Verify
    // discipline — the cluster benches pin spark.executor.memory here
    GraftEnv.applyExtraConf(builder)
    GraftEnv.requireExecutorMemoryOnCluster(master)
    advisoryMb.foreach(mb => builder.config(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", s"${mb}m"))
    // Map-side partial-agg state (basket_pairs' pair counts after the
    // C(k,2) explode) is governed by the SCAN split size, not by any
    // reduce-side partition count — the companion lever in the sweep.
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_MB").foreach(mb => builder.config(
      "spark.sql.files.maxPartitionBytes", s"${mb}m"))
    val spark = builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // Warm up codegen/shuffle/parquet machinery so the first measured
    // query doesn't absorb session initialization. Best-effort: a broken
    // sfDir must degrade to per-query -1s, not kill the whole benchmark.
    // r13 measurement fix (guide §1 — time the computation, not the
    // stack's first-use JIT): the original two-op warmup left the
    // window/join/aggregate operator classes cold, so the alphabetically
    // FIRST queries (the ab_* family) absorbed ~1-1.5 s each of
    // SQL-stack warmup that belongs to the session, not to them
    // (ab_conversion_ztest — two aggregates over 2 MB — measured 2.2 s
    // first vs ~0.6 s when not first). The widened warmup below runs
    // each operator family once over a tiny synthetic frame; it adds
    // ~2 s of UNTIMED setup and changes no query's measured work.
    // Old numbers: BENCH_r12.json / the pre-r13 BENCH_local.json.
    try {
      import org.apache.spark.sql.expressions.Window
      spark.range(100000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val w = spark.range(2000)
        .selectExpr("id", "id % 7 AS k", "md5(cast(id AS string)) AS s")
      val agg = w.groupBy("k")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("c"))
      agg.join(w, "k").write.mode("overwrite").format("noop").save()
      w.join(org.apache.spark.sql.functions.broadcast(agg), "k")
        .write.mode("overwrite").format("noop").save()
      w.withColumn("r", org.apache.spark.sql.functions.row_number()
          .over(Window.partitionBy("k").orderBy("id")))
        .withColumn("l", org.apache.spark.sql.functions.lead("s", 1)
          .over(Window.partitionBy("k").orderBy("id")))
        .orderBy("s").limit(50)
        .write.mode("overwrite").format("noop").save()
      w.selectExpr("explode(split(s, 'a')) AS t")
        .groupBy("t").count().orderBy("t").limit(10).collect()
      // r14 warmup widening (same §1.4 rationale as r13's, additions
      // only, UNTIMED): the alphabetically-first ab_* family still
      // absorbed ~1-1.5 s each of first-use JIT for operator classes
      // the r13 warmup left cold — rollup/grouping-sets aggregates,
      // localCheckpoint materialization, the md5/conv/posexplode
      // kernels, decimal aggregation, and the broadcast nested-loop
      // join. One tiny pass over each.
      w.rollup("k").agg(org.apache.spark.sql.functions.sum("id"))
        .write.mode("overwrite").format("noop").save()
      graft.Ckpt.cut(w.limit(100)).count()
      w.selectExpr(
          "posexplode(array(conv(substring(md5(s), 1, 8), 16, 10), '1'))",
          "cast(id AS decimal(38,0)) AS dv")
        .selectExpr("sum(dv)", "count(col)").collect()
      w.limit(50).as("a").join(w.limit(50).as("b"),
          org.apache.spark.sql.functions.expr("a.id > b.id"))
        .selectExpr("count(1)").collect()
      w.groupBy("k")
        .agg(org.apache.spark.sql.functions.slice(
          org.apache.spark.sql.functions.array_sort(
            org.apache.spark.sql.functions.collect_set("id")), 1, 5).as("b"))
        .selectExpr("explode(b)").selectExpr("count(1)").collect()
    } catch { case _: Throwable => () }
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
    // optional subset (comma-separated names): the scale-rehearsal runs
    // the heavy families at sf1 without paying for all 150+ queries.
    // Unset = full catalog, the driver's contract.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name (or a rehearsal env var leaking into a full-catalog
    // run) must fail loudly, not silently bench a subset
    subset.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names not in catalog: ${unknown.toSeq.sorted.mkString(",")}")
      require(names.nonEmpty, "SPARK_GRAFT_QUERIES selected zero queries")
    }
    val selected = subset match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
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
