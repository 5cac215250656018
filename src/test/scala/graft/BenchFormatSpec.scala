package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench output contract the round-6 verdict depends on: the
  * LAST stdout line must carry the adjudication summary whole through
  * the driver's 2000-char tail capture, for any catalog size — the
  * round-5 timings were lost to exactly this truncation.
  */
class BenchFormatSpec extends AnyFunSuite {

  private val metricNames =
    Seq("tasks", "inputBytes", "inputRecords", "shuffleReadBytes",
      "shuffleWriteBytes", "spilledBytes")

  /** Worst-case-shaped catalog: long names, sub-ms to multi-second
    * timings with many decimals, large counters.
    */
  private def fakeResults(n: Int): Seq[(String, Double, Seq[Long])] =
    (0 until n).map { i =>
      (f"some_quite_long_query_name_family_variant_$i%03d",
        i * 0.0317 + 1.0 / (i + 3),
        Seq(12345L, 987654321L, 1234567L, 55555555L, 44444444L, 0L))
    }

  test("summary line fits the 2000-char tail capture at 3x today's catalog") {
    for (n <- Seq(1, 12, 151, 450)) {
      val line = Bench.summaryLine(fakeResults(n), "/root/testdata/sf0.1")
      assert(line.length < 1500,
        s"summary line ${line.length} chars at n=$n risks tail truncation")
      assert(line.startsWith("{\"metric\":\"summary\"") && line.endsWith("}"))
    }
  }

  test("summary reports total, counts, max, and the slowest queries with timings") {
    val rs = fakeResults(40)
    val line = Bench.summaryLine(rs, "sfX")
    val slowest = rs.maxBy(_._2)
    assert(line.contains(s""""n":40"""))
    assert(line.contains(s""""${slowest._1}":"""), "slowest query must be named with a timing")
    // every slowest-list entry is name:seconds — parseable shape
    assert(""""slowest":\{("[a-z0-9_]+":\d+\.\d{3},?){1,12}\}""".r
      .findFirstIn(line.replaceAll(" ", "")).isDefined, line)
  }

  test("summary counts a failed query, names it, and keeps it out of the timings") {
    val rs = fakeResults(3)
    val line = Bench.summaryLine(rs, "sfX", Seq("q_broken"))
    assert(line.contains(""""n":3,"""), line)
    assert(line.contains(""""n_failed":1,"failed":["q_broken"]"""), line)
    assert(line.contains(s""""total_s":${BigDecimal(rs.map(_._2).sum)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP)},"""), line)
    // many failures stay within the tail-capture bound
    val worst = Bench.summaryLine(fakeResults(450), "sfX",
      fakeResults(450).map(_._1))
    assert(worst.length < 1500, s"summary line ${worst.length} chars with 450 failures")
    assert(worst.contains(""""n_failed":450,"""))
  }

  test("concurrency line carries level, wall vs summed walls, and per-query seconds") {
    val rs = Seq(("q_b", 2.5), ("q_a", 1.25))
    val line = BenchConcurrency.line(4, 2.75, rs, "sfX")
    assert(line.startsWith("{\"metric\":\"concurrency\",\"level\":4"))
    assert(line.contains("\"wall_s\":2.750"))
    assert(line.contains("\"sum_s\":3.750"), line)
    assert(line.contains("\"n\":2"))
    // queries name-sorted for round-over-round diffability
    assert(line.indexOf("\"q_a\":1.250") < line.indexOf("\"q_b\":2.500"), line)
    // valid single-line JSON
    assert(!line.contains("\n"))
  }

  test("contract line carries the machine stamp (contention forensics)") {
    val line = Bench.contractLine(
      fakeResults(2), metricNames, "sfX", Bench.envJson((1.5, 32, 2)))
    assert(line.contains(""""env":{"loadavg1":1.5,"cores":32,"javaProcs":2}"""), line)
    // stamp must not displace the tail-capture ordering contract
    assert(line.indexOf("\"env\":") < line.indexOf("\"taskMetrics\":"))
    // unstamped (spec-fixture) calls stay byte-compatible
    assert(!Bench.contractLine(fakeResults(2), metricNames, "sfX").contains("\"env\":"))
  }

  test("machine stamp reads real load/cores/javaProcs on this box") {
    val (load, cores, javas) = Bench.machineStamp()
    assert(load >= 0.0, "loadavg must parse")
    assert(cores > 0)
    assert(javas >= 1, "at least this JVM must be counted")
  }

  test("contention is load per core above 1, perfbench's BUSY rule") {
    assert(!Bench.contended(2.5, 4))
    assert(Bench.contended(5.0, 4))
    assert(!Bench.contended(2.5, 32))
  }

  test("host-steal sampler reads a cumulative non-negative tick count") {
    // On this microVM guest /proc/stat carries a steal column; the
    // sampler must parse it (or degrade to -1, never throw), and it is
    // cumulative: two reads must be monotone.
    val a = Bench.stealTicks()
    val b = Bench.stealTicks()
    assert(a >= -1L)
    if (a >= 0) assert(b >= a, s"steal ticks must be cumulative: $a then $b")
  }

  test("contract line keeps taskMetrics BEFORE queries (tail keeps the timings)") {
    val line = Bench.contractLine(fakeResults(5), metricNames, "sfX")
    val tmAt = line.indexOf("\"taskMetrics\":")
    val qsAt = line.indexOf("\"queries\":")
    assert(tmAt >= 0 && qsAt > tmAt,
      "queries map must follow taskMetrics or tail capture loses per-query seconds")
    assert(line.startsWith("{\"metric\":\"total\""))
  }

  test("cross-sf overwrite guard reads the recorded sf from a flagship artifact") {
    // The r12 snapshot slip: an sf0.001 smoke run overwrote the committed
    // idle sf0.1 flagship. existingSf is the detector Bench.main refuses on.
    val f = java.io.File.createTempFile("bench_guard", ".json")
    f.deleteOnExit()
    val line = Bench.contractLine(fakeResults(3), metricNames, "/root/testdata/sf0.1")
    java.nio.file.Files.write(f.toPath,
      (line + "\n" + Bench.summaryLine(fakeResults(3), "/root/testdata/sf0.1") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Bench.existingSf(f.getPath).contains("/root/testdata/sf0.1"))
    // a run at a different sf must be detectable as a mismatch
    assert(Bench.existingSf(f.getPath).exists(_ != "/root/testdata/sf0.001"))
    // absent file → no guard (first run always writes)
    assert(Bench.existingSf("/nonexistent/bench.json").isEmpty)
    // the COMMITTED flagship must record sf0.1 — the artifact SURVEY §9
    // describes; an sf0.001 smoke run here is the exact r12 defect.
    if (new java.io.File("BENCH_local.json").exists)
      assert(Bench.existingSf("BENCH_local.json").contains("/root/testdata/sf0.1"),
        "committed BENCH_local.json must be the idle sf0.1 flagship")
  }
}
