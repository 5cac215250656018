package graft

/** Multi-tenant throughput evidence: the same catalog queries run
  * SERIALLY and then at N-way concurrency under Spark's FAIR scheduler
  * (one scheduler pool per worker thread, pools created on demand), one
  * JSON line per level:
  *
  *   {"metric":"concurrency","level":k,"wall_s":…,"sum_s":…,"queries":{…}}
  *
  * Why this matters at cluster scale: a single analytic query rarely
  * keeps every core busy through its whole plan (stage barriers, skewed
  * tails, sub-core-count task sets at the reduce side), so a production
  * engine is judged on how much of that idle capacity CONCURRENT
  * queries can reclaim without starving each other. `wall_s(k)` vs
  * `wall_s(1)` is the reclaimed-capacity ratio; `sum_s` (the per-query
  * walls added up) rising with k shows the co-running tax each query
  * pays — FAIR keeps it bounded instead of letting one heavy query
  * FIFO-block the rest.
  *
  * Per-query taskMetrics are deliberately NOT recorded here: a global
  * listener cannot attribute deltas under concurrency, and pretending
  * otherwise would poison the byte-noise adjudication BENCH_local.json
  * exists for. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32 \
  *     SPARK_GRAFT_CONCURRENCY_LEVELS=1,4,8 \
  *     sbt "runMain graft.BenchConcurrency"
  */
object BenchConcurrency {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val levels = sys.env.getOrElse("SPARK_GRAFT_CONCURRENCY_LEVELS", "1,4")
      .split(",").map(_.trim.toInt).filter(_ >= 1).toSeq
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_QUERIES")).toSeq.sortBy(_._1)
    val cpus = GraftSession.cpus("4")
    val spark = GraftSession(s"local[$cpus]", cpus, "spark.scheduler.mode" -> "FAIR")
    GraftSession.warmup(spark, sfDir)

    val lines = levels.map { k =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(k)
      val t0 = System.nanoTime()
      val futures = selected.map { case (name, fn) =>
        pool.submit(new java.util.concurrent.Callable[(String, Double)] {
          def call(): (String, Double) = {
            // one FAIR pool per worker thread: k pools share the cores
            // with equal weight, so a heavy query cannot FIFO-block the
            // level's other lanes
            spark.sparkContext.setLocalProperty(
              "spark.scheduler.pool", s"lane-${Thread.currentThread().getId}")
            val q0 = System.nanoTime()
            try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            catch { case _: Throwable => () }
            (name, (System.nanoTime() - q0) / 1e9)
          }
        })
      }
      val results = futures.map(_.get())
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      line(k, wall, results, sfDir)
    }
    try spark.stop() catch { case _: Throwable => () }
    lines.foreach(println)
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_concurrency.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (lines.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
  }

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** One level's JSON line (pure; pinned by BenchFormatSpec). */
  def line(
      level: Int,
      wall: Double,
      results: Seq[(String, Double)],
      sfDir: String): String = {
    val qs = results.sortBy(_._1)
      .map { case (n, s) => "\"" + n + "\":" + fmt(s) }
      .mkString("{", ",", "}")
    s"""{"metric":"concurrency","level":$level,"wall_s":${fmt(wall)},""" +
      s""""sum_s":${fmt(results.map(_._2).sum)},"n":${results.size},""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
  }
}
