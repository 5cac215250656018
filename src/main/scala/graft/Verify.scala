package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/check_oracle.py).
  * Exits 1, after writing oracle_sql.json, when any attempted query
  * threw or has neither an oracle nor a noOracle reason. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg (local iteration only; driver passes 2): run just
    // these comma-separated query names and dump only their oracle SQL.
    // An unknown or empty list fails rather than verify nothing.
    val selected = SparkEntry.selected(args.lift(2))
    // shuffle partitions default to the core count (fixture scale) but
    // must SCALE WITH VOLUME on the 100x rehearsals: per-task agg/sort
    // state divides across reduce partitions (the r8 sf3 lever sweep),
    // and the multi-process sf10 runs OOM'd 12 GB executors at 32
    // partitions (basket_rules' pair partials) — 256 holds per-task
    // state at the sf0.1 design point while AQE re-coalesces the small
    // queries' outputs
    val cpus = GraftSession.cpus("4")
    val spark = GraftSession(GraftSession.master(s"local[$cpus]"),
      GraftSession.shufflePartitions(cpus))
    new java.io.File(outDir).mkdirs()
    // Resume-from-manifest (SPARK_GRAFT_RESUME=1): skip queries whose
    // output dir already carries parquet's _SUCCESS marker — the
    // reference's coordinator checkpoint (mr-state.json, a bitmap of
    // completed tasks consulted on restart) re-expressed with the
    // filesystem as the manifest. Parquet commits _SUCCESS LAST via a
    // rename, so a driver killed mid-write leaves no marker and the
    // query re-runs whole on restart: at-least-once per query,
    // exactly-once per committed dir. Default off: a normal gate run
    // must never silently reuse a stale dump.
    val resume = sys.env.get("SPARK_GRAFT_RESUME").contains("1")
    val attempted = selected
      .filter { case (name, _) =>
        val done = resume && Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))
        if (done) System.err.println(s"[verify] $name already committed — skipped")
        !done
      }
      .toSeq
    val failed = attempted.filterNot { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      } finally sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a query with neither a dumped oracle nor a noOracle reason would
    // pass the compare on a row count alone: it fails here instead
    val noOracle = SparkEntry.catalogs.flatMap(_.noOracle).toMap
    val unchecked = attempted.map(_._1)
      .filterNot(n => oracles.contains(n) || noOracle.contains(n))
    for (n <- unchecked) System.err.println(s"[verify] $n has neither an oracle nor a noOracle reason")
    val failedNames = (failed.map(_._1) ++ unchecked).distinct
    System.err.println(s"[verify] ${failedNames.size} of ${attempted.size} attempted queries failed" +
      (if (failedNames.isEmpty) "" else failedNames.mkString(": ", ", ", "")))
    if (failedNames.nonEmpty) sys.exit(1)
  }

  /** Session hygiene between queries: unpersists every persisted RDD
    * except the checkpoints behind live [[Memo]] entries, which later
    * queries of the run share. The rest is the last query's debris —
    * mostly replicated localCheckpoint blocks, which otherwise linger
    * on executors until the ContextCleaner's weak refs are GC'd. On
    * multi-process sf10 sessions that lag compounded into executor heap
    * exhaustion ~250 queries in (three r12 gate attempts died of it);
    * explicit unpersist makes cleanup deterministic instead of GC-timed.
    */
  def sweep(spark: org.apache.spark.sql.SparkSession): Unit = {
    val pinned = Memo.pinnedRdds
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!pinned(id)) rdd.unpersist(blocking = false) }
  }
}
