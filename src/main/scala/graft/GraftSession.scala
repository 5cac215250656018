package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one session factory: every main and the shared test session are
  * built here, so the catalog always runs on the same session shape —
  * UTC, parquet nanosecond timestamps read as longs, no UI, WARN
  * logging. On top of a main's own confs come two deployment hooks:
  *
  *  - `SPARK_GRAFT_EXECUTOR_CP`: the executors' classpath when they are
  *    separate JVMs (`local-cluster[...]`, `spark://`), which need the
  *    compiled classes on their own classpath (the class snapshot
  *    `scripts/java_run.sh` runs from);
  *  - `SPARK_GRAFT_EXTRA_CONF=k=v;k=v`: applied LAST, so it wins over
  *    every in-code conf.
  */
object GraftSession {

  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def master(default: String): String = sys.env.getOrElse("SPARK_GRAFT_MASTER", default)

  def shufflePartitions(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", default)

  /** A session on `master`; `conf` holds the calling main's own confs.
    * Under an existing session (a main run inside the test JVM)
    * `getOrCreate` returns that session with the runtime confs applied.
    */
  def apply(master: String, shufflePartitions: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(master)
    settings(master, shufflePartitions, conf, sys.env.get("SPARK_GRAFT_EXECUTOR_CP"),
      sys.env.get("SPARK_GRAFT_EXTRA_CONF")).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Every conf a session is built with, in the order applied (a later
    * key wins): the shared shape, the executor classpath, the main's
    * own confs, then the raw `k=v;k=v` extra conf. Refuses an extra-conf
    * entry without `=`, and a multi-process master without
    * `spark.executor.memory`: the `mem` of `local-cluster[n,cores,mem]`
    * (or a standalone worker's `--memory`) is the WORKER's capacity,
    * not the executor heap, so executors would silently run at the 1 GB
    * default heap.
    */
  def settings(
      master: String,
      shufflePartitions: String,
      conf: Seq[(String, String)],
      executorCp: Option[String],
      extraConf: Option[String]): Seq[(String, String)] = {
    val extra = extraConf.toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty).map { kv =>
      require(kv.contains("="), s"conf entry '$kv' is not k=v")
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }
    val all = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++
      executorCp.map("spark.executor.extraClassPath" -> _) ++ conf ++ extra
    require(!(master.startsWith("local-cluster") || master.startsWith("spark://")) ||
        all.exists(_._1 == "spark.executor.memory"),
      s"master=$master without spark.executor.memory: executors would run at " +
        "the 1 GB default heap (the worker's [n,cores,mem] capacity is NOT the " +
        "executor heap) — pass spark.executor.memory via SPARK_GRAFT_EXTRA_CONF")
    all
  }

  /** Runs each operator family a timed run meets once over a tiny
    * synthetic frame (aggregates, shuffle and broadcast joins, windows,
    * explode, rollup, lineage cuts, md5/conv/posexplode, decimal sums, a
    * nested-loop join, the parquet scan of `sfDir`), so session
    * start-up JIT is not charged to whichever query runs first.
    * Best-effort: a broken `sfDir` must not kill the run.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(100000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val w = spark.range(2000)
        .selectExpr("id", "id % 7 AS k", "md5(cast(id AS string)) AS s")
      val agg = w.groupBy("k").agg(count(lit(1)).as("c"))
      agg.join(w, "k").write.mode("overwrite").format("noop").save()
      w.join(broadcast(agg), "k").write.mode("overwrite").format("noop").save()
      w.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
        .withColumn("l", lead("s", 1).over(Window.partitionBy("k").orderBy("id")))
        .orderBy("s").limit(50)
        .write.mode("overwrite").format("noop").save()
      w.selectExpr("explode(split(s, 'a')) AS t")
        .groupBy("t").count().orderBy("t").limit(10).collect()
      w.rollup("k").agg(sum("id")).write.mode("overwrite").format("noop").save()
      Ckpt.cut(w.limit(100)).count()
      w.selectExpr(
          "posexplode(array(conv(substring(md5(s), 1, 8), 16, 10), '1'))",
          "cast(id AS decimal(38,0)) AS dv")
        .selectExpr("sum(dv)", "count(col)").collect()
      w.limit(50).as("a").join(w.limit(50).as("b"), expr("a.id > b.id"))
        .selectExpr("count(1)").collect()
      w.groupBy("k").agg(slice(array_sort(collect_set("id")), 1, 5).as("b"))
        .selectExpr("explode(b)").selectExpr("count(1)").collect()
    } catch { case _: Throwable => () }
}
