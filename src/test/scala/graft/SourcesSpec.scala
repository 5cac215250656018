package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native

/** Source/sink coverage beyond parquet: csv, json, and the reference's
  * text format round-trip losslessly through write → read.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  test("csv sink/source round-trips lineitem projection") {
    val dir = tmp("graftcsv")
    val src = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    src.write.mode("overwrite").option("header", true).csv(dir)
    val back = spark.read.option("header", true)
      .schema(src.schema).csv(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("json sink/source round-trips events projection") {
    val dir = tmp("graftjson")
    val src = Tables.events(spark, sf).select($"event_id", $"event_type", $"value")
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.collect().toSet === src.collect().toSet)
  }

  test("orc sink/source round-trips orders projection") {
    val dir = tmp("graftorc")
    val src = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("reference text sink writes sorted 'key value' lines (O7)") {
    val dir = tmp("grafttext")
    val kvs = graft.mr.MapReduce.run(
      spark,
      Tables.documents(spark, sf).select("source", "text").as[(String, String)],
      graft.apps.MrApps.wcMap, graft.apps.MrApps.wcReduce, 2)
    graft.mr.TextIO.writeTextSink(kvs, dir)
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.nonEmpty)
    assert(lines.forall(_.matches("\\S+ \\d+")))
    val asMap = lines.map { l => val Array(k, v) = l.split(" "); k -> v }.toMap
    val want = kvs.collect().map(kv => kv.key -> kv.value).toMap
    assert(asMap === want)
  }

  test("wholeTextFiles preserves the (filename, contents) map contract (O1)") {
    val dir = tmp("graftwtf")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"), "x y x")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"), "y z")
    val files = graft.mr.TextIO.wholeTextFiles(spark, s"$dir/*.txt")
    val byName = files.collect().map { case (n, c) => n.split("/").last -> c }.toMap
    assert(byName === Map("a.txt" -> "x y x", "b.txt" -> "y z"))
    val wc = graft.mr.MapReduce.run(
      spark, files, graft.apps.MrApps.wcMap, graft.apps.MrApps.wcReduce, 2)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(wc === Map("x" -> "2", "y" -> "2", "z" -> "1"))
  }

  test("nested struct parquet: schema pruning reads only the selected subfield") {
    // At 100 TB, reading a whole struct to project one subfield is the
    // difference between a column scan and a table scan — Spark's nested
    // schema pruning (spark.sql.optimizer.nestedSchemaPruning.enabled,
    // default on) must surface in ReadSchema.
    val dir = tmp("graftnested")
    Tables.customer(spark, sf)
      .select($"c_custkey",
        struct($"c_name".as("name"), $"c_mktsegment".as("segment"),
          struct($"c_nationkey".as("nation"), $"c_acctbal".as("acctbal")).as("contact"))
          .as("profile"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).select($"c_custkey", $"profile.contact.acctbal")
    val scan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: ([^\\n]*)".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("acctbal"), s"acctbal not in ReadSchema: $readSchema")
    assert(!readSchema.contains("segment") && !readSchema.contains("nation"),
      s"unpruned sibling fields read from parquet: $readSchema")
    assert(q.count() == Tables.customer(spark, sf).count())
  }

  test("parquet zstd codec round-trips and is smaller than uncompressed") {
    val dirZ = tmp("graftzstd")
    val dirU = tmp("graftuncomp")
    val src = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_returnflag", $"l_shipdate")
    src.coalesce(1).write.mode("overwrite")
      .option("compression", "zstd").parquet(dirZ)
    src.coalesce(1).write.mode("overwrite")
      .option("compression", "none").parquet(dirU)
    def bytes(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(spark.read.parquet(dirZ).collect().toSet === src.collect().toSet)
    assert(bytes(dirZ) < bytes(dirU), "zstd output not smaller than uncompressed")
  }

  test("csv corrupt-record handling: PERMISSIVE captures, DROPMALFORMED drops") {
    val dir = tmp("graftbadcsv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part.csv"),
      "1,10.5\n2,not_a_number\n3,30.0\n")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("_corrupt", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir).cache()
    try {
      assert(permissive.count() == 3)
      assert(permissive.filter($"_corrupt".isNotNull).count() == 1)
      // collect(), not count(): a column-less count never parses the
      // doubles, so DROPMALFORMED has nothing to drop — row counts on
      // malformed CSV are only meaningful with the columns materialized.
      val dropped = spark.read
        .schema(StructType(schema.fields.take(2)))
        .option("mode", "DROPMALFORMED").csv(dir)
        .collect()
      assert(dropped.length == 2)
      assert(dropped.map(_.getDouble(1)).sum == 40.5)
    } finally permissive.unpersist()
  }

  test("partitioned parquet write + read prunes partitions at plan time") {
    val dir = tmp("graftpart")
    Tables.orders(spark, sf)
      .withColumn("yr", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("yr").parquet(dir)
    val q = spark.read.parquet(dir).filter($"yr" === 1996)
      .select($"o_orderkey", $"o_totalprice")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(yr"),
      "year filter not applied as a partition filter:\n" + plan)
    // the pruned scan must agree with the unpartitioned filter
    val want = Tables.orders(spark, sf).filter(year($"o_orderdate") === 1996).count()
    assert(q.count() == want && want > 0)
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // thresholds lowered so the tiny test tables qualify; at real scale
    // the defaults (10MB creation side) take over
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // default 10GB — the fact side must look big enough to be worth filtering
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ so the filter is useful
    try {
      val o = Tables.orders(spark, sf).filter($"o_totalprice" > 400000)
      val l = Tables.lineitem(spark, sf)
      val q = l.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        "no runtime bloom filter injected on the fact scan:\n" + plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.optimizer.runtimeFilter.number.threshold")
    }
  }

  test("GraftExtensions installs native functions at session build (spark.sql.extensions path)") {
    import org.apache.spark.sql.SparkSession
    // getOrCreate would hand back the suite session (ignoring the
    // extensions); clear active/default to force a NEW SparkSession on
    // the same SparkContext, then restore.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      assert(s2 ne spark, "expected a fresh session carrying the extensions")
      // a session built with the extension resolves the natives in SQL
      // text with NO imperative register call
      val d = s2.sql(
        "SELECT dot_f64(cast(array(1.0,2.0) as array<double>), " +
          "cast(array(3.0,4.0) as array<double>)) AS d").collect().head.getDouble(0)
      assert(d == 11.0)
      val sh = s2.sql(
        "SELECT simhash_agg(h) AS s FROM VALUES (CAST(1 AS BIGINT)), (CAST(3 AS BIGINT)) t(h)")
        .collect().head.getLong(0)
      assert(sh == 1L, s"bits 0 (+2) and 1 (0, tie->0) expected, got $sh")
      // the DotFusion optimizer rule rewrites the PORTABLE composable
      // dot product to the native expression: same bits, fused plan.
      // Inputs must be real columns — literal arrays constant-fold
      // before the rule can matter.
      def dotDf(s: org.apache.spark.sql.SparkSession) = {
        // range (not a LocalRelation) so neither constant folding nor
        // ConvertToLocalRelation evaluates the dot before execution
        val base = s.range(3).selectExpr(
          "cast(array(id + 1.5, id * 2.0, 3.0) as array<double>) as a",
          "cast(array(2.0, id + 0.5, -1.0) as array<double>) as b")
        base.select(graft.sim.Similarity.dot(col("a"), col("b")).as("d"))
      }
      val fusedDf = dotDf(s2)
      val plan = fusedDf.queryExecution.executedPlan.toString
      assert(plan.contains("dotproduct"),
        s"DotFusion did not fire; plan:\n$plan")
      assert(!plan.contains("aggregate("),
        s"interpreted ArrayAggregate survived in plan:\n$plan")
      val fused = fusedDf.collect().map(_.getDouble(0)).toSeq
      // suite session has NO extensions -> interpreted path, same bits
      val interp = dotDf(spark).collect().map(_.getDouble(0)).toSeq
      assert(fused == interp)
      assert(fused.head == 1.5 * 2.0 + 0.0 * 0.5 + 3.0 * -1.0)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("dot_f64 yields null (not a truncated dot) on mismatched-length vectors") {
    val rows = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)), // equal length
      (2L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)),      // mismatch -> null
      (3L, Seq.empty[Double], Seq.empty[Double]))   // empty == empty -> 0.0
      .toDF("id", "a", "b")
      .select($"id", Native(es => graft.functions.DotProduct(es(0), es(1)), $"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows(1L) === Some(32.0))
    assert(rows(2L) === None, "mismatched lengths must be null, not a silent min-length dot")
    assert(rows(3L) === Some(0.0))
  }

  test("salted aggregation equals plain groupBy (plan differs, result not)") {
    val salted = graft.relational.Skew.skewSaltedAgg(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val plain = Tables.events(spark, sf).select(
        when($"event_id" % 10 < 7, lit("hot"))
          .otherwise($"user_id".cast("string")).as("skey"),
        (round($"value" * 100, 0).cast("long")).as("cents"))
      .groupBy("skey")
      .agg(count(lit(1)).as("n"), (sum($"cents").cast("double") / 100).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted === plain)
    // and the salted plan really has two aggregation rounds
    val plan = graft.relational.Skew.skewSaltedAgg(spark, sf)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).length >= 4)
  }

  test("salted join equals plain join (dim fan-out in plan, result identical)") {
    val salted = graft.relational.Skew.skewSaltedJoin(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val plain = Tables.orders(spark, sf).select(
        when($"o_orderkey" % 10 < 7, lit(1L)).otherwise($"o_custkey").as("ck"),
        (round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .join(Tables.customer(spark, sf), $"ck" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), (sum($"cents").cast("double") / 100).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted === plain)
    // the dim side really is replicated (explode of the salt sequence)
    val plan = graft.relational.Skew.skewSaltedJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), "expected dim-side salt fan-out")
    assert(!plan.contains("BroadcastHashJoin"),
      "salting must drive a shuffled join, not a broadcast")
  }

  test("skew_report == naive frequency recount; planted hot key dominates") {
    val rows = relational.Skew.skewReport(spark, sf).collect()
      .map(r => r.getAs[String]("key_family") -> r).toMap
    assert(rows.size == 3)
    val users = Tables.events(spark, sf).select($"user_id").collect()
      .map(_.getLong(0))
    val freq = users.groupBy(identity).map { case (k, v) => k -> v.length }
    val r = rows("events.user_id")
    assert(r.getAs[Long]("n") == users.length)
    assert(r.getAs[Long]("n_keys") == freq.size)
    val maxCnt = freq.values.max
    assert(r.getAs[Long]("max_cnt") == maxCnt)
    assert(r.getAs[Long]("hot_key") ==
      freq.filter(_._2 == maxCnt).keys.min)
    assert(math.abs(r.getAs[Double]("skew_factor") -
      maxCnt.toDouble * freq.size / users.length) < 1e-5)
    // planted: one user owns 90% of events -> skew_factor ~ 0.9 * keys
    val tmp = java.nio.file.Files.createTempDirectory("graftskewr")
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    (1 to 100).map(i => (i.toLong, ts0,
      if (i <= 90) 7L else i.toLong, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // orders/lineitem stubs so the other two families still scan
    (1 to 10).map(i => (i.toLong, i.toLong,
      java.sql.Date.valueOf("2024-01-01"), 1.0, "P"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    (1 to 10).map(i => (i.toLong, i.toLong, 1.0, 1.0, 0.0))
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val p = relational.Skew.skewReport(spark, tmp.toString).collect()
      .map(x => x.getAs[String]("key_family") -> x).toMap
    val pu = p("events.user_id")
    assert(pu.getAs[Long]("hot_key") == 7L)
    assert(pu.getAs[Double]("top_share") == 0.9)
    assert(pu.getAs[Double]("skew_factor") == 0.9 * pu.getAs[Long]("n_keys"))
  }

  test("native dot_f64 == interpreted zip_with dot (and codegen compiles)") {
    val e = Tables.embeddings(spark, sf)
      .withColumn("v", $"embedding".cast("array<double>"))
    val rows = e.select(
      Native(es => graft.functions.DotProduct(es(0), es(1)), $"v", $"v").as("native"),
      graft.sim.Similarity.dot($"v", $"v").as("interp")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }
}
