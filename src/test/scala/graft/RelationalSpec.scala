package graft

import graft.relational.RelQueries

/** Sanity + physical-plan assertions for the relational catalog. The
  * value-level correctness gate is the DuckDB oracle (check_oracle.py);
  * these tests pin the *plans*: broadcasts stay broadcasts and scans
  * stay pruned, so a 1000-executor run shuffles only what it must.
  */
class RelationalSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q5 joins all dimensions via BroadcastHashJoin (no dimension shuffle)") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ:\n" + p)
  }

  test("q1 scan prunes columns and pushes the shipdate filter") {
    val q = SparkEntry.queries("q1_pricing")(spark, sf)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate filter not pushed to parquet:\n" + scan)
    assert(!scan.contains("l_orderkey"), "unused column not pruned from scan")
  }

  test("topk window ranks deterministically (ties broken by orderkey)") {
    val rows = SparkEntry.queries("topk_orders")(spark, sf).collect()
    val perCust = rows.groupBy(_.getLong(0))
    assert(perCust.values.forall(_.length <= 3))
    assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 3))
  }

  test("sessionize session ids are monotone per user") {
    val rows = SparkEntry.queries("sessionize")(spark, sf)
      .orderBy("user_id", "event_id").collect()
    rows.groupBy(_.getLong(1)).values.foreach { evs =>
      val ids = evs.map(_.getLong(2))
      assert(ids.head >= 1)
      ids.sliding(2).foreach {
        case Array(a, b) => assert(b == a || b == a + 1)
        case _ =>
      }
    }
  }

  test("bucketed sessionize == plain sessionize on the fixture") {
    val plain = SparkEntry.queries("sessionize")(spark, sf)
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bucketed = SparkEntry.queries("sessionize_bucketed")(spark, sf)
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bucketed.sameElements(plain))
  }

  test("bucketed sessionize stitches adversarial bucket boundaries exactly") {
    import spark.implicits._
    import java.sql.Timestamp
    // One user whose single session spans 4 hour-buckets (10-min steps),
    // a boundary gap of exactly 30 min (same session), 30 min + 1 s (new
    // session), a chain of single-session buckets each merging into the
    // last (n_local=1 contributes 0), and a second user interleaved.
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      // u1: one session crossing 01:00..04:00 on 10-min steps
      (1L, ts("2024-01-01 00:55:00"), 1L, "c", 1.0, "{}"),
      (2L, ts("2024-01-01 01:05:00"), 1L, "c", 1.0, "{}"),
      (3L, ts("2024-01-01 01:35:00"), 1L, "c", 1.0, "{}"),   // exactly 30 min: same
      (4L, ts("2024-01-01 02:05:01"), 1L, "c", 1.0, "{}"),   // 30 min + 1 s: NEW
      (5L, ts("2024-01-01 02:30:00"), 1L, "c", 1.0, "{}"),
      (6L, ts("2024-01-01 03:00:00"), 1L, "c", 1.0, "{}"),   // chain merge
      (7L, ts("2024-01-01 03:30:00"), 1L, "c", 1.0, "{}"),   // chain merge
      (8L, ts("2024-01-01 05:00:00"), 1L, "c", 1.0, "{}"),   // empty hour 04: NEW
      // u2 interleaved: two sessions split inside one bucket
      (9L, ts("2024-01-01 01:10:00"), 2L, "c", 1.0, "{}"),
      (10L, ts("2024-01-01 01:50:00"), 2L, "c", 1.0, "{}"),  // 40 min: NEW
      // u3: DAY-boundary cases (buckets are days): merge across
      // midnight, split 40 min later, then a 3-day chain of
      // single-session buckets each continuing the last (every bucket
      // contributes 0 new sessions across two consecutive stitches)
      (11L, ts("2024-01-02 23:50:00"), 3L, "c", 1.0, "{}"),
      (12L, ts("2024-01-03 00:10:00"), 3L, "c", 1.0, "{}"),  // cross midnight: same
      (13L, ts("2024-01-03 00:50:00"), 3L, "c", 1.0, "{}"),  // 40 min: NEW
      (14L, ts("2024-01-03 23:45:00"), 3L, "c", 1.0, "{}"),  // NEW (day 3 late)
      (15L, ts("2024-01-04 00:05:00"), 3L, "c", 1.0, "{}"),  // chain merge day 4
      (16L, ts("2024-01-04 23:55:00"), 3L, "c", 1.0, "{}"),  // NEW (day 4 late)
      (17L, ts("2024-01-05 00:15:00"), 3L, "c", 1.0, "{}"))  // chain merge day 5
    val dir = java.nio.file.Files.createTempDirectory("sessbk").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    def run(name: String) = SparkEntry.queries(name)(spark, dir)
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    val plain = run("sessionize")
    val bucketed = run("sessionize_bucketed")
    assert(bucketed.sameElements(plain), s"\nplain=${plain.mkString(",")}\nbucketed=${bucketed.mkString(",")}")
    assert(plain.map(_._2).toSeq ==
      Seq(1L, 1L, 1L, 2L, 2L, 2L, 2L, 3L, 1L, 2L, 1L, 1L, 2L, 3L, 3L, 4L, 4L))
  }

  test("table checksum is layout-invariant (same rows, any partitioning/order)") {
    import spark.implicits._
    val base = SparkEntry.queries("table_checksum")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // rewrite every checksummed table shuffled into a different file
    // layout; the fingerprint must not move
    val dir = java.nio.file.Files.createTempDirectory("cksum").toString
    for (t <- Seq("orders", "lineitem", "customer", "documents")) {
      spark.read.parquet(s"$sf/$t.parquet")
        .repartition(7).write.parquet(s"$dir/$t.parquet")
    }
    val relaid = SparkEntry.queries("table_checksum")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(relaid == base, s"checksum moved under re-layout:\n$base\nvs\n$relaid")
    // and it must actually detect a content change
    val dir2 = java.nio.file.Files.createTempDirectory("cksum2").toString
    for (t <- Seq("lineitem", "customer", "documents")) {
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir2/$t.parquet")
    }
    spark.read.parquet(s"$sf/orders.parquet").filter($"o_orderkey" =!= 1L)
      .write.parquet(s"$dir2/orders.parquet")
    val tampered = SparkEntry.queries("table_checksum")(spark, dir2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tampered("orders") != base("orders"), "dropped row not detected")
    assert(tampered("customer") == base("customer"))
  }

  test("set ops have distinct-set semantics") {
    val inter = SparkEntry.queries("set_intersect")(spark, sf).collect().map(_.getLong(0))
    assert(inter.distinct.length == inter.length)
  }

  test("ngram top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("text_ngram_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to full sort:\n" + p)
  }

  test("gossip health table runs window + merge aggregate on ONE shuffle") {
    val p = plan("gossip_health")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected a single workerId exchange reused by window and aggregate, got $exchanges:\n$p")
  }

  test("range-frame window reuses one user_id exchange") {
    val p = plan("window_range_frame")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("subqueries compile to semi/anti hash joins, not nested loops") {
    val p = plan("subquery_in_exists")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "correlated subquery fell back to a nested loop join:\n" + p)
  }

  test("minhash signatures build in-row: ZERO exchanges (r13 MinHashSig)") {
    val p = text.Dedup.signatures(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0, s"expected no exchange, got $exchanges:\n$p")
    assert(p.contains("minhash_sig"), s"native in-row signature missing:\n$p")
  }

  test("hll sketch union estimate tracks exact distinct (within 5%)") {
    val est = SparkEntry.queries("hll_parts_sketch")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val li = Tables.lineitem(spark, sf)
    val exactAll = li.select("l_partkey").distinct().count()
    assert(math.abs(est("ALL") - exactAll).toDouble / exactAll < 0.05,
      s"global sketch estimate ${est("ALL")} vs exact $exactAll")
    val exactFlag = li.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct("l_partkey")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exactFlag.foreach { case (f, n) =>
      assert(math.abs(est(f) - n).toDouble / n < 0.05, s"flag $f: ${est(f)} vs $n")
    }
  }

  test("all registered queries return non-negative row counts at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
    // the catalog census, read only now: the data-fitted oracles register
    // when their query is built
    val queries = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val noOracle = SparkEntry.catalogs.flatMap(_.noOracle).toMap.keySet
    assert(SparkEntry.catalogs.map(_.queries.size).sum == queries.size,
      "two modules declare the same query name")
    assert(queries.diff(oracled ++ noOracle).isEmpty,
      s"neither oracle nor noOracle reason: ${queries.diff(oracled ++ noOracle)}")
    assert(oracled.intersect(noOracle).isEmpty,
      s"both an oracle and a noOracle reason: ${oracled.intersect(noOracle)}")
    assert((oracled ++ noOracle).diff(queries).isEmpty,
      s"oracle or noOracle key that is not a query: ${(oracled ++ noOracle).diff(queries)}")
  }

  test("every DuckDB twin caps its buckets with the one cap template") {
    // the fixtures' largest bucket is far below the cap, so only the
    // SQL text can show a twin whose cap drifted from Spark's
    val Array(pre, mid, post) = text.Dedup.cappedCte("\u0001", "\u0000").split("[\u0000\u0001]")
    val q = java.util.regex.Pattern.quote _
    val template = (q(pre) + "[\\w, ]+" + q(mid) + "\\w+" + q(post)).r
    val oracles = SparkEntry.oracleSql
    val drifted = oracles.filter { case (_, sql) => template.replaceAllIn(sql, "").contains("bsz") }
    assert(drifted.isEmpty, s"a bsz clause outside the template: ${drifted.keys.toSeq.sorted}")
    assert(oracles.values.map(template.findAllIn(_).size).sum >= 15)
  }

  test("skyline: outputs mutually non-dominated and undominated by any input; planted staircase") {
    import spark.implicits._
    val out = relational.RelExtras.skylineLineitems(spark, sf).collect()
      .map(r => (math.round(r.getDouble(2) * 100),
        math.round(r.getDouble(3) * 100)))
    assert(out.nonEmpty)
    val all = Tables.lineitem(spark, sf)
      .select($"l_extendedprice", $"l_quantity").collect()
      .map(r => (math.round(r.getDouble(0) * 100),
        math.round(r.getDouble(1) * 100)))
    def dominates(p: (Long, Long), q: (Long, Long)): Boolean =
      p._1 <= q._1 && p._2 >= q._2 && (p._1 < q._1 || p._2 > q._2)
    // every output point is undominated by the ENTIRE input
    for (o <- out; a <- all) assert(!dominates(a, o), s"$a dominates $o")
    // and the skyline is complete: every input point off the skyline
    // set is dominated by someone (checked via the distinct cells)
    val skySet = out.toSet
    for (c <- all.distinct if !skySet(c))
      assert(all.exists(a => dominates(a, c)), s"$c missing from skyline")

    // planted: staircase all survive, interior point excluded, dup kept
    val tmp = java.nio.file.Files.createTempDirectory("graftsky")
    Seq(
      (1L, 1L, 10.0, 1.00), (2L, 1L, 20.0, 2.00), (3L, 1L, 30.0, 3.00),
      (4L, 1L, 25.0, 0.50), // dominated by (20.0, 2.00)
      (5L, 1L, 10.0, 1.00)) // duplicate of the first: both survive
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val p = relational.RelExtras.skylineLineitems(spark, tmp.toString)
      .collect().map(_.getLong(0)).sorted
    assert(p.sameElements(Array(1L, 2L, 3L, 5L)), p.mkString(","))
  }
}
