package graft

import graft.apps.MrApps
import graft.mr.{KeyValue, MapReduce}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.array_distinct
import org.apache.spark.sql.{Encoder, Encoders}

/** Proves the generic MapReduce core (graft.mr.MapReduce) computes the
  * same results as the declarative DataFrame pipelines, mirroring the
  * reference's distributed-vs-sequential-oracle test (tests/test-mr.sh).
  */
class MrCoreSpec extends SparkSpec {
  import spark.implicits._

  private def docsInput =
    Tables.documents(spark, sf).select("source", "text").as[(String, String)]

  private def viaCore(
      mapFn: (String, String) => IterableOnce[KeyValue],
      reduceFn: (String, Seq[String]) => String): Map[String, String] =
    MapReduce.run(spark, docsInput, mapFn, reduceFn, 8)
      .collect().map(kv => kv.key -> kv.value).toMap

  test("wc via generic core == declarative pipeline") {
    val core = viaCore(MrApps.wcMap, MrApps.wcReduce)
    val df = MrApps.wc(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1).toString).toMap
    assert(core === df)
  }

  test("early_exit via generic core == declarative pipeline") {
    // early_exit maps per file; feed one row per (source, concatenated text)
    val perFile = Tables.documents(spark, sf)
      .groupBy("source").count()
      .select($"source", $"count".cast("string")).as[(String, String)]
    // map emits (source, "1") once per doc -> emulate by exploding counts
    val core = MapReduce.run(
      spark,
      docsInput,
      MrApps.earlyExitMap,
      MrApps.earlyExitReduce,
      4).collect().map(kv => kv.key -> kv.value).toMap
    val df = MrApps.earlyExit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1).toString).toMap
    assert(core === df)
    assert(perFile.count() === df.size)
  }

  test("crash(nocrash) via generic core == declarative pipeline") {
    val perDoc = Tables.documents(spark, sf)
      .selectExpr("source", "cast(n_chars as string)").as[(String, String)]
    // crashMap uses (name=source, contents) but derives 'c' from contents
    // length; feed n_chars as a fake contents of the right length is
    // wasteful — instead map directly:
    val mapFn: (String, String) => IterableOnce[KeyValue] = (name, nChars) =>
      Seq(
        KeyValue("a", name),
        KeyValue("b", name.length.toString),
        KeyValue("c", nChars),
        KeyValue("d", "xyzzy"))
    val core = MapReduce.run(spark, perDoc, mapFn, MrApps.crashReduce, 4)
      .collect().map(kv => kv.key -> kv.value).toMap
    val df = MrApps.crashPipeline(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(core === df)
  }

  private def indexerRows(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> s"${r.getLong(1)} ${r.getString(2)}").toMap

  test("indexer via generic core == declarative pipeline") {
    val perDoc = Tables.documents(spark, sf)
      .select($"doc_id".cast("string"), $"text").as[(String, String)]
    val core = MapReduce.run(spark, perDoc, MrApps.indexerMap, MrApps.indexerReduce, 8)
      .collect().map(kv => kv.key -> kv.value).toMap
    val df = indexerRows(MrApps.indexer(spark, sf))
    assert(core.nonEmpty)
    assert(core === df)
  }

  test("indexer counts a doc_id on two rows once, like the oracle's DISTINCT") {
    // doc 7 sits on two rows; "ab" and "cd" appear in both of them
    val rows = Seq(
      (7L, "ab cd ab"), (7L, "cd, ab!"), (10L, "ab zz"), (2L, "zz"), (3L, ""))
    val docs = rows.toDF("doc_id", "text")
    val got = indexerRows(MrApps.indexerOf(docs))
    // the oracle's shape: DISTINCT (word, doc string), then count and a
    // string-ordered join per word
    val want = rows
      .flatMap { case (id, text) =>
        text.split(MrApps.LetterTokenPattern).filter(_.nonEmpty).map(_ -> id.toString) }
      .distinct.groupBy(_._1).map { case (w, ps) =>
        val ds = ps.map(_._2).sorted
        w -> s"${ds.size} ${ds.mkString(",")}" }
    assert(got === want)
    assert(got("ab") === "2 10,7") // string order: "10" < "7"
    assert(got("cd") === "1 7")
    val core = MapReduce.run(spark,
        docs.select($"doc_id".cast("string"), $"text").as[(String, String)],
        MrApps.indexerMap, MrApps.indexerReduce, 2)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(core === got)
  }

  test("letterTokens tokenizes like the plugin ABI's String.split (wcMap, indexerMap)") {
    val extra = Seq("h\u00e9llo w\u00f6rld", "\ud835\udc00b\u0301c \u0663\u216b\u00b2x",
      " \u00a0a\u3000b\u2003c ", "", "  \t\n", "\u01c5\u02b0\u4e2d-\u20ac\ud83d\ude00q")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").as[(Long, String)]
      .collect().toSeq ++ extra.zipWithIndex.map { case (t, i) => (-1L - i, t) }
    val got = docs.toDF("doc_id", "text")
      .select($"doc_id", MrApps.letterTokens($"text").as("w"),
        array_distinct(MrApps.letterTokens($"text")).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getSeq[String](2))).toMap
    for ((id, text) <- docs) {
      assert(got(id)._1 === MrApps.wcMap("f", text).iterator.map(_.key).toSeq, s"wc $id")
      assert(got(id)._2 === MrApps.indexerMap("f", text).iterator.map(_.key).toSeq, s"indexer $id")
    }
    assert(got.values.map(_._1.size).sum > 1000)
  }

  test("mr_indexer plans exactly one hash exchange") {
    val plan = MrApps.indexer(spark, sf).queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx === 1, s"mr_indexer: $nEx hash exchanges:\n$plan")
  }

  test("output is key-sorted within partitions (reference mr-out contract)") {
    val parts = MapReduce.run(spark, docsInput, MrApps.wcMap, MrApps.wcReduce, 4)
      .mapPartitions(it => Iterator.single(it.map(_.key).toSeq))
      .collect()
    parts.foreach(keys => assert(keys == keys.sorted))
  }

  test("runAgg (incremental Aggregator) == wc") {
    val countAgg: Aggregator[KeyValue, Long, Long] = new Aggregator[KeyValue, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, a: KeyValue): Long = b + 1
      def merge(b1: Long, b2: Long): Long = b1 + b2
      def finish(r: Long): Long = r
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      def outputEncoder: Encoder[Long] = Encoders.scalaLong
    }
    val agg = MapReduce.runAgg(spark, docsInput, MrApps.wcMap, countAgg)
      .collect().toMap
    val df = MrApps.wc(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg === df)
  }

  test("local[1] sequential == local[4] parallel (test-mr.sh analog)") {
    // Same session; the sequential oracle is the same job at nReduce=1.
    val one = MapReduce.run(spark, docsInput, MrApps.wcMap, MrApps.wcReduce, 1)
      .collect().map(kv => kv.key -> kv.value).toMap
    val par = MapReduce.run(spark, docsInput, MrApps.wcMap, MrApps.wcReduce, 8)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(one === par)
  }
}
