package graft.apps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.Tables
import graft.functions.{DecimalOrderJoin, LetterTokens}
import graft.mr.{AppLoader, KeyValue, MapReduce, MrApp}

/** The reference's eight pluggable Map/Reduce apps (SURVEY.md §2.2) as
  * idiomatic DataFrame pipelines over the `documents` table (which plays
  * the role of the Gutenberg corpus: doc text + `source` as the file
  * name). Each app also exposes its (mapFn, reduceFn) pair so the tests
  * can prove the generic [[graft.mr.MapReduce]] core computes the same
  * result as the declarative pipeline.
  *
  * Scale notes: every pipeline is scan → narrow transforms → ONE hash
  * aggregate (partial+final, so the shuffle carries pre-combined rows);
  * the indexer dedups words per document inside the row, so it needs no
  * second aggregate for the (word, doc) DISTINCT.
  * Tokenization stays inside whole-stage codegen: the byte-scanning
  * kernels of `graft.functions` ([[letterTokens]],
  * [[graft.text.TextAnalysis.toks]]) and `explode`, no UDFs; so does
  * the indexer's doc list, sorted as packed longs
  * ([[graft.functions.DecimalOrderJoin]]).
  */
object MrApps extends graft.Catalog {

  /** `unicode.IsLetter` tokenizer of the reference wc app
    * (mrapps/wc.go:23-26) — `\p{L}` is the same predicate in Java regex
    * and in DuckDB's RE2.
    */
  val LetterTokenPattern = "[^\\p{L}]+"

  /** The letter tokens of `c`: the codegen'd [[LetterTokens]] byte
    * scanner, row for row the retained spelling `split(c,
    * LetterTokenPattern)` with its empty tokens dropped (pinned by
    * NativeKernelExprSpec, and against [[wcMap]]'s `String.split` by
    * MrCoreSpec).
    */
  def letterTokens(c: Column): Column = Native(es => LetterTokens(es.head), c)

  // ---- map/reduce fn pairs (the reference plugin ABI, for MapReduce.run) ----

  val wcMap: (String, String) => IterableOnce[KeyValue] = (_, contents) =>
    contents.split(LetterTokenPattern).iterator.filter(_.nonEmpty).map(KeyValue(_, "1"))
  val wcReduce: (String, Seq[String]) => String = (_, vs) => vs.size.toString

  val indexerMap: (String, String) => IterableOnce[KeyValue] = (name, contents) =>
    contents.split(LetterTokenPattern).iterator.filter(_.nonEmpty).distinct
      .map(KeyValue(_, name))
  /** Counts DISTINCT names, like the oracle: the reference never maps
    * one file name twice, but one doc_id may sit on several rows.
    */
  val indexerReduce: (String, Seq[String]) => String = (_, vs) => {
    val docs = vs.distinct.sorted
    s"${docs.size} ${docs.mkString(",")}"
  }

  /** nocrash app semantics (mrapps/nocrash.go:28-49): four fixed pairs per
    * input; reduce sorts values and joins with " ".
    */
  val crashMap: (String, String) => IterableOnce[KeyValue] = (name, contents) =>
    Seq(
      KeyValue("a", name),
      KeyValue("b", name.length.toString),
      KeyValue("c", contents.length.toString),
      KeyValue("d", "xyzzy"))
  val crashReduce: (String, Seq[String]) => String = (_, vs) => vs.sorted.mkString(" ")

  val wcLongMap: (String, String) => IterableOnce[KeyValue] = (_, contents) =>
    contents.split("\\s+").iterator.filter(_.nonEmpty).map(KeyValue(_, "1"))
  val wcLongReduce: (String, Seq[String]) => String = (_, vs) => vs.mkString(",")

  val earlyExitMap: (String, String) => IterableOnce[KeyValue] = (name, _) =>
    Iterator.single(KeyValue(name, "1"))
  val earlyExitReduce: (String, Seq[String]) => String = (_, vs) => vs.size.toString

  // ---- submit-time plugin ABI (the reference's wc.so, mrapps/wc.go) ----

  /** wc packaged as a loadable [[MrApp]]: what a user ships instead of the
    * reference's compiled `wc.so`. Referenced BY NAME through
    * [[AppLoader]] in `mr_wc_plugin` below, so the catalog proves the
    * whole submit-time path (resolve → bind → distribute → reduce).
    */
  object WcApp extends MrApp {
    def map(name: String, contents: String): IterableOnce[KeyValue] = wcMap(name, contents)
    def reduce(key: String, values: Seq[String]): String = wcReduce(key, values)
  }

  /** wc through the generic core with the app resolved at run time from
    * its class name — no compile-time link between the job and the app
    * (main/mrworker.go:33-51). Same answer as `mr_wc`, but `value` is a
    * string: the plugin ABI is untyped, like the reference's.
    */
  def wcPlugin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val app = AppLoader.load("graft.apps.MrApps$WcApp")
    val docs = Tables.documents(spark, sfDir).select("source", "text").as[(String, String)]
    MapReduce.runApp(spark, docs, app, 16).toDF()
  }

  // ---- declarative pipelines (registered in SparkEntry.queries) ----

  /** One row per token of each document, `tokenizer` yielding no empty
    * token (it replaces `explode(split(text, pattern))` plus a
    * `length(word) > 0` filter).
    */
  private def tokens(spark: SparkSession, sfDir: String, tokenizer: Column => Column): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), explode(tokenizer(col("text"))).as("word"))

  /** wc: tokenize on non-letter runes, count per word (mrapps/wc.go:21-42). */
  def wc(spark: SparkSession, sfDir: String): DataFrame =
    tokens(spark, sfDir, letterTokens)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** indexer: inverted index word -> "<n> doc1,doc2,..." with doc ids
    * deduped per document and sorted (mrapps/indexer.go:21-40).
    */
  def indexer(spark: SparkSession, sfDir: String): DataFrame =
    indexerOf(Tables.documents(spark, sfDir))

  /** The indexer over any (doc_id, text) frame. Words are
    * [[letterTokens]] (the retained spelling: `split(text,
    * LetterTokenPattern)` plus a `length(word) > 0` filter) and dedup
    * inside each row, like the reference's per-file Map
    * (mrapps/indexer.go:22-27), so the token stream crosses ONE exchange
    * instead of a corpus-wide (word, doc) `distinct()` followed by the
    * groupBy. `collect_set` over the long doc_id keeps the oracle's
    * DISTINCT when a doc_id sits on several rows. The doc list is the
    * codegen'd [[DecimalOrderJoin]], row for row the retained spelling
    * `array_join(sort_array(cast(ids AS array<string>)), ",")` (pinned by
    * NativeKernelExprSpec): the docs follow the string order of the
    * oracle's `ORDER BY doc`, sorted as packed longs instead of strings.
    */
  def indexerOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(array_distinct(letterTokens(col("text")))).as("word"))
      .groupBy("word")
      .agg(collect_set(col("doc_id")).as("ids"))
      .select(col("word"), size(col("ids")).cast("long").as("n_docs"),
        Native(es => DecimalOrderJoin(es.head), col("ids")).as("docs"))

  /** crash/nocrash pipeline: 4 fixed pairs per document, reduce = sorted
    * space-join (mrapps/crash.go:36-57). `source` plays the file name,
    * `n_chars` the byte length.
    */
  def crashPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    d.select(explode(array(
        struct(lit("a").as("k"), col("source").as("v")),
        struct(lit("b").as("k"), length(col("source")).cast("string").as("v")),
        struct(lit("c").as("k"), col("n_chars").cast("string").as("v")),
        struct(lit("d").as("k"), lit("xyzzy").as("v")))).as("kv"))
      .select(col("kv.k").as("k"), col("kv.v").as("v"))
      .groupBy("k")
      .agg(array_join(sort_array(collect_list(col("v"))), " ").as("vals"))
  }

  /** wc_long: whitespace tokenizer ([[graft.text.TextAnalysis.toks]],
    * the retained spelling `split(text, "\\s+")` without empty tokens),
    * values joined with "," (mrapps/wc_long.go:9-22). All values are
    * "1", so collect order is irrelevant.
    */
  def wcLong(spark: SparkSession, sfDir: String): DataFrame =
    tokens(spark, sfDir, graft.text.TextAnalysis.toks)
      .groupBy("word")
      .agg(array_join(collect_list(lit("1")), ",").as("ones"))

  /** early_exit: one pair per input file, count per file
    * (mrapps/early_exit.go:18-35).
    */
  def earlyExit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("cnt"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wc" -> (wc _),
    "mr_wc_plugin" -> (wcPlugin _),
    "mr_indexer" -> (indexer _),
    "mr_crash" -> (crashPipeline _),
    "mr_wc_long" -> (wcLong _),
    "mr_early_exit" -> (earlyExit _))

  val oracles: Map[String, String] = Map(
    "mr_wc" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word FROM documents) t
        |WHERE length(word) > 0 GROUP BY word""".stripMargin,
    "mr_wc_plugin" ->
      """SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
        |FROM (SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word FROM documents) t
        |WHERE length(word) > 0 GROUP BY word""".stripMargin,
    "mr_indexer" ->
      """SELECT word, count(*) AS n_docs, string_agg(doc, ',' ORDER BY doc) AS docs
        |FROM (SELECT DISTINCT word, doc FROM
        |       (SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word,
        |               CAST(doc_id AS VARCHAR) AS doc FROM documents) u
        |      WHERE length(word) > 0) t
        |GROUP BY word""".stripMargin,
    "mr_crash" ->
      """SELECT k, string_agg(v, ' ' ORDER BY v) AS vals FROM (
        |  SELECT 'a' AS k, source AS v FROM documents UNION ALL
        |  SELECT 'b' AS k, CAST(length(source) AS VARCHAR) AS v FROM documents UNION ALL
        |  SELECT 'c' AS k, CAST(n_chars AS VARCHAR) AS v FROM documents UNION ALL
        |  SELECT 'd' AS k, 'xyzzy' AS v FROM documents) t
        |GROUP BY k""".stripMargin,
    "mr_wc_long" ->
      """SELECT word, string_agg('1', ',') AS ones
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |WHERE length(word) > 0 GROUP BY word""".stripMargin,
    "mr_early_exit" ->
      "SELECT source, count(*) AS cnt FROM documents GROUP BY source")
}
