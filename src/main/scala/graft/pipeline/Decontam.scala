package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftnative.Native
import graft.functions.{DistinctGramHashes, MaxCosine}
import graft.Tables
import graft.text.TextAnalysis

/** Benchmark decontamination — the pre-training hygiene step the
  * reference has no analog for (SURVEY.md §2.3): flag training
  * documents that share any long token n-gram with a held-out
  * benchmark/eval set, so eval leakage can be dropped before training
  * (the 13-gram collision rule of GPT-3 appendix C / Lee et al. 2022,
  * here N=8 to suit the small fixture docs).
  *
  * Scale design: the benchmark side is eval suites — megabytes, not
  * terabytes — so its distinct n-gram set is BROADCAST; the training
  * corpus (the 100 TB side) streams through one scan, generating
  * n-grams via posexplode + stacked lead() windows on the doc_id
  * shuffle (whole-stage codegen; the array-lambda formulation is
  * interpreted and measured slower — see memory of round 1). The
  * contaminated flag falls out of a broadcast semi-ish join, no
  * shuffle of the corpus beyond its one doc_id exchange.
  */
object Decontam extends graft.Catalog {

  /** n-gram order for the collision rule. */
  val N = 8

  /** The held-out benchmark split: one fixture source plays the role
    * of the eval suite.
    */
  val BenchSource = "src0"

  /** Per-document DISTINCT 60-bit gram hashes (r13: in-row via the
    * native [[graft.functions.DistinctGramHashes]] — the former
    * posexplode + stacked-lead-window occurrence stream paid a doc_id
    * exchange and per-doc sort, and every consumer deduplicated per doc
    * anyway: flagContaminated's first move was a (doc_id, source, g)
    * distinct, [[graft.pipeline.SplitAudit]] takes per-gram max flags).
    * Shuffles 8 hash bytes per distinct gram, never the ~50-char
    * string; the oracle hashes IDENTICALLY (conv(hex,16,10) == DuckDB
    * CAST('0x'||hex AS BIGINT)), so parity is exact even in the (≈1e-8
    * at this corpus) event of a prefix collision.
    */
  def gramsOf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("t", TextAnalysis.toks($"text"))
      .select($"doc_id", $"source",
        explode(Native(es => DistinctGramHashes(es.head, N), $"t")).as("g"))
  }

  /** Per training document: distinct n-grams, how many collide with
    * the benchmark set, and the contaminated verdict. Docs shorter
    * than N tokens carry zero grams and are trivially clean.
    */
  def flagContaminated(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // ONE gram pipeline for both sides: the former per-side
    // filter-then-distinct branches each re-planned the full
    // posexplode/window gram build (the filters sit below the distinct
    // exchanges, so ReuseExchange cannot collapse them). gramsOf is
    // per-doc distinct IN-ROW (r13), so the former (doc_id, is_bench,
    // g) distinct exchange is structurally redundant and dropped; the
    // bench side still re-distincts on g (a types-bounded frame).
    val dg = gramsOf(spark, d)
      .select($"doc_id", ($"source" === BenchSource).as("is_bench"), $"g")
    val bench = dg.filter($"is_bench").select($"g").distinct()
    val train = dg.filter(!$"is_bench").select($"doc_id", $"g")
    val perDoc = train.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val hits = train.join(broadcast(bench), "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"))
    Tables.documents(spark, d)
      .filter($"source" =!= BenchSource)
      .select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .join(hits, Seq("doc_id"), "left_outer")
      .select(
        $"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)) > 0).cast("long").as("contaminated"))
  }

  /** Cosine threshold for embedding-level contamination. Chosen above
    * the corpus's cross-split background (p99.9 ~ 0.38) but below its
    * max (~0.49) so both verdicts occur in the fixture.
    */
  val EmbThreshold = 0.45

  /** Bounded eval-side fit: at most this many held-out vectors are
    * collected (smallest vec_id first — deterministic). Real eval
    * suites are megabytes, so this is the honest production bound; it
    * also pins the operator's cost LINEAR in the corpus. 4096 x 64
    * doubles = 2 MB on the driver — the [[graft.sim.Similarity]]
    * TrainCap discipline.
    */
  val BenchCap = 4096

  /** Embedding-space decontamination — the semantic complement of the
    * n-gram rule: flag training vectors whose max cosine against the
    * held-out split (vec_id % 10 == 0 plays the eval set) clears
    * [[EmbThreshold]]. Paraphrased eval leakage defeats exact n-gram
    * collision; embedding similarity catches it.
    *
    * Scale shape: the ([[BenchCap]]-bounded) eval matrix rides inside
    * the native [[graft.functions.MaxCosine]] expression, so the train
    * side is ONE narrow codegen'd scan — no join, no shuffle, no
    * per-pair row materialization. The earlier broadcast-cross-join +
    * aggregate formulation copied both 64-double arrays into a
    * JoinedRow per pair and went quadratic when the fixture's eval
    * split scaled with the corpus: 28 s at sf1 vs 1.3 s for this scan
    * (same answers, oracle-checked).
    */
  def flagEmbedContaminated(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, d)
      .withColumn("v", col("embedding").cast("array<double>"))
    val benchArr: Array[Array[Double]] = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id", $"v").sort($"vec_id").limit(BenchCap)
      .collect().map(_.getSeq[Double](1).toArray)
    val maxCos = Native(es => MaxCosine(es.head, benchArr), $"v")
    e.filter($"vec_id" % 10 =!= 0)
      .select($"vec_id", maxCos.as("max_sim"))
      .select($"vec_id", $"max_sim",
        ($"max_sim" >= EmbThreshold).cast("long").as("contaminated"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "decontam_ngrams" -> (flagContaminated _),
    "decontam_embed" -> (flagEmbedContaminated _))

  def gramSql: String = {
    val parts = (1 to N).map(i => s"t[i + $i]").mkString(" || ' ' || ")
    s"""SELECT doc_id, source,
       |  CAST('0x' || substr(md5(g0), 1, 15) AS BIGINT) AS g
       |FROM (SELECT doc_id, source,
       |        unnest(list_transform(range(len(t) - ${N - 1}), i -> $parts)) AS g0
       |      FROM (SELECT doc_id, source,
       |              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |            FROM documents) toks) grams""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "decontam_embed" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
         |b AS (SELECT v AS bv, nm AS bnm FROM n WHERE vec_id % 10 = 0
         |      ORDER BY vec_id LIMIT $BenchCap),
         |t AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
         |s AS (
         |  SELECT t.vec_id,
         |         max(round(list_dot_product(t.v, b.bv) / (t.nm * b.bnm), 4)) + 0.0 AS max_sim
         |  FROM t, b GROUP BY t.vec_id)
         |SELECT vec_id, max_sim,
         |  CAST(max_sim >= $EmbThreshold AS BIGINT) AS contaminated
         |FROM s""".stripMargin,
    "decontam_ngrams" ->
      s"""WITH grams AS ($gramSql),
         |bench AS (SELECT DISTINCT g FROM grams WHERE source = '$BenchSource'),
         |train AS (SELECT DISTINCT doc_id, g FROM grams WHERE source <> '$BenchSource'),
         |pd AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1),
         |h AS (SELECT doc_id, count(*) AS n_hits
         |      FROM train JOIN bench USING (g) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(pd.n_grams, 0) AS n_grams,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) > 0 AS BIGINT) AS contaminated
         |FROM documents d
         |LEFT JOIN pd ON d.doc_id = pd.doc_id
         |LEFT JOIN h ON d.doc_id = h.doc_id
         |WHERE d.source <> '$BenchSource'""".stripMargin)
}
