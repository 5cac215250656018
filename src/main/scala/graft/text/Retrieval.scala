package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Lexical retrieval over the documents table: TF-IDF term weighting
  * and BM25 ranking — the sparse twin of the dense [[graft.sim.Similarity]]
  * tier; a corpus-curation pipeline uses both (BM25 for quality probes
  * and query-based filtering, embeddings for semantic dedup).
  *
  * Cross-engine determinism rules (memory conventions): scores are
  * rounded to 4dp BEFORE ranking, ties break on the term / doc_id, and
  * every count is BIGINT on both engines. Natural log on both engines.
  *
  * Scale: term statistics are two keyed aggregates — (doc, term) then
  * (term) — each a single partial+final shuffle; document frequency
  * tables are vocabulary-sized (tiny next to the corpus) and the final
  * per-doc ranking partitions on doc_id. Nothing global except the
  * corpus-size scalar (one-row broadcast).
  */
object Retrieval extends graft.Catalog {

  /** Top TF-IDF terms per document: tf(d,t) * ln(N / df(t)), top
    * [[TopTerms]] per doc by (rounded score desc, term asc).
    */
  val TopTerms = 3

  def tfidfTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val tf = docs
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", round($"tf" * log($"n".cast("double") / $"df"), 4))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopTerms)
      .select($"doc_id", $"term", $"score")
  }

  /** BM25 ranking of all documents against a fixed query, standard
    * Robertson/Sparck-Jones parameters k1=1.2, b=0.75 and the
    * +0.5-smoothed idf (ln(1 + (N-df+0.5)/(df+0.5))). Top [[TopDocs]]
    * by (rounded score desc, doc_id asc). The per-term statistics join
    * is against a query-sized (3-row) broadcast.
    */
  val Query: Seq[String] = Seq("spark", "vector", "stream")
  val K1 = 1.2
  val B = 0.75
  val TopDocs = 20

  /** The query terms are compile-time constants, so every per-term
    * statistic is a CONDITIONAL aggregate of one doc_id-keyed pass: no
    * (doc, term) shuffle, no df join — ONE data-scale exchange plus a
    * one-row corpus broadcast (plan-audited; the general-query
    * formulation would pay 4+ exchanges). Per-term contributions sum in
    * explicit written order, not an agg, so the score is
    * order-of-evaluation deterministic on both engines.
    */
  def bm25Search(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val terms = Tables.documents(spark, d)
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("term"))
    val tfCols = Query.zipWithIndex.map { case (t, i) =>
      count(when($"term" === t, 1)).as(s"tf$i")
    }
    val perDoc = terms.groupBy($"doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = Query.indices.flatMap { i =>
      Seq(sum(($"tf$i" > 0).cast("long")).as(s"df$i"))
    }
    val corpusCols = avg($"dl").as("avgdl") +: dfCols
    val corpus = perDoc.agg(count(lit(1)).as("n"), corpusCols: _*)
    val contribs = Query.indices.map { i =>
      when($"tf$i" > 0,
        log(lit(1) + ($"n" - $"df$i" + 0.5) / ($"df$i" + 0.5)) *
          $"tf$i" * (lit(K1) + 1) /
          ($"tf$i" + lit(K1) * (lit(1) - lit(B) + lit(B) * $"dl" / $"avgdl")))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(corpus))
      .filter(Query.indices.map(i => $"tf$i" > 0).reduce(_ || _))
      .select($"doc_id", round(contribs.reduce(_ + _), 4).as("score"))
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(TopDocs)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tfidf_topk" -> (tfidfTopk _),
    "bm25_search" -> (bm25Search _))

  val oracles: Map[String, String] = Map(
    "tfidf_topk" ->
      s"""WITH tf AS (
         |  SELECT doc_id, t AS term, count(*) AS tf
         |  FROM (SELECT doc_id,
         |          unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
         |        FROM documents) x
         |  GROUP BY doc_id, t),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS score
         |  FROM tf JOIN df ON tf.term = df.term, n),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY score DESC, term ASC) AS rk
         |  FROM scored)
         |SELECT doc_id, term, score FROM rk WHERE rk <= $TopTerms""".stripMargin,
    "bm25_search" -> bm25Oracle)

  private def bm25Oracle: String = {
    val tfCols = Query.zipWithIndex.map { case (t, i) =>
      s"count(CASE WHEN term = '$t' THEN 1 END) AS tf$i"
    }.mkString(",\n         ")
    val dfCols = Query.indices.map { i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(",\n         ")
    val contribs = Query.indices.map { i =>
      s"""CASE WHEN tf$i > 0
         |  THEN ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * ($K1 + 1)
         |       / (tf$i + $K1 * (1 - $B + $B * dl / avgdl))
         |  ELSE 0.0 END""".stripMargin
    }.mkString("\n+ ")
    val anyTf = Query.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH terms AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS term
       |  FROM documents),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS dl,
       |         $tfCols
       |  FROM terms GROUP BY doc_id),
       |corpus AS (
       |  SELECT count(*) AS n, avg(dl) AS avgdl,
       |         $dfCols
       |  FROM perdoc)
       |SELECT doc_id,
       |       round($contribs, 4) AS score
       |FROM perdoc, corpus
       |WHERE $anyTf
       |ORDER BY score DESC, doc_id ASC
       |LIMIT $TopDocs""".stripMargin
  }
}
