package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis

/** Data Selection with Importance Resampling (DSIR) — the hashed-n-gram
  * importance weighting of Xie et al., "Data Selection for Language
  * Models via Importance Resampling" (NeurIPS 2023): fit two bag-of-
  * hashed-bigram multinomials (a TARGET distribution — here the English
  * slice standing in for "looks like the eval domain" — and the RAW
  * corpus), then score every document by its log-likelihood ratio
  * Σ_b tf_b(doc) · ln( p̂_target(b) / p̂_raw(b) ) with add-one smoothing
  * over the [[NumBuckets]] hash buckets. Documents most target-like get
  * the highest weights; a training run resamples by them.
  *
  * Reference basis: the reference has no data-selection operator
  * (SURVEY.md §2.3); this is part of the LLM-pipeline tier the build
  * adds beyond the reference surface, alongside [[Curation]]'s mixture
  * and [[Classifier]]'s quality gate (which scores documents against a
  * fitted centroid; DSIR scores them against a fitted n-gram ratio —
  * the two standard lightweight selectors).
  *
  * Scale shape (the point of the hashing): the feature space is a FIXED
  * 4096-bucket table regardless of corpus size — the bigram stream
  * collapses onto it with one map-side-combined aggregate, the fitted
  * ratio table broadcasts everywhere, and the per-doc score is one
  * doc_id-keyed aggregate. Two data-scale exchanges total at 100 TB;
  * nothing vocabulary-sized ever shuffles (the vocabulary IS the 4096
  * buckets). Cross-engine determinism: bucket = first 60 bits of
  * md5(bigram) mod [[NumBuckets]] (the catalog's portable hash,
  * [[Curation.stratifiedSample]]); each bucket's log-ratio is rounded
  * onto a 1e-4 grid ONCE, per-doc sums run on exact BIGINT grid points,
  * and the final weight is the exact-grid quotient — no FP sum ever
  * crosses engines.
  */
object Dsir extends graft.Catalog {

  val NumBuckets = 4096
  val TargetLang = "en"
  val TopDocs = 100

  /** (doc_id, lang, bucket) — one row per bigram OCCURRENCE. Bigrams
    * are built inside the token array (zip_with of the array with its
    * own tail), so the only explode is the final one-column stream.
    */
  private def bigramStream(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select($"doc_id", $"lang", TextAnalysis.toks($"text").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", $"lang",
        explode(zip_with(
          slice($"t", lit(1), size($"t") - 1),
          slice($"t", lit(2), size($"t") - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .select($"doc_id", $"lang",
        (expr("conv(substring(md5(bigram), 1, 15), 16, 10)").cast("long")
          % NumBuckets).as("bucket"))
  }

  /** Top-[[TopDocs]] most target-like documents by hashed-bigram
    * log-likelihood ratio: (doc_id, n_bigrams, weight).
    */
  def dsirWeights(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val grams = bigramStream(spark, d)
    // fitted multinomials: ONE bucket-keyed aggregate carries both
    // distributions (target = conditional count). The <= 4096-row fit
    // is materialized once (coalesce(1) + checkpoint) — the corpus
    // scan behind it must not replay under the totals AND ratios
    // consumers, and the scoring join below starts from the
    // materialized table, the same fitted-constant discipline as
    // [[Curation.fittedRates]].
    val buckets = grams.groupBy($"bucket")
      .agg(
        sum(when($"lang" === TargetLang, 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .coalesce(1)
      .transform(graft.Ckpt.cut)
    val totals = buckets.agg(
      sum($"ct").as("t_tot"), sum($"cr").as("r_tot"))
    // per-bucket smoothed log-ratio, rounded onto the 1e-4 grid — the
    // ONLY transcendental in the operator, evaluated once per bucket
    // (<= 4096 rows) and identically shaped on both engines
    val ratios = buckets.crossJoin(broadcast(totals))
      .select($"bucket",
        round(
          (log((($"ct" + 1L).cast("double")) /
            (($"t_tot" + lit(NumBuckets.toLong)).cast("double"))) -
            log((($"cr" + 1L).cast("double")) /
              (($"r_tot" + lit(NumBuckets.toLong)).cast("double")))) * 10000,
          0).cast("long").as("lr_e4"))
    grams
      .join(broadcast(ratios), "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"lr_e4").as("w_e4"))
      .select($"doc_id", $"n_bigrams",
        ($"w_e4".cast("double") / 10000).as("weight"))
      .orderBy($"weight".desc, $"doc_id".asc)
      .limit(TopDocs)
  }

  private def dsirOracle: String =
    s"""WITH grams AS (
       |  SELECT doc_id, lang,
       |    CAST(CONCAT('0x', substr(md5(bg), 1, 15))
       |         AS BIGINT) % $NumBuckets AS bucket
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(t)),
       |                                i -> t[i] || ' ' || t[i + 1])) AS bg
       |        FROM (SELECT doc_id, lang,
       |                list_filter(string_split_regex(text, '\\s+'),
       |                            x -> x <> '') AS t
       |              FROM documents)
       |        WHERE len(t) >= 2) d),
       |buckets AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(count(*) AS BIGINT) AS cr
       |  FROM grams GROUP BY bucket),
       |totals AS (
       |  SELECT CAST(sum(ct) AS BIGINT) AS t_tot,
       |         CAST(sum(cr) AS BIGINT) AS r_tot
       |  FROM buckets),
       |ratios AS (
       |  SELECT bucket,
       |    CAST(round(
       |      (ln(CAST(ct + 1 AS DOUBLE) / CAST(t_tot + $NumBuckets AS DOUBLE)) -
       |       ln(CAST(cr + 1 AS DOUBLE) / CAST(r_tot + $NumBuckets AS DOUBLE)))
       |      * 10000, 0) AS BIGINT) AS lr_e4
       |  FROM buckets, totals)
       |SELECT g.doc_id AS doc_id,
       |       CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(r.lr_e4) AS DOUBLE) / 10000 AS weight
       |FROM grams g JOIN ratios r ON g.bucket = r.bucket
       |GROUP BY g.doc_id
       |ORDER BY weight DESC, doc_id ASC
       |LIMIT $TopDocs""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_weights" -> (dsirWeights _))

  val oracles: Map[String, String] = Map(
    "dsir_weights" -> dsirOracle)
}
