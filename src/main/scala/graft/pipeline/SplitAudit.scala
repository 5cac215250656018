package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Train/eval split leakage audit — the validation every pipeline
  * must run AFTER splitting and BEFORE training: how much of the eval
  * split is reachable from train as an exact duplicate or through
  * shared 8-gram content (Lee et al. 2022's finding that split-
  * crossing duplicates inflate eval scores). Uses the catalog's own
  * conventions end-to-end: [[Packing.trainSplit]]'s md5-bucket 98/1/1
  * assignment (buckets 0,1 = eval), `text_fingerprint`'s normalized-
  * text md5 for exact identity, and [[Decontam]]'s 60-bit hashed
  * 8-grams for content overlap.
  *
  * Output (one row): split sizes, the number of exact-duplicate
  * train↔eval PAIRS (Σ n_train·n_eval over fingerprint groups — the
  * count of leaking edges, not just leaking docs), the eval split's
  * distinct gram count, how many of those grams also occur in train,
  * and the leak rate.
  *
  * Scale shape: fingerprint leg = one scan → (fp, split) counts
  * (map-side combined) → 1-row fold; gram leg = the [[Decontam]]
  * gram derivation (one doc_id-partitioned window) → per-split
  * DISTINCT on 8-byte hashes → one aggregate. A semi-join-shaped
  * LEFT JOIN on the hashed gram key; no string ever shuffles.
  */
object SplitAudit extends graft.Catalog {

  private def splitOf(idCol: org.apache.spark.sql.Column) =
    graft.text.Dedup.md5Prefix32(idCol.cast("string"), 1) % 100L

  def splitLeakageAudit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
      .withColumn("is_eval", when(splitOf($"doc_id") <= 1L, 1L).otherwise(0L))
    // exact-duplicate leg: normalized-text fingerprint groups
    val fps = docs
      .select($"is_eval",
        md5(regexp_replace(lower(trim($"text")), "\\s+", " ")).as("fp"))
      .groupBy($"fp")
      .agg(sum(lit(1L) - $"is_eval").as("n_train"), sum($"is_eval").as("n_eval"))
    val exact = fps.agg(
      sum($"n_train").as("n_train"),
      sum($"n_eval").as("n_eval"),
      sum($"n_train" * $"n_eval").as("exact_cross_pairs"))
    // shared-content leg: distinct hashed 8-grams per split. ONE pass:
    // per-gram presence flags from a single g-keyed aggregate — the
    // former spelling planned the gram window pipeline TWICE (one per
    // split's filter-then-distinct branch; the filters sit below the
    // exchanges, so ReuseExchange cannot collapse them) and then joined
    // the two gram sets back together. max(is_eval)/max(1−is_eval) over
    // one aggregate give the same two type-sets: Σ in_eval = distinct
    // eval grams, Σ in_eval·in_train = distinct grams present in both.
    val gflags = Decontam.gramsOf(spark, d)
      .withColumn("is_eval", when(splitOf($"doc_id") <= 1L, 1L).otherwise(0L))
      .groupBy($"g")
      .agg(max($"is_eval").as("in_eval"),
        max(lit(1L) - $"is_eval").as("in_train"))
    val leak = gflags.agg(
      sum($"in_eval").as("eval_gram_types"),
      sum($"in_eval" * $"in_train").as("leaked_gram_types"))
    exact.crossJoin(broadcast(leak))
      .select($"n_train", $"n_eval", $"exact_cross_pairs",
        $"eval_gram_types", $"leaked_gram_types",
        when($"eval_gram_types" > 0L,
          round($"leaked_gram_types".cast("double") /
            $"eval_gram_types".cast("double"), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("gram_leak_rate"))
  }

  private def auditOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text,
       |    CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 <= 1
       |         THEN 1 ELSE 0 END AS is_eval
       |  FROM documents),
       |fps AS (
       |  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       |    CAST(sum(1 - is_eval) AS BIGINT) AS n_train,
       |    CAST(sum(is_eval) AS BIGINT) AS n_eval
       |  FROM docs GROUP BY 1),
       |ex AS (
       |  SELECT CAST(sum(n_train) AS BIGINT) AS n_train,
       |    CAST(sum(n_eval) AS BIGINT) AS n_eval,
       |    CAST(sum(n_train * n_eval) AS BIGINT) AS exact_cross_pairs
       |  FROM fps),
       |grams AS (${Decontam.gramSql}),
       |gsplit AS (
       |  SELECT g,
       |    CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 <= 1
       |         THEN 1 ELSE 0 END AS is_eval
       |  FROM grams),
       |eg AS (SELECT DISTINCT g FROM gsplit WHERE is_eval = 1),
       |tg AS (SELECT DISTINCT g FROM gsplit WHERE is_eval = 0),
       |leak AS (
       |  SELECT CAST(count(*) AS BIGINT) AS eval_gram_types,
       |    CAST(sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS leaked_gram_types
       |  FROM eg LEFT JOIN tg ON eg.g = tg.g)
       |SELECT n_train, n_eval, exact_cross_pairs,
       |  eval_gram_types, leaked_gram_types,
       |  CASE WHEN eval_gram_types > 0
       |    THEN round(CAST(leaked_gram_types AS DOUBLE) / CAST(eval_gram_types AS DOUBLE), 6) + 0.0
       |    ELSE 0.0 END AS gram_leak_rate
       |FROM ex, leak""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "split_leakage_audit" -> (splitLeakageAudit _))

  val oracles: Map[String, String] = Map(
    "split_leakage_audit" -> auditOracle)
}
