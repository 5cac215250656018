package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Shipping-side operators of a training-data pipeline: deterministic
  * train/val/test assignment and greedy sequence packing (documents →
  * fixed-size context windows). Both are content-hash driven, so the
  * assignment is independent of partitioning, engine, and rerun — the
  * property that makes a 100 TB pipeline auditable.
  *
  * Reference basis: none — the reference ships raw `mr-out-R` text files
  * (mr/worker.go:139-157); packing/splitting are driver-mandated
  * extensions (SURVEY.md §2.3).
  */
object Packing extends graft.Catalog {

  /** Character budget per packed sequence (the char-count stand-in for a
    * token budget; swap `n_chars` for a tokenizer count upstream).
    */
  val SeqBudget = 2048L

  /** Deterministic shards per source: packing is sequential WITHIN a
    * shard, parallel across (source, shard) — the key insight that makes
    * greedy packing distributable. More shards = more parallelism,
    * slightly worse packing (each shard's last window is underfilled).
    * At 100 TB this is thousands; 4 keeps sf-scale groups dense.
    */
  val PackShards = 4L

  private def shard(id: Column, mod: Long): Column =
    graft.text.Dedup.md5Prefix32(id.cast("string"), 1) % mod

  /** Greedy first-fit packing of documents into sequences of at most
    * [[SeqBudget]] chars, docs taken in doc_id order within each
    * (source, shard): per source — docs, sequences produced, chars, and
    * achieved fill ratio.
    *
    * The packing recurrence `(n_seqs, cur_fill) -> doc` is
    * order-sensitive, so like [[graft.relational.TimeSeries]]'s EWMA it
    * runs as one keyed shuffle + a serial per-group fold over the
    * assembled (bounded) series; state is two BIGINTs, every operation
    * is integer arithmetic — bit-exact on any engine. Oversized docs
    * (> budget) occupy a sequence alone, handled by the same rule.
    * Fold seed = first element (n=0 means "one open sequence"), so the
    * DuckDB twin's init-less `list_reduce` replays it exactly — with
    * the accumulator packed into one BIGINT (see [[PackAccBase]]): the
    * struct-accumulator form hits a DuckDB 1.0.0 vectorization bug.
    */
  def packSequences(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val folded = Tables.documents(spark, d)
      .select($"source", shard($"doc_id", PackShards).as("shard"),
        $"doc_id", $"n_chars")
      .groupBy($"source", $"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("chars"),
        sort_array(collect_list(struct($"doc_id", $"n_chars"))).as("evs"))
      .select(
        $"source", $"n_docs", $"chars",
        (aggregate(
          expr("slice(evs, 2, size(evs) - 1)"),
          struct(lit(0L).as("n"), $"evs"(0)("n_chars").as("cur")),
          (acc, x) => {
            val fits = acc("cur") + x("n_chars") <= SeqBudget
            struct(
              when(fits, acc("n")).otherwise(acc("n") + 1).as("n"),
              when(fits, acc("cur") + x("n_chars"))
                .otherwise(x("n_chars")).as("cur"))
          })("n") + 1).as("n_seqs"))
    folded.groupBy($"source")
      .agg(
        sum($"n_docs").as("n_docs"),
        sum($"n_seqs").as("n_seqs"),
        sum($"chars").as("sum_chars"))
      .select($"source", $"n_docs", $"n_seqs", $"sum_chars",
        round($"sum_chars".cast("double") /
          ($"n_seqs" * SeqBudget).cast("double"), 6).as("fill_ratio"))
  }

  /** 98/1/1 train/val/test assignment by content hash of doc_id —
    * stable under reruns, repartitioning, and engine choice (the md5
    * grid of [[graft.text.Dedup.md5Prefix32]]): per (source, split) —
    * docs and chars. A narrow scan + one partial+final aggregate.
    */
  def trainSplit(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bucket = shard($"doc_id", 100L)
    Tables.documents(spark, d)
      .select($"source",
        when(bucket === 0, "test")
          .when(bucket === 1, "val")
          .otherwise("train").as("split"),
        $"n_chars")
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pack_sequences" -> (packSequences _),
    "train_split" -> (trainSplit _))

  /** Accumulator encoding for the oracle's fold: (n, cur) packed into
    * ONE BIGINT as n * PackAccBase + cur. DuckDB 1.0.0's `list_reduce`
    * returns wrong results for STRUCT accumulators when the lambda is
    * vectorized across many rows with varying list lengths (reproduced:
    * 11 of 80 groups wrong at sf0.1, correct when the same groups are
    * evaluated alone); scalar accumulators are unaffected (verified
    * against a driver replay on every group). cur <= max(SeqBudget,
    * max n_chars) << PackAccBase, so the encoding is exact — and that
    * bound is ENFORCED, not assumed: the oracle's list elements route
    * any n_chars >= PackAccBase through a guaranteed BIGINT overflow
    * (data-dependent, so it cannot constant-fold), failing the gate
    * loudly if the fixture ever grows a >1M-char document, and the
    * SeqBudget half of the bound is a static require below.
    */
  val PackAccBase = 1L << 20

  // cur never exceeds max(SeqBudget, one doc's n_chars); the n_chars arm
  // is guarded row-wise in the oracle SQL, this pins the SeqBudget arm.
  require(SeqBudget < PackAccBase,
    s"SeqBudget $SeqBudget must stay below PackAccBase $PackAccBase or the packed fold corrupts")

  val oracles: Map[String, String] = Map(
    "pack_sequences" ->
      s"""WITH sharded AS (
         |  SELECT source,
         |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      % $PackShards AS shard,
         |    doc_id, n_chars
         |  FROM documents),
         |folded AS (
         |  SELECT source, shard, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS chars,
         |    list_reduce(
         |      list(CASE WHEN n_chars < $PackAccBase THEN CAST(n_chars AS BIGINT)
         |                ELSE (CAST(n_chars AS BIGINT) + 1) * 9223372036854775807
         |           END ORDER BY doc_id),
         |      (acc, c) -> CASE WHEN acc % $PackAccBase + c <= $SeqBudget
         |                  THEN acc + c
         |                  ELSE acc - (acc % $PackAccBase) + $PackAccBase + c END
         |    ) // $PackAccBase AS n_over
         |  FROM sharded GROUP BY source, shard)
         |SELECT source,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_over + 1) AS BIGINT) AS n_seqs,
         |  CAST(sum(chars) AS BIGINT) AS sum_chars,
         |  round(CAST(sum(chars) AS DOUBLE)
         |        / CAST(sum(n_over + 1) * $SeqBudget AS DOUBLE), 6) AS fill_ratio
         |FROM folded GROUP BY source""".stripMargin,
    "train_split" ->
      """SELECT source,
        |  CASE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
        |    WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin)
}
