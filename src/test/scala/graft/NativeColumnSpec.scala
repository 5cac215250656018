package graft

import org.apache.spark.sql.DataFrame

/** Native expressions reach queries as Columns built in code, never
  * through the session's function registry: running the catalog leaves
  * the registry untouched, and frames whose expressions carry fitted
  * state for different corpora cannot resolve to each other's.
  */
class NativeColumnSpec extends SparkSpec {

  private val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every catalog query that builds a native expression, fitted
    * (centroids, codebooks, eval matrices, merge tables, FreqSelect
    * segments, bootstrap thresholds) or stateless (among them the
    * tokenizer kernels).
    */
  private val nativeQueries = Seq(
    "decontam_embed", "decontam_ngrams", "bpe_merges", "bpe_vocab", "bpe_encode_stats",
    "embed_knn", "embed_norms", "embed_ann_lsh", "embed_ann_ivf", "embed_knn_quantized",
    "embed_knn_rerank", "embed_knn_rp", "embed_knn_pq", "embed_ann_ivfpq", "embed_kmeans",
    "embed_silhouette", "embed_mmr", "embed_triplets", "dedup_embed_pairs", "embed_semdedup",
    "embed_rrf_fusion", "embed_pca_power", "embed_pca_residuals",
    "dedup_minhash_pairs", "dedup_incremental_pairs", "dedup_blocking_eval",
    "dedup_simhash_pairs", "dedup_edit_pairs", "dedup_winnow_pairs", "dedup_prefix_jaccard",
    "dedup_span_extents", "dedup_containment", "multimodal_phash_pairs",
    "text_gram_overlap", "text_ngram_topk", "source_gram_containment", "text_novelty_rate",
    "text_phrase_detect", "text_keywords_rake", "gopher_repetition_rules",
    "theilsen_trend", "bootstrap_ci", "ab_uplift_bootstrap",
    "entity_match_jw", "basket_pairs", "basket_rules",
    "mr_wc", "mr_indexer", "text_stats", "text_token_count", "token_fertility")

  test("running the native catalog twice registers no session function") {
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().size
    for (_ <- 1 to 2; q <- nativeQueries)
      SparkEntry.queries(q)(spark, sf).collect()
    assert(registry.listFunction().size === before)
  }

  test("fitted natives built for two corpora before either runs keep their own fits") {
    val names = Seq("decontam_embed", "embed_ann_ivf")
    val dirs = Seq(sf, sf01)
    val frames = for (q <- names; d <- dirs) yield (q, d, SparkEntry.queries(q)(spark, d))
    frames.foreach { case (q, d, df) =>
      val alone = rows(SparkEntry.queries(q)(spark, d))
      assert(rows(df) === alone, s"$q at $d")
    }
  }
}
