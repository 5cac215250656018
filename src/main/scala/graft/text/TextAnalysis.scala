package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.functions.{BpePreTokenCount, DistinctGrams, WhitespaceTokens}
import graft.Tables

/** Text-analysis operators for a large-scale training-data pipeline:
  * token statistics, quality scoring, language ID, BPE-ish token
  * counting, and document fingerprinting — all per-document narrow
  * transforms (no shuffle at all except where a corpus-level aggregate is
  * explicitly requested), so they scale linearly with input splits.
  *
  * Everything stays inside whole-stage codegen: tokenization runs the
  * byte-scanning kernels of `graft.functions` ([[toks]], [[bpeCount]])
  * and the per-doc reductions use Spark's higher-order array functions
  * (`filter`/`transform`/`aggregate`), not UDFs.
  */
object TextAnalysis extends graft.Catalog {

  /** Whitespace tokens with empties dropped: the codegen'd
    * [[graft.functions.WhitespaceTokens]] byte scanner, row for row the
    * retained spelling `filter(split(c, "\\s+"), t => t =!= "")` (pinned
    * by NativeKernelExprSpec) and the DuckDB oracle's
    * `list_filter(string_split_regex(...))`.
    */
  def toks(c: Column): Column = Native(es => WhitespaceTokens(es.head), c)

  /** Per-document token statistics + type-token ratio. */
  def textStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("t", toks($"text"))
      .select(
        $"doc_id",
        size($"t").cast("long").as("n_tokens"),
        size(array_distinct($"t")).cast("long").as("n_distinct"),
        (size(array_distinct($"t")).cast("double") / size($"t")).as("ttr"),
        length($"text").cast("long").as("n_chars"))
  }

  /** Deterministic en/de/fr/es stop-lists for the heuristic scorer. The
    * non-English lists deliberately include corpus vocabulary so the
    * prediction varies on the synthetic data; real profiles drop in the
    * same shape.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("der", "und", "data", "batch"),
    "fr" -> Seq("le", "et", "stream", "query"),
    "es" -> Seq("el", "y", "table", "row"))

  def hits(t: Column, words: Seq[String]): Column =
    size(filter(t, x => words.map(x === _).reduce(_ || _))).cast("long")

  /** N-gram/stopword language ID: count profile hits per language, pick
    * the argmax with a fixed tie-break order (en > de > fr > es).
    */
  def langId(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, d).withColumn("t", toks($"text"))
    val withHits = LangProfiles.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"${lang}_hits", hits(col("t"), words))
    }
    withHits.select(
      $"doc_id", $"en_hits", $"de_hits", $"fr_hits", $"es_hits",
      when($"en_hits" >= $"de_hits" && $"en_hits" >= $"fr_hits" && $"en_hits" >= $"es_hits", "en")
        .when($"de_hits" >= $"fr_hits" && $"de_hits" >= $"es_hits", "de")
        .when($"fr_hits" >= $"es_hits", "fr")
        .otherwise("es").as("pred_lang"))
  }

  /** Quality scoring: stopword ratio, mean token length, and a composite
    * score — the classic cheap heuristics pre-filter before expensive
    * pipeline stages.
    */
  def quality(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val stop = Seq("the", "a", "of", "to")
    Tables.documents(spark, d)
      .withColumn("t", toks($"text"))
      .withColumn("n", size($"t").cast("long"))
      .withColumn("stop_hits", hits($"t", stop))
      .withColumn("chars", aggregate($"t", lit(0L), (acc, x) => acc + length(x).cast("long")))
      .select(
        $"doc_id",
        $"n".as("n_tokens"),
        $"stop_hits",
        ($"stop_hits".cast("double") / $"n").as("stop_ratio"),
        ($"chars".cast("double") / $"n").as("avg_wlen"),
        (($"stop_hits".cast("double") / $"n") * 0.5 +
          least($"chars".cast("double") / $"n" / lit(10.0), lit(1.0)) * 0.5).as("quality"))
  }

  /** GPT-2-flavored regex token counter (letters / digits / punctuation
    * runs with optional leading space). RE2 (DuckDB) and the JVM regex
    * engine agree on this subset: leftmost-first alternation, no
    * backtracking constructs.
    */
  val BpePattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Matches of [[BpePattern]] in `c`: the codegen'd
    * [[graft.functions.BpePreTokenCount]] run counter, row for row the
    * retained spelling `size(regexp_extract_all(c, BpePattern, 0))`
    * (pinned by NativeKernelExprSpec), null input included.
    */
  def bpeCount(c: Column): Column = Native(es => new BpePreTokenCount(es.head), c)

  def tokenCount(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select($"doc_id", bpeCount($"text").cast("long").as("n_bpe"))
  }

  /** Rolling-normalized fingerprint: md5 of (lowercased, whitespace
    * collapsed, trimmed) text — the cheap exact-dup key.
    */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  def fingerprint(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d).select(
      $"doc_id",
      md5(normText($"text")).as("fp"))
  }

  /** Corpus-level token totals (one shuffle-free global aggregate). */
  def corpusStats(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("t", toks($"text"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size($"t").cast("long")).as("total_tokens"),
        (sum(size($"t").cast("long")).cast("double") / count(lit(1))).as("avg_tokens"))
  }

  /** Unigram-LM surprise scoring — the statistical quality tier above
    * the heuristic ratios of [[quality]]: a corpus-fitted unigram model
    * (two passes: token frequencies, then per-doc mean negative log
    * probability). High surprise = rare-token-heavy (gibberish, OCR
    * noise); low = boilerplate. This is the cheap, fully-distributed
    * stand-in for perplexity filtering (CCNet-style) — the real-LM swap
    * keeps the identical two-pass shape with model inference in pass 2.
    * The frequency table shuffles once on token; the per-doc mean is
    * one doc_id aggregate. ln() of exact BIGINT ratios rounds at 4dp
    * safely (the FP-sum-order noise is ~1e-13 of the magnitude).
    */
  def unigramLogprob(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, d)
      .select($"doc_id", explode(toks($"text")).as("tok"))
    val freq = tok.groupBy($"tok").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum($"c").as("t"))
    tok.join(freq, "tok")
      .crossJoin(broadcast(total))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(-log($"c".cast("double") / $"t".cast("double"))), 4)
          .as("avg_surprise"))
  }

  /** Interpolated bigram-LM surprise — the conditional tier above
    * [[unigramLogprob]] (the shape of a CCNet-style perplexity filter:
    * swap the counting model for a real LM and the dataflow is
    * unchanged). Per-doc mean of -ln(0.75·P(w2|w1) + 0.25·P(w2)):
    * the interpolation keeps unseen-context mass nonzero without a
    * backoff table, and both mixture terms are exact BIGINT-count
    * ratios, so the 4 dp round sits far above FP sum-order noise (the
    * unigram precedent, green at five scale factors).
    *
    * Scale shape: bigrams come from an in-array transform over the
    * token list (no per-doc window exchange); the unigram/bigram
    * frequency tables are classic map-side-combined aggregates; the
    * join-back is frequency-keyed (broadcast when the vocab is small,
    * aligned with the frequency tables' own exchanges otherwise); the
    * final per-doc mean is one doc_id aggregate. Docs with fewer than
    * two tokens drop (no bigram to score), matching the oracle's
    * inner-join semantics.
    */
  def bigramLogprob(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d).withColumn("t", toks($"text"))
    val big = docs.filter(size($"t") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(t) - 1), i -> " +
          "named_struct('w1', element_at(t, i), 'w2', element_at(t, i + 1)))"))
        .as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val uni = docs.select(explode($"t").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum($"cu").as("tt"))
    val bigf = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val p = lit(0.75) * ($"cb".cast("double") / $"c1") +
      lit(0.25) * ($"c2".cast("double") / $"tt")
    big
      .join(bigf, Seq("w1", "w2"))
      .join(uni.select($"tok".as("w1"), $"cu".as("c1")), Seq("w1"))
      .join(uni.select($"tok".as("w2"), $"cu".as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(-log(p)), 4).as("avg_surprise"))
  }

  /** Per-document token Shannon entropy + its ln(n_types)-normalized
    * form (1.0 = uniform usage, → 0 = one token dominating): the
    * repetition/boilerplate quality signal complementing
    * [[quality]]'s ratio heuristics — template spam scores low
    * normalized entropy at any length. Two keyed exchanges ((doc,tok)
    * counts, then the doc_id window+fold); per-doc FP terms under a
    * 4dp round (the [[unigramLogprob]] precedent).
    */
  def tokenEntropy(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, d)
      .select($"doc_id", explode(toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
    val p = $"c".cast("double") / $"n".cast("double")
    tf.withColumn("n", sum($"c").over(w))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_types"),
        max($"n").as("n_tokens"),
        sum(-(p * log(p))).as("h"))
      .select($"doc_id", $"n_types", $"n_tokens",
        round($"h", 4).as("entropy"),
        round(when($"n_types" > 1, $"h" / log($"n_types".cast("double")))
          .otherwise(lit(0.0)), 4).as("norm_entropy"))
  }

  /** Flesch reading-ease + Flesch–Kincaid grade level per document —
    * the classic readability gate of a text-quality stack (too-high
    * grade ≈ legalese/boilerplate, too-low ≈ fragment spam), one tier
    * above [[quality]]'s ratio heuristics. Heuristic counters, stated
    * plainly: sentences = terminal-punctuation marks ([.!?], min 1),
    * syllables = vowel-run groups ([aeiouy]+ on the lowercased text) —
    * the standard dictionary-free approximation; real syllabification
    * swaps the regex, not the dataflow.
    *
    * Exactness: all three counters are exact integers (identical
    * regexes under Java and RE2 semantics for these literal classes);
    * the two score formulas are FP over identical doubles in identical
    * op order, 4dp-rounded and −0.0-normalized. Pure narrow map — zero
    * exchanges, whole-stage codegen, linear in input splits.
    */
  def readability(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, d).select(
      $"doc_id",
      greatest(lit(1L), size(toks($"text")).cast("long")).as("w"),
      greatest(lit(1L),
        size(expr("regexp_extract_all(text, '[.!?]', 0)")).cast("long"))
        .as("s"),
      size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long").as("syl"))
    val wps = $"w".cast("double") / $"s".cast("double")
    val spw = $"syl".cast("double") / $"w".cast("double")
    counts.select(
      $"doc_id", $"w".as("n_words"), $"s".as("n_sentences"),
      $"syl".as("n_syllables"),
      (round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4) +
        lit(0.0)).as("flesch"),
      (round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4) +
        lit(0.0)).as("fk_grade"))
  }

  /** Per-document 3-gram novelty rate under doc_id (ingestion) order:
    * the share of a document's distinct 3-grams that it INTRODUCES to
    * the corpus (its doc_id is the minimum over all docs containing
    * the gram) — the diminishing-returns curve of data acquisition
    * (dup-heavy late feeds show ~0 novelty; the metric RETScore-style
    * acquisition triage reads). Each gram's first-owner is one
    * vocab-keyed min-aggregate; the join-back is gram-keyed;
    * novelty_permille is exact integer division.
    */
  def noveltyRate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // per-doc distinct grams in-row (r13 native DistinctGrams): drops
    // the lead-window build's doc_id exchange AND the (doc_id, gram)
    // distinct exchange — exploded rows are already unique per doc.
    // Gram STRINGS (not hashes) stay the window key below because the
    // oracle groups on the string — collision semantics must match.
    val grams = Tables.documents(spark, d)
      .withColumn("t", toks($"text"))
      .select($"doc_id", explode(Native(es => DistinctGrams(es.head, 3), $"t")).as("gram"))
    // first-owner via a PARTITIONED window min on one gram exchange —
    // the former owner-aggregate + gram-keyed join-back paid two
    // exchanges of the gram stream plus the checkpoint that fed them
    // both (r13; identical first_doc per gram, partitioned by the
    // vocab-cardinality gram so no single-task window)
    grams
      .withColumn("first_doc", min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"gram")))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
          .as("n_novel"))
      .select($"doc_id", $"n_grams", $"n_novel",
        expr("(n_novel * 1000) div n_grams").as("novelty_permille"))
  }

  private def noveltyOracle: String =
    """WITH grams AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS gram
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, '\s+'),
      |                      x -> x <> '') AS t
      |        FROM documents) d,
      |    LATERAL (SELECT unnest(range(len(t) - 2)) AS i) r
      |  WHERE len(t) >= 3),
      |owner AS (
      |  SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc
      |  FROM grams GROUP BY gram)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000)
      |       // count(*) AS BIGINT) AS novelty_permille
      |FROM grams JOIN owner USING (gram)
      |GROUP BY doc_id""".stripMargin

  /** Directional source→source 3-gram containment matrix:
    * C(a→b) = |G_a ∩ G_b| / |G_a| over distinct per-source gram sets —
    * the ASYMMETRIC copying signal [[graft.text.TextExtras]]'
    * token-level Jaccard overlap cannot express (a feed that
    * syndicates another is nearly contained in it while the reverse
    * containment stays low). Distinct (source, gram) is
    * vocabulary-bounded; the gram-keyed self-join fans out at most
    * #sources per gram; totals broadcast back. Exact counts, one
    * division, 6dp.
    */
  def sourceGramContainment(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // per-doc distinct grams in-row (r13 native DistinctGrams — the
    // lead-window build paid a doc_id exchange + per-doc sort); the
    // (source, gram) distinct below still runs (cross-doc within a
    // source), but over the per-doc-deduped stream
    val sg = Tables.documents(spark, d)
      .withColumn("t", toks($"text"))
      .select($"source", explode(Native(es => DistinctGrams(es.head, 3), $"t")).as("gram"))
      .distinct()
      .transform(graft.Ckpt.cut) // vocab-bounded; totals + pair join consumers
    val tot = sg.groupBy($"source").agg(count(lit(1)).as("n_grams"))
    val inter = sg.as("a")
      .join(sg.as("b"),
        $"a.gram" === $"b.gram" && $"a.source" =!= $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(tot.select($"source".as("src_a"),
        $"n_grams".as("na"))), "src_a")
      .select($"src_a", $"src_b", $"n_shared", $"na".as("n_grams_a"),
        (round($"n_shared".cast("double") / $"na".cast("double"), 6)
          + lit(0.0)).as("containment"))
  }

  private def containmentMatrixOracle: String =
    """WITH sg AS MATERIALIZED (
      |  SELECT DISTINCT source,
      |    t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS gram
      |  FROM (SELECT source,
      |          list_filter(string_split_regex(text, '\s+'),
      |                      x -> x <> '') AS t
      |        FROM documents) d,
      |    LATERAL (SELECT unnest(range(len(t) - 2)) AS i) r
      |  WHERE len(t) >= 3),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
      |        FROM sg GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM sg a JOIN sg b
      |    ON a.gram = b.gram AND a.source <> b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared, t.n_grams AS n_grams_a,
      |  round(CAST(n_shared AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6) + 0.0
      |    AS containment
      |FROM inter JOIN tot t ON t.source = inter.src_a""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_gram_containment" -> (sourceGramContainment _),
    "text_novelty_rate" -> (noveltyRate _),
    "text_readability" -> (readability _),
    "text_entropy" -> (tokenEntropy _),
    "text_unigram_logprob" -> (unigramLogprob _),
    "text_bigram_logprob" -> (bigramLogprob _),
    "text_stats" -> (textStats _),
    "text_lang_id" -> (langId _),
    "text_quality" -> (quality _),
    "text_token_count" -> (tokenCount _),
    "text_fingerprint" -> (fingerprint _),
    "text_corpus_stats" -> (corpusStats _))

  val oracles: Map[String, String] = Map(
    "source_gram_containment" -> containmentMatrixOracle,
    "text_novelty_rate" -> noveltyOracle,
    "text_readability" ->
      """SELECT doc_id, w AS n_words, s AS n_sentences, syl AS n_syllables,
        |  round(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |               - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 4)
        |    + 0.0 AS flesch,
        |  round(0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |        + 11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59, 4)
        |    + 0.0 AS fk_grade
        |FROM (SELECT doc_id,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> x <> '')) AS BIGINT)) AS w,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)) AS s,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
        |  FROM documents) c""".stripMargin,
    "text_entropy" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> '')) AS tok
        |        FROM documents) x
        |  GROUP BY doc_id, tok),
        |wn AS (
        |  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM tf)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(max(n) AS BIGINT) AS n_tokens,
        |  round(sum(-((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |              ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))), 4) + 0.0
        |    AS entropy,
        |  round(CASE WHEN count(*) > 1
        |        THEN sum(-((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                   ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))))
        |             / ln(CAST(count(*) AS DOUBLE))
        |        ELSE 0e0 END, 4) + 0.0 AS norm_entropy
        |FROM wn GROUP BY doc_id""".stripMargin,
    "text_bigram_logprob" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |big AS MATERIALIZED (
        |  SELECT doc_id, b.w1, b.w2
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(len(t) - 1),
        |            i -> struct_pack(w1 := t[i + 1], w2 := t[i + 2]))) AS b
        |        FROM d) x),
        |uni AS MATERIALIZED (
        |  SELECT tok, count(*) AS cu
        |  FROM (SELECT unnest(t) AS tok FROM d) GROUP BY tok),
        |tot AS (SELECT sum(cu) AS tt FROM uni),
        |bigf AS MATERIALIZED (
        |  SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2)
        |SELECT big.doc_id, count(*) AS n_bigrams,
        |  round(avg(-ln(
        |    0.75e0 * (CAST(cb AS DOUBLE) / c1) +
        |    0.25e0 * (CAST(c2 AS DOUBLE) / tt))), 4) AS avg_surprise
        |FROM big
        |JOIN bigf USING (w1, w2)
        |JOIN (SELECT tok AS w1, cu AS c1 FROM uni) u1 USING (w1)
        |JOIN (SELECT tok AS w2, cu AS c2 FROM uni) u2 USING (w2)
        |CROSS JOIN tot
        |GROUP BY big.doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |                                    x -> x <> '')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c) AS t FROM freq)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(avg(-ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))), 4) AS avg_surprise
        |FROM tok JOIN freq USING (tok), tot
        |GROUP BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  len(t) AS n_tokens,
        |  len(list_distinct(t)) AS n_distinct,
        |  CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |      FROM documents) d""".stripMargin,
    "text_lang_id" ->
      """SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |       WHEN fr_hits >= es_hits THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM (SELECT doc_id,
        |  len(list_filter(t, x -> x = 'the' OR x = 'a')) AS en_hits,
        |  len(list_filter(t, x -> x = 'der' OR x = 'und' OR x = 'data' OR x = 'batch')) AS de_hits,
        |  len(list_filter(t, x -> x = 'le' OR x = 'et' OR x = 'stream' OR x = 'query')) AS fr_hits,
        |  len(list_filter(t, x -> x = 'el' OR x = 'y' OR x = 'table' OR x = 'row')) AS es_hits
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |        FROM documents) d) h""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, n AS n_tokens, stop_hits,
        |  CAST(stop_hits AS DOUBLE) / n AS stop_ratio,
        |  CAST(chars AS DOUBLE) / n AS avg_wlen,
        |  (CAST(stop_hits AS DOUBLE) / n) * 0.5 +
        |    least(CAST(chars AS DOUBLE) / n / 10.0, 1.0) * 0.5 AS quality
        |FROM (SELECT doc_id, len(t) AS n,
        |  len(list_filter(t, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'to')) AS stop_hits,
        |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS chars
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |        FROM documents) d) q""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS n_bpe
        |FROM documents""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    "text_corpus_stats" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(len(t)) AS BIGINT) AS total_tokens,
        |  CAST(sum(len(t)) AS DOUBLE) / count(*) AS avg_tokens
        |FROM (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |      FROM documents) d""".stripMargin)
}
