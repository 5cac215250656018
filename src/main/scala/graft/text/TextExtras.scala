package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.functions.{DistinctGramHashes, Grams}
import graft.Tables

/** Additional corpus-analysis operators for the training-data pipeline
  * tier: n-gram frequency mining, repetition scoring (a standard
  * quality gate — high single-token share marks boilerplate/spam), and
  * PII redaction.
  *
  * Scale shapes: ngram mining is explode → two-level aggregate (the
  * per-(doc,token) partial collapses skew before the global top-k);
  * repetition is the same shape without the global step; redaction is a
  * pure narrow projection (regex runs inside codegen, no shuffle).
  */
object TextExtras extends graft.Catalog {

  /** Corpus-wide top-20 bigrams: tokens are exploded once, bigrams
    * formed per document with lead() over token position, counted with a
    * partial+final aggregate, and ranked with a total order
    * (count desc, bigram asc) so the cut is deterministic. At 100 TB the
    * only global state is the final top-k heap — the count aggregate is
    * map-side combined.
    */
  def ngramTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val wTop = Window.orderBy($"n".desc, $"bigram")
    // bigrams in-row (r13 native Grams — the lead-window spelling paid
    // a doc_id exchange + per-doc sort of the token stream)
    Tables.documents(spark, d)
      .withColumn("t", TextAnalysis.toks($"text"))
      .select(explode(Native(es => Grams(es.head, 2), $"t")).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      // orderBy+limit compiles to TakeOrderedAndProject — a distributed
      // per-partition top-k + driver merge, never a global sort. The
      // single-partition row_number window then only ever sees 20 rows.
      .orderBy($"n".desc, $"bigram")
      .limit(20)
      .withColumn("rk", row_number().over(wTop).cast("long"))
  }

  /** Per-document repetition metrics: distinct-token ratio and the
    * corpus-share of the single most frequent token.
    */
  def repetition(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("f"))
      .groupBy($"doc_id")
      .agg(
        sum($"f").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max($"f").as("max_freq"))
      .select(
        $"doc_id", $"n_tokens", $"n_distinct",
        round($"n_distinct".cast("double") / $"n_tokens", 6).as("distinct_ratio"),
        round($"max_freq".cast("double") / $"n_tokens", 6).as("top_tok_share"))
  }

  /** PII redaction: regexp extraction counts + replacement. The corpus
    * text is synthetic (no organic PII), so the contact string under
    * redaction is derived deterministically from table columns — the
    * operator surface (RE2/Java-compatible patterns, extract_all,
    * chained replace) is what's exercised, identically on both engines.
    */
  val EmailRe = "[A-Za-z0-9._-]+@[A-Za-z0-9.-]+"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"

  def piiRedact(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .withColumn("contact",
        concat($"source", lit("-"), $"doc_id",
          lit("@example.com call 555-"),
          lpad($"doc_id".cast("string"), 4, "0")))
      .select(
        $"doc_id",
        size(regexp_extract_all($"contact", lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"contact", lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        regexp_replace(regexp_replace($"contact", EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"))
  }

  /** Tokens per chunk / stride (overlap = ChunkSize - ChunkStride). */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Overlapping token-window chunking — the document → embedding-unit
    * splitter every retrieval/embedding pipeline runs before encoding
    * (context windows bound the encoder; overlap keeps boundary
    * sentences recoverable). Chunk starts are k·stride for
    * k in 0..ceil(max(0, n − size) / stride): full coverage, no chunk
    * fully contained in its predecessor, one chunk for short docs. The
    * whole operator is a single codegen'd projection + explode — no
    * shuffle, no window; chunk_id is derived from the start offset, so
    * the output is deterministic under any partitioning. At 100 TB this
    * is the op whose OUTPUT (not input) sizes the embedding stage —
    * n_tokens is carried per chunk for downstream budgeting.
    */
  def chunks(spark: SparkSession, d: String): DataFrame =
    chunksOf(
      Tables.documents(spark, d)
        .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t")))

  /** Same, over an already-tokenized (doc_id, t) frame (spec access). */
  def chunksOf(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    tokenized
      .withColumn("n", size($"t").cast("long"))
      .filter($"n" >= 1)
      // 1 + ceil(max(0, n - size) / stride), integer-exact
      .withColumn("nc", expr(
        s"1 + (greatest(0L, n - $ChunkSize) + $ChunkStride - 1) DIV $ChunkStride"))
      .select($"doc_id",
        explode(expr(
          s"""transform(sequence(0L, nc - 1), k -> named_struct(
             |  'chunk_id', k,
             |  'start_tok', k * $ChunkStride,
             |  'chunk', slice(t, cast(k * $ChunkStride + 1 as int), $ChunkSize)))"""
            .stripMargin)).as("c"))
      .select($"doc_id", $"c.chunk_id".as("chunk_id"),
        $"c.start_tok".as("start_tok"),
        size($"c.chunk").cast("long").as("n_tokens"),
        array_join($"c.chunk", " ").as("chunk_text"))
  }

  /** Tokens per overlap gram — the span miner's width (6): long enough
    * that shared grams mean copied phrasing, shorter than
    * decontamination's stricter 8 so partial reuse still registers.
    */
  val OverlapN = 6

  /** Per-document n-gram overlap rate — the memorization/diversity
    * diagnostic run before training: the share of a doc's distinct
    * [[OverlapN]]-grams that appear in at least one OTHER document.
    * High overlap marks boilerplate and near-copies that the whole-doc
    * dedup tiers under-weight (they score the pair, not the doc).
    *
    * Dataflow: 60-bit gram hashes (8 shuffled bytes, the decontam
    * trick) distinct per doc, gram document-frequency via one
    * partial+final aggregate, join back on the hash, per-doc share.
    * All counts integer; the ratio divides two identical BIGINTs on
    * both engines. Docs shorter than the gram width carry zero grams
    * and report 0.0 overlap.
    */
  def gramOverlap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // per-doc distinct gram hashes in-row (r13 native
    // DistinctGramHashes): drops BOTH the lead-window build's doc_id
    // exchange and the (doc_id, h) distinct exchange — exploded rows
    // are already unique per document
    val grams = Tables.documents(spark, d)
      .withColumn("t", TextAnalysis.toks($"text"))
      .select($"doc_id",
        explode(Native(es => DistinctGramHashes(es.head, OverlapN), $"t")).as("h"))
    // per-gram document frequency as a PARTITIONED window count instead
    // of a groupBy(h) + join-back: the window reads the distinct gram
    // stream once on an h exchange and emits gdf in place, where the
    // former spelling paid the h aggregate AND a second h exchange of
    // the gram stream to probe it (r13; one exchange fewer, identical
    // counts — partitioned by the high-cardinality gram hash, so no
    // single-task window anywhere).
    val wh = Window.partitionBy($"h")
    val perDoc = grams
      .withColumn("gdf", count(lit(1)).over(wh))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"gdf" > 1, 1L).otherwise(0L)).as("n_shared"))
    Tables.documents(spark, d)
      .select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        when(coalesce($"n_grams", lit(0L)) === 0, lit(0.0))
          .otherwise($"n_shared".cast("double") / $"n_grams").as("overlap_ratio"))
  }

  /** Pairwise vocabulary Jaccard between sources — the corpus-level
    * diversity diagnostic behind mixture decisions: two sources whose
    * vocabularies nearly coincide add less than their token counts
    * suggest (and a near-1 overlap flags a mislabeled/duplicated
    * source). Exact set arithmetic, no sketches: the distinct
    * (source, token) table joins itself on token with source_a <
    * source_b, so each shared type contributes exactly one pair row
    * and the per-pair count IS |V_a ∩ V_b|; union sizes come from the
    * bounded per-source type counts (broadcast back).
    *
    * Scale shape: one (source, token) distinct exchange (vocab-bounded
    * payload — types, not occurrences) + the token-keyed self-join
    * whose per-token fan-out is capped by C(n_sources, 2) — a few
    * hundred rows per type at ANY corpus size, never quadratic in
    * data. The [[gramOverlap]] df-join discipline lifted from docs to
    * sources.
    */
  def sourceVocabOverlap(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val st = Tables.documents(spark, d)
      .select($"source", explode(TextAnalysis.toks($"text")).as("tok"))
      .distinct()
      .transform(graft.Ckpt.cut) // vocab-bounded; pair + size consumers
    val sizes = st.groupBy($"source").agg(count(lit(1)).as("v"))
    val inter = st.as("a")
      .join(st.as("b"),
        $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select($"source".as("src_a"), $"v".as("va"))),
        Seq("src_a"))
      .join(broadcast(sizes.select($"source".as("src_b"), $"v".as("vb"))),
        Seq("src_b"))
      .select($"src_a", $"src_b", $"va", $"vb", $"inter",
        round($"inter".cast("double") /
          ($"va" + $"vb" - $"inter").cast("double"), 6).as("jaccard"))
  }

  /** Result width of the burstiness head. */
  val BurstTop = 30

  /** Token burstiness (variance-to-mean ratio of per-document counts,
    * the Fano factor) for the [[BurstTop]] highest-frequency tokens —
    * the classic content-vs-function-word separator (Church & Gale
    * 1995): a function word's occurrences are near-Poisson (VMR ≈ 1),
    * a topical word clumps into few documents (VMR ≫ 1). The signal a
    * keyword extractor or stopword-list builder reads alongside raw
    * frequency.
    *
    * Exactness: over the FULL corpus of N docs, mean = tf/N and
    * E[c²] = Σc²/N, so VMR = (N·Σc² − tf²)/(N·tf) — documents not
    * containing the token contribute zero to both sums, so the
    * per-(doc, token) aggregate never materializes zeros. All
    * numerators are exact DECIMAL(38,0); FP is one division,
    * 6dp-rounded (nonnegative). The head cut is TakeOrdered on
    * (tf desc, token), never a global sort.
    */
  def tokenBurstiness(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docCnt = Tables.documents(spark, d).agg(count(lit(1)).as("nd"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val perDoc = Tables.documents(spark, d)
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    perDoc.groupBy($"tok")
      .agg(
        sum($"c").as("tf"),
        count(lit(1)).as("df"),
        sum(dec($"c") * dec($"c")).as("sq"))
      .crossJoin(broadcast(docCnt))
      .select($"tok", $"tf", $"df",
        (round((dec($"nd") * $"sq" - dec($"tf") * dec($"tf")).cast("double") /
          (dec($"nd") * dec($"tf")).cast("double"), 6) + lit(0.0))
          .as("vmr"))
      .orderBy($"tf".desc, $"tok".asc)
      .limit(BurstTop)
  }

  private def burstOracle: String =
    s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
       |perdoc AS (
       |  SELECT doc_id, t AS tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id,
       |          unnest(list_filter(string_split_regex(text, '\\s+'),
       |                             x -> x <> '')) AS t
       |        FROM documents) x
       |  GROUP BY doc_id, t),
       |g AS (
       |  SELECT tok, CAST(sum(c) AS BIGINT) AS tf,
       |    CAST(count(*) AS BIGINT) AS df,
       |    sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS sq
       |  FROM perdoc GROUP BY tok)
       |SELECT tok, tf, df,
       |  round(CAST(CAST(nd AS HUGEINT) * sq -
       |             CAST(tf AS HUGEINT) * CAST(tf AS HUGEINT) AS DOUBLE) /
       |        CAST(CAST(nd AS HUGEINT) * CAST(tf AS HUGEINT) AS DOUBLE),
       |        6) + 0.0 AS vmr
       |FROM g, nd
       |ORDER BY tf DESC, tok ASC
       |LIMIT $BurstTop""".stripMargin

  /** Code/markup symbol classes and the per-mille decision threshold. */
  val CodeSymbolRe = "[{}();=<>\\[\\]#/\\\\]"
  val CodePermilleThreshold = 15L

  /** Code/markup detection by symbol density — the cheap structural
    * filter a prose-training corpus runs to route code-like documents
    * to their own pipeline (the fastText-free tier of the CodeParrot/
    * StarCoder heuristics): per document the counts of code symbols
    * ({}();=<>[]#/\\) and digits, their per-mille rates, and the
    * verdict flag.
    *
    * ENTIRELY integer arithmetic — counts via length-difference after
    * class deletion (two codegen'd regexp_replace, no explode, no
    * UDF), rates by integer div, so both engines agree bit for bit
    * with no rounding convention at all. One narrow scan; at 100 TB
    * this is a mapper that fuses into whatever scan precedes it.
    * The synthetic corpus is prose (rates ~0) — the planted spec
    * carries the discrimination proof.
    */
  def codeDetect(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars_raw"),
        (length($"text") -
          length(regexp_replace($"text", CodeSymbolRe, "")))
          .cast("long").as("n_symbol"),
        (length($"text") - length(regexp_replace($"text", "[0-9]", "")))
          .cast("long").as("n_digit"))
      .select(
        $"doc_id", $"n_chars_raw", $"n_symbol", $"n_digit",
        expr("(n_symbol * 1000) div greatest(n_chars_raw, 1L)")
          .as("symbol_permille"),
        expr("(n_digit * 1000) div greatest(n_chars_raw, 1L)")
          .as("digit_permille"))
      .withColumn("is_code",
        ($"symbol_permille" > CodePermilleThreshold).cast("boolean"))
  }

  private def codeDetectOracle: String =
    s"""SELECT doc_id, n_chars_raw, n_symbol, n_digit,
       |  (n_symbol * 1000) // greatest(n_chars_raw, 1) AS symbol_permille,
       |  (n_digit * 1000) // greatest(n_chars_raw, 1) AS digit_permille,
       |  (n_symbol * 1000) // greatest(n_chars_raw, 1)
       |    > $CodePermilleThreshold AS is_code
       |FROM (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_raw,
       |    CAST(length(text) -
       |         length(regexp_replace(text, '[{}();=<>\\[\\]#/\\\\]', '', 'g'))
       |      AS BIGINT) AS n_symbol,
       |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
       |      AS BIGINT) AS n_digit
       |  FROM documents) x""".stripMargin

  /** Tokenizer fertility by (source × detected language): subword
    * (BPE-regex) tokens per whitespace word — THE tokenizer-budget
    * metric a multilingual pretraining mix is planned around (fertility
    * >> 1 for a language means its documents cost proportionally more
    * sequence length per word; Rust et al. 2021, "How Good is Your
    * Tokenizer?"). Language comes from [[TextAnalysis.LangProfiles]]'s
    * stopword argmax, tokens are the matches of
    * [[TextAnalysis.BpePattern]] (the catalog's proven cross-engine regex
    * pair), counted by [[TextAnalysis.bpeCount]].
    *
    * Scale shape: one narrow document scan (source, text), per-doc
    * integer counts, ONE partial+final aggregate onto ≤ |sources| × 4
    * language rows (map-side combined; no joins). Fertility is the
    * single division of two exact BIGINT sums, 6dp-rounded.
    */
  def tokenFertility(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.text.TextAnalysis.{LangProfiles, bpeCount, hits, toks}
    val base = Tables.documents(spark, d)
      .select($"source", toks($"text").as("t"), bpeCount($"text").cast("long").as("n_bpe"))
    val withHits = LangProfiles.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"${lang}_hits", hits(col("t"), words))
    }
    withHits
      .select($"source", size($"t").cast("long").as("n_words"), $"n_bpe",
        when($"en_hits" >= $"de_hits" && $"en_hits" >= $"fr_hits" &&
          $"en_hits" >= $"es_hits", "en")
          .when($"de_hits" >= $"fr_hits" && $"de_hits" >= $"es_hits", "de")
          .when($"fr_hits" >= $"es_hits", "fr")
          .otherwise("es").as("pred_lang"))
      .groupBy($"source", $"pred_lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_words").as("n_words"),
        sum($"n_bpe").as("n_bpe"))
      .select($"source", $"pred_lang", $"n_docs", $"n_words", $"n_bpe",
        round($"n_bpe".cast("double") /
          greatest($"n_words", lit(1L)).cast("double"), 6).as("fertility"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "token_fertility" -> (tokenFertility _),
    "text_code_detect" -> (codeDetect _),
    "token_burstiness" -> (tokenBurstiness _),
    "text_ngram_topk" -> (ngramTopk _),
    "text_repetition" -> (repetition _),
    "text_chunks" -> (chunks _),
    "text_gram_overlap" -> (gramOverlap _),
    "source_vocab_overlap" -> (sourceVocabOverlap _),
    "text_pii_redact" -> (piiRedact _))

  val oracles: Map[String, String] = Map(
    "token_fertility" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> x <> '')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text,
        |      ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x = 'the' OR x = 'a')) AS en_hits,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x = 'der' OR x = 'und' OR x = 'data' OR x = 'batch'))
        |      AS de_hits,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x = 'le' OR x = 'et' OR x = 'stream' OR x = 'query'))
        |      AS fr_hits,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x = 'el' OR x = 'y' OR x = 'table' OR x = 'row'))
        |      AS es_hits
        |  FROM documents),
        |lang AS (
        |  SELECT source, n_words, n_bpe,
        |    CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits
        |              AND en_hits >= es_hits THEN 'en'
        |         WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
        |         WHEN fr_hits >= es_hits THEN 'fr'
        |         ELSE 'es' END AS pred_lang
        |  FROM per)
        |SELECT source, pred_lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_words,
        |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
        |  round(CAST(sum(n_bpe) AS DOUBLE) /
        |        CAST(greatest(sum(n_words), 1) AS DOUBLE), 6) AS fertility
        |FROM lang GROUP BY 1, 2""".stripMargin,
    "text_code_detect" -> codeDetectOracle,
    "token_burstiness" -> burstOracle,
    "source_vocab_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, tok
        |  FROM (SELECT source,
        |          unnest(list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> '')) AS tok
        |        FROM documents)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v
        |          FROM st GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS inter
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, sa.v AS va, sb.v AS vb, i.inter,
        |  round(CAST(i.inter AS DOUBLE)
        |        / CAST(sa.v + sb.v - i.inter AS DOUBLE), 6) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.source = i.src_a
        |JOIN sizes sb ON sb.source = i.src_b""".stripMargin,
    "text_gram_overlap" ->
      s"""WITH d0 AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |    CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h
         |  FROM (
         |    SELECT doc_id,
         |      unnest(CASE WHEN len(t) >= $OverlapN THEN
         |        list_transform(range(1, len(t) - $OverlapN + 2),
         |          i -> array_to_string(t[i:i+${OverlapN - 1}], ' '))
         |        ELSE [] END) AS gram
         |    FROM d0) x),
         |df AS (SELECT h, count(*) AS gdf FROM g GROUP BY h),
         |per_doc AS (
         |  SELECT g.doc_id, count(*) AS n_grams,
         |         CAST(sum(CASE WHEN df.gdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM g JOIN df ON g.h = df.h GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_grams, 0) AS n_grams,
         |  coalesce(p.n_shared, 0) AS n_shared,
         |  CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0.0
         |       ELSE CAST(p.n_shared AS DOUBLE) / p.n_grams END AS overlap_ratio
         |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin,
    "text_chunks" ->
      s"""WITH d0 AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |d1 AS (SELECT doc_id, t, len(t) AS n FROM d0 WHERE len(t) >= 1),
         |d2 AS (
         |  SELECT doc_id, t,
         |         1 + (greatest(0, n - $ChunkSize) + $ChunkStride - 1) // $ChunkStride AS nc
         |  FROM d1),
         |c AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(nc), k -> {
         |      'chunk_id': CAST(k AS BIGINT),
         |      'start_tok': CAST(k * $ChunkStride AS BIGINT),
         |      'chunk': t[k * $ChunkStride + 1 : k * $ChunkStride + $ChunkSize]})) AS u
         |  FROM d2)
         |SELECT doc_id, u.chunk_id AS chunk_id, u.start_tok AS start_tok,
         |       CAST(len(u.chunk) AS BIGINT) AS n_tokens,
         |       array_to_string(u.chunk, ' ') AS chunk_text
         |FROM c""".stripMargin,
    "text_ngram_topk" ->
      """WITH big AS (
        |  SELECT unnest(list_transform(range(len(t) - 1),
        |                               i -> t[i + 1] || ' ' || t[i + 2])) AS bigram
        |  FROM (SELECT list_filter(string_split_regex(text, '\s+'),
        |                           x -> x <> '') AS t
        |        FROM documents) d),
        |cnt AS (
        |  SELECT bigram, count(*) AS n FROM big GROUP BY bigram)
        |SELECT bigram, n, rk FROM (
        |  SELECT bigram, n,
        |         row_number() OVER (ORDER BY n DESC, bigram) AS rk
        |  FROM cnt) t
        |WHERE rk <= 20""".stripMargin,
    "text_repetition" ->
      """WITH f AS (
        |  SELECT doc_id, tok, count(*) AS f
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> '')) AS tok
        |        FROM documents) t
        |  GROUP BY doc_id, tok)
        |SELECT doc_id,
        |       CAST(sum(f) AS BIGINT) AS n_tokens,
        |       count(*) AS n_distinct,
        |       round(CAST(count(*) AS DOUBLE) / sum(f), 6) AS distinct_ratio,
        |       round(CAST(max(f) AS DOUBLE) / sum(f), 6) AS top_tok_share
        |FROM f GROUP BY doc_id""".stripMargin,
    "text_pii_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(contact, '[A-Za-z0-9._-]+@[A-Za-z0-9.-]+'))
        |       AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(contact, '[0-9]{3}-[0-9]{4}'))
        |       AS BIGINT) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(contact, '[A-Za-z0-9._-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM (
        |  SELECT doc_id,
        |         source || '-' || doc_id || '@example.com call 555-' ||
        |           lpad(CAST(doc_id AS VARCHAR), 4, '0') AS contact
        |  FROM documents) t""".stripMargin)
}
