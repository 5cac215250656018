package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.functions.RepetitionStats
import graft.Tables

/** Gopher-style rule-battery quality filtering (Rae et al. 2021,
  * §A1.1) — the document-level heuristic gate every LLM pretraining
  * pipeline runs before expensive model-based scoring, reported as a
  * per-source audit: how much of each source survives each rule, and
  * the overall pass rate. Complements [[graft.text.TextAnalysis]]'s
  * per-doc `text_quality` composite with the industry-standard named
  * rule set:
  *
  *   R1 word count in [50, 100000]      R2 mean word length in [3, 10]
  *   R3 symbol-to-word ratio ≤ 0.1 ('#' and '…'-as-'...')
  *   R4 < 90% of lines bullet-started   R5 ≥ 80% of words alphabetic
  *   R6 ≥ 2 distinct stopwords present
  *
  * Portability: words are the catalog's whitespace tokens (the
  * `text_quality` twin); bullet/ellipsis line counts are
  * length-arithmetic on '\n- ' / '\n* ' markers (replace() is
  * leftmost non-overlapping on both engines); the alpha-word test is
  * the RE2-safe '[A-Za-z]'. All counts exact BIGINTs; ratios are
  * per-doc rule BOOLEANS (integer algebra) so nothing FP crosses the
  * aggregate; the one output ratio rounds 6dp.
  *
  * Scale shape: one documents scan → per-doc integer rule vector →
  * one per-source aggregate (map-side combined). No shuffle beyond
  * the |sources|-row group-by.
  */
object QualityRules extends graft.Catalog {

  /** The catalog's stopword set (the `text_quality` list) — the
    * Gopher paper's English function-word battery collapses to the
    * members this corpus's vocabulary can actually contain.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to")

  def gopherRules(spark: SparkSession, d: String): DataFrame =
    gopherRulesOf(Tables.documents(spark, d))

  /** Same, over any (source, text) frame — specs plant adversarial
    * documents per rule (the [[graft.text.Dedup.jaccardPairsOf]]
    * injection pattern).
    */
  def gopherRulesOf(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    // occurrence count by length arithmetic: needle is the REAL string
    // (for the length divisor); its SQL spelling uses \n escapes, which
    // the Spark parser decodes (DuckDB's twin spells newline as chr(10))
    def occ(needle: String, sqlLit: String): Column =
      ((length(col("text")) -
        length(expr(s"replace(text, '$sqlLit', '')"))) / needle.length)
        .cast("long")
    val perDoc = documents
      .withColumn("t", graft.text.TextAnalysis.toks($"text"))
      .withColumn("n_words", size($"t").cast("long"))
      .withColumn("chars",
        aggregate($"t", lit(0L), (acc, x) => acc + length(x).cast("long")))
      .withColumn("n_sym", occ("#", "#") + occ("...", "..."))
      .withColumn("n_lines", occ("\n", "\\n") + 1L)
      .withColumn("n_bullet",
        occ("\n- ", "\\n- ") + occ("\n* ", "\\n* ") +
          when($"text".startsWith("- ") || $"text".startsWith("* "), 1L)
            .otherwise(0L))
      .withColumn("n_alpha",
        size(expr("filter(t, x -> x rlike '[A-Za-z]')")).cast("long"))
      .withColumn("n_stop", Stopwords.map(w =>
        when(array_contains($"t", w), 1L).otherwise(0L)).reduce(_ + _))
      // integer-algebra rules: a·x ≥ b·y forms, no FP at the doc level
      .select($"source",
        when($"n_words" >= 50L && $"n_words" <= 100000L, 1L).otherwise(0L)
          .as("r1"),
        when($"n_words" > 0L &&
          $"chars" >= lit(3L) * $"n_words" && $"chars" <= lit(10L) * $"n_words",
          1L)
          .otherwise(0L).as("r2"),
        when($"n_words" > 0L && lit(10L) * $"n_sym" <= $"n_words", 1L)
          .otherwise(0L).as("r3"),
        when(lit(10L) * $"n_bullet" < lit(9L) * $"n_lines", 1L).otherwise(0L)
          .as("r4"),
        when($"n_words" > 0L && lit(5L) * $"n_alpha" >= lit(4L) * $"n_words", 1L)
          .otherwise(0L).as("r5"),
        when($"n_stop" >= 2L, 1L).otherwise(0L).as("r6"))
    perDoc
      .withColumn("pass",
        $"r1" * $"r2" * $"r3" * $"r4" * $"r5" * $"r6")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - $"r1").as("fail_wordcount"),
        sum(lit(1L) - $"r2").as("fail_wordlen"),
        sum(lit(1L) - $"r3").as("fail_symbols"),
        sum(lit(1L) - $"r4").as("fail_bullets"),
        sum(lit(1L) - $"r5").as("fail_alpha"),
        sum(lit(1L) - $"r6").as("fail_stopwords"),
        sum($"pass").as("n_pass"))
      .withColumn("pass_rate",
        round($"n_pass".cast("double") / $"n_docs".cast("double"), 6) + lit(0.0))
  }

  /** The Gopher REPETITION battery (Rae et al. 2021 §A1.1, Table A1's
    * other half) — the within-document repetition filters the quality
    * battery above deliberately omits, because they need per-doc n-gram
    * frequencies (a shuffle) where the quality rules are pure map-side
    * integer algebra:
    *
    *   P1 duplicate-line fraction ≤ 0.30
    *   P2 duplicate-line CHARACTER fraction ≤ 0.20
    *   P3 top-2-gram character fraction ≤ 0.20
    *   P4 duplicate-5-gram character fraction ≤ 0.15
    *
    * Definitions (fixed so both engines compute identical BIGINTs):
    * lines are nonempty '\n' splits; duplicate-line chars = total line
    * chars minus distinct-line chars (all occurrences beyond the first
    * count, the Dolma/NeMo-Curator reading); the top 2-gram is the MOST
    * FREQUENT one, coverage f·charlen(gram) as the tie-break — computed
    * as one integer max over the packed key f·10¹² + f·charlen (both
    * engines, no window/self-join for the arg-max; safe while a doc
    * stays under ~10⁶ tokens, i.e. any real pretraining doc — a naive
    * max(f·charlen) instead would let ONE giant unique 2-gram trip the
    * rule); duplicate-5-gram chars = Σ over grams with f>1 of
    * (f−1)·charlen(gram); gram charlen is the space-joined token string;
    * the character denominator is length(text). Thresholds are the
    * paper's, enforced as a·x ≤ b·y integer forms — no FP anywhere
    * before the final 6dp pass_rate.
    *
    * Scale shape: EVERYTHING is in-row — line stats are list algebra
    * and the gram statistics run inside the native
    * [[graft.functions.RepetitionStats]] expression (gram frequencies
    * never cross documents, so the per-doc aggregate is per-row by
    * construction); the only shuffle is the |sources|-row rollup. The
    * r12 spelling shipped every gram occurrence through a tagged
    * explode → (doc_id, sz, gram) count → per-doc agg → join back: a
    * corpus-scale exchange of the token stream ×7 plus two hash
    * aggregates, removed outright (guide §2.4 / §1.2).
    */
  def gopherRepetition(spark: SparkSession, d: String): DataFrame =
    gopherRepetitionOf(Tables.documents(spark, d))

  /** Same, over any (doc_id, source, text) frame — the spec plants one
    * adversarial doc per rule.
    */
  def gopherRepetitionOf(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val base = documents
      .withColumn("t", graft.text.TextAnalysis.toks($"text"))
      // array_remove, not an interpreted filter lambda: split never
      // yields a null element, so the rows are the same
      .withColumn("ls", array_remove(split($"text", "\n"), ""))
    def sumLen(c: String): Column =
      coalesce(aggregate(col(c), lit(0L), (acc, x) => acc + length(x).cast("long")),
        lit(0L))
    val perDoc = base.select(
      $"source",
      length($"text").cast("long").as("n_chars"),
      size($"ls").cast("long").as("n_lines"),
      (size($"ls") - size(array_distinct($"ls"))).cast("long").as("n_dup_lines"),
      (sumLen("ls") - coalesce(
        aggregate(array_distinct($"ls"), lit(0L),
          (acc, x) => acc + length(x).cast("long")), lit(0L)))
        .as("dup_line_chars"),
      Native(es => RepetitionStats(es.head), $"t").as("rs"))
      .select($"source", $"n_chars", $"n_lines", $"n_dup_lines",
        $"dup_line_chars",
        $"rs.top2_chars".as("top2_chars"), $"rs.dup5_chars".as("dup5_chars"))
      .select($"source",
        when(lit(10L) * $"n_dup_lines" <= lit(3L) * $"n_lines", 1L)
          .otherwise(0L).as("p1"),
        // denominator is n_chars = length(text), the same base P3/P4
        // use (Gopher/Dolma compute every character fraction over total
        // document characters; P2 used the nonempty-line char sum until
        // r12 — the advice finding: newline-heavy docs were judged
        // stricter than the paper's rule)
        when(lit(5L) * $"dup_line_chars" <= $"n_chars", 1L)
          .otherwise(0L).as("p2"),
        when(lit(5L) * coalesce($"top2_chars", lit(0L)) <= $"n_chars", 1L)
          .otherwise(0L).as("p3"),
        when(lit(20L) * coalesce($"dup5_chars", lit(0L)) <= lit(3L) * $"n_chars", 1L)
          .otherwise(0L).as("p4"))
    perDoc
      .withColumn("pass", $"p1" * $"p2" * $"p3" * $"p4")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - $"p1").as("fail_dup_lines"),
        sum(lit(1L) - $"p2").as("fail_dup_line_chars"),
        sum(lit(1L) - $"p3").as("fail_top2gram"),
        sum(lit(1L) - $"p4").as("fail_dup5gram"),
        sum($"pass").as("n_pass"))
      .withColumn("pass_rate",
        round($"n_pass".cast("double") / $"n_docs".cast("double"), 6) + lit(0.0))
  }

  private def repetitionOracle: String =
    """WITH base AS (
      |  SELECT doc_id, source, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
      |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
      |  FROM documents),
      |line AS (
      |  SELECT doc_id, source,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(ls) AS BIGINT) AS n_lines,
      |    CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines,
      |    CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0)
      |      - coalesce(list_sum(list_transform(list_distinct(ls),
      |          x -> length(x))), 0) AS BIGINT) AS dup_line_chars
      |  FROM base),
      |grams AS (
      |  SELECT doc_id, 2 AS sz,
      |    unnest(list_transform(range(1, len(t)),
      |      i -> array_to_string(t[i:i+1], ' '))) AS g
      |  FROM base
      |  UNION ALL
      |  SELECT doc_id, 5 AS sz,
      |    unnest(list_transform(range(1, len(t) - 3),
      |      i -> array_to_string(t[i:i+4], ' '))) AS g
      |  FROM base),
      |gf AS (
      |  SELECT doc_id, sz, g, CAST(count(*) AS BIGINT) AS f
      |  FROM grams GROUP BY 1, 2, 3),
      |gstats AS (
      |  SELECT doc_id,
      |    max(CASE WHEN sz = 2
      |        THEN f * 1000000000000 + f * length(g) END) % 1000000000000
      |      AS top2_chars,
      |    sum(CASE WHEN sz = 5 AND f > 1 THEN (f - 1) * length(g) END)
      |      AS dup5_chars
      |  FROM gf GROUP BY 1),
      |rules AS (
      |  SELECT source,
      |    CASE WHEN 10 * n_dup_lines <= 3 * n_lines THEN 1 ELSE 0 END AS p1,
      |    CASE WHEN 5 * dup_line_chars <= n_chars THEN 1 ELSE 0 END AS p2,
      |    CASE WHEN 5 * coalesce(top2_chars, 0) <= n_chars THEN 1 ELSE 0 END AS p3,
      |    CASE WHEN 20 * coalesce(dup5_chars, 0) <= 3 * n_chars THEN 1 ELSE 0 END AS p4
      |  FROM line LEFT JOIN gstats USING (doc_id))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(1 - p1) AS BIGINT) AS fail_dup_lines,
      |  CAST(sum(1 - p2) AS BIGINT) AS fail_dup_line_chars,
      |  CAST(sum(1 - p3) AS BIGINT) AS fail_top2gram,
      |  CAST(sum(1 - p4) AS BIGINT) AS fail_dup5gram,
      |  CAST(sum(p1 * p2 * p3 * p4) AS BIGINT) AS n_pass,
      |  round(CAST(sum(p1 * p2 * p3 * p4) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 6) + 0.0 AS pass_rate
      |FROM rules GROUP BY source ORDER BY source""".stripMargin

  private def gopherOracle: String = {
    val stopSum = Stopwords
      .map(w => s"CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END")
      .mkString(" + ")
    """WITH per_doc AS (
      |  SELECT source,
      |    CAST(len(t) AS BIGINT) AS n_words,
      |    CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS chars,
      |    CAST((length(text) - length(replace(text, '#', ''))) AS BIGINT)
      |      + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
      |    CAST((length(text) - length(replace(text, chr(10), ''))) AS BIGINT) + 1 AS n_lines,
      |    CAST((length(text) - length(replace(text, chr(10) || '- ', ''))) // 3 AS BIGINT)
      |      + CAST((length(text) - length(replace(text, chr(10) || '* ', ''))) // 3 AS BIGINT)
      |      + CASE WHEN starts_with(text, '- ') OR starts_with(text, '* ') THEN 1 ELSE 0 END AS n_bullet,
      |    CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
      |    CAST(STOPSUM AS BIGINT) AS n_stop
      |  FROM (SELECT source, text,
      |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      |        FROM documents) d),
      |rules AS (
      |  SELECT source,
      |    CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r1,
      |    CASE WHEN n_words > 0 AND chars >= 3 * n_words AND chars <= 10 * n_words THEN 1 ELSE 0 END AS r2,
      |    CASE WHEN n_words > 0 AND 10 * n_sym <= n_words THEN 1 ELSE 0 END AS r3,
      |    CASE WHEN 10 * n_bullet < 9 * n_lines THEN 1 ELSE 0 END AS r4,
      |    CASE WHEN n_words > 0 AND 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS r5,
      |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r6
      |  FROM per_doc)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(1 - r1) AS BIGINT) AS fail_wordcount,
      |  CAST(sum(1 - r2) AS BIGINT) AS fail_wordlen,
      |  CAST(sum(1 - r3) AS BIGINT) AS fail_symbols,
      |  CAST(sum(1 - r4) AS BIGINT) AS fail_bullets,
      |  CAST(sum(1 - r5) AS BIGINT) AS fail_alpha,
      |  CAST(sum(1 - r6) AS BIGINT) AS fail_stopwords,
      |  CAST(sum(r1 * r2 * r3 * r4 * r5 * r6) AS BIGINT) AS n_pass,
      |  round(CAST(sum(r1 * r2 * r3 * r4 * r5 * r6) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 6) + 0.0 AS pass_rate
      |FROM rules GROUP BY source ORDER BY source""".stripMargin
      .replace("STOPSUM", stopSum)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gopher_quality_rules" -> (gopherRules _),
    "gopher_repetition_rules" -> (gopherRepetition _))

  val oracles: Map[String, String] = Map(
    "gopher_quality_rules" -> gopherOracle,
    "gopher_repetition_rules" -> repetitionOracle)
}
