package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.functions.{Grams, RakePhrases}
import graft.Tables

/** Collocation mining for the tokenizer/embedding tier: phrase
  * detection (which bigrams should become single tokens — Mikolov et
  * al. '13 §4, the word2vec phrase pass) and RAKE keyword extraction
  * (Rose et al. '10 — stopword-delimited candidate phrases scored by
  * word degree/frequency).
  *
  * Both are pure aggregate dataflow with EXACT integer scores (scaled
  * integer division, never floats), so DuckDB replays them bit for bit.
  *
  * Scale shapes: one posexplode of the corpus feeds everything; counts
  * are partial+final hash aggregates (vocabulary-keyed — map-side
  * combine collapses each task to its distinct tokens); the score joins
  * key on words (vocabulary-sized tables, NOT broadcast — they shuffle,
  * and that is correct: vocab grows with corpus). Top-k cuts compile to
  * TakeOrderedAndProject, never a global sort.
  *
  * Reference basis: none (the reference's wc is unigram-only,
  * mrapps/wc.go); SURVEY §2.3 text-analysis surface.
  */
object Phrases extends graft.Catalog {

  /** Phrase-detection threshold constants (Mikolov's δ discount). */
  private val Delta = 3L
  private val MinPairCount = 5L

  /** Bigrams worth promoting to phrase tokens:
    * score = (n₁₂ − δ)·N / (n₁·n₂) in exact e6 fixed point. Output is
    * every pair above score_e6 > 0 with n₁₂ ≥ 5, with its evidence
    * counts — threshold-shaped (no arbitrary top-k), so the output
    * scales with the phrase count, not the corpus.
    *
    * Magnitude bound (documented like the classifier's): the e6
    * numerator is (n₁₂−δ)·1e6·N ≤ fixture-tokens² ·1e6 ≪ 2⁶³; a
    * 100 TB run promotes the arithmetic to DECIMAL(38,0) — same plan.
    */
  def phraseDetect(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, d)
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("tok"))
    val uni = toks.groupBy($"tok").agg(count(lit(1)).as("n1"))
    // adjacent pairs in-row (r13 native Grams — the lead-window
    // spelling shuffled the token stream on doc_id to see one neighbor)
    val pairs = Tables.documents(spark, d)
      .withColumn("t", TextAnalysis.toks($"text"))
      .select(explode(Native(es => Grams(es.head, 2), $"t")).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("n12")) // key = the joined pair
      .filter($"n12" >= MinPairCount)
      // split once per DISTINCT pair (tokens are whitespace-split, so
      // the single space is unambiguous), after the aggregate
      .select(element_at(split($"bg", " "), 1).as("tok"),
        element_at(split($"bg", " "), 2).as("nxt"), $"n12")
    val total = toks.agg(count(lit(1)).as("nn"))
    pairs
      .join(uni, Seq("tok"))
      .join(uni.select($"tok".as("nxt"), $"n1".as("n2")), Seq("nxt"))
      .crossJoin(broadcast(total))
      .select(
        $"tok".as("w1"), $"nxt".as("w2"), $"n1", $"n2", $"n12",
        expr(s"(((n12 - $Delta) * 1000000) * nn) div (n1 * n2)").as("score_e6"))
      .filter($"score_e6" > 0L)
  }

  /** RAKE keywords: candidate phrases are maximal stopword-free token
    * runs; each word scores deg(w)·1e6 div freq(w) (deg = Σ lengths of
    * phrases containing it, freq = its occurrences in phrases — degree
    * rewards words that live in LONG collocations); a phrase scores the
    * sum of its words. Top-20 by (score, doc_id, grp) — an INTEGER-only
    * total order, deliberately: ranking on integers means the corpus
    * never materializes phrase STRINGS (only counts travel through the
    * aggregates — at the 100× rehearsal the string-per-candidate
    * spelling was the memory hog in BOTH engines); text is assembled
    * by a join-back for just the 20 winners.
    */
  def rakeKeywords(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val stop = Seq("the", "a", "of", "to", "and", "in", "is", "on")
    // r14: phrase segmentation runs in-row (native RakePhrases — grp is
    // the same running stopword count the window spelling assigned, and
    // plen rides each token because the run is contiguous within the
    // row). Removes the corpus-scale doc_id exchange + per-doc sort of
    // the running-sum window AND the plens aggregate + its two
    // join-backs (guide §2.4). NativeKernelExprSpec pins the kernel
    // against the window spelling; the DuckDB oracle still replays the
    // window.
    val toks = Tables.documents(spark, d)
      .withColumn("t", TextAnalysis.toks($"text"))
      .select($"doc_id", explode(Native(es => RakePhrases(es.head, stop), $"t")).as("x"))
      .select($"doc_id", $"x.pos".as("pos"), $"x.tok".as("tok"),
        $"x.grp".as("grp"), $"x.plen".as("plen"))
      .transform(graft.Ckpt.cut) // feeds word stats, scores, and the
    // winners' string assembly — one in-row pass, three consumers
    val wordStats = toks
      .groupBy($"tok")
      .agg(sum($"plen").as("deg"), count(lit(1)).as("freq"))
      .withColumn("wscore_e6", expr("(deg * 1000000) div freq"))
    val top = toks
      .join(wordStats.select($"tok", $"wscore_e6"), Seq("tok"))
      // multi-word keywords only: single tokens score deg=freq-trivially
      .filter($"plen" >= 2L)
      .groupBy($"doc_id", $"grp", $"plen")
      .agg(sum($"wscore_e6").as("score_e6"))
      .orderBy($"score_e6".desc, $"doc_id", $"grp")
      .limit(20)
    // strings exist only for the 20 winners (plen arrives from top —
    // toks' own copy is dropped to keep the join unambiguous)
    toks.drop("plen")
      .join(broadcast(top), Seq("doc_id", "grp"))
      .groupBy($"doc_id", $"grp", $"plen", $"score_e6")
      .agg(array_join(
        transform(array_sort(collect_list(struct($"pos", $"tok"))),
          x => x.getField("tok")), " ").as("phrase"))
      .select($"doc_id", $"phrase", $"plen", $"score_e6")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_phrase_detect" -> (phraseDetect _),
    "text_keywords_rake" -> (rakeKeywords _))

  /** Positional token explode — the catalog's list_transform/range
    * idiom (DuckDB has no WITH ORDINALITY on unnest).
    */
  private val toksSql =
    """SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
      |  SELECT doc_id, unnest(list_transform(range(len(t)),
      |    i -> struct_pack(pos := i, tok := t[CAST(i + 1 AS BIGINT)]))) AS u
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      |        FROM documents))""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_phrase_detect" ->
      s"""WITH toks AS (
         |  SELECT doc_id, pos,
         |    tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM ($toksSql)),
         |uni AS (SELECT tok, count(*) AS n1 FROM toks GROUP BY tok),
         |pairs AS (
         |  SELECT tok, nxt, count(*) AS n12 FROM toks
         |  WHERE nxt IS NOT NULL GROUP BY tok, nxt
         |  HAVING count(*) >= $MinPairCount),
         |total AS (SELECT count(*) AS nn FROM toks)
         |SELECT p.tok AS w1, p.nxt AS w2,
         |  u1.n1 AS n1, u2.n1 AS n2, p.n12,
         |  (((p.n12 - $Delta) * 1000000) * nn) // (u1.n1 * u2.n1) AS score_e6
         |FROM pairs p
         |JOIN uni u1 ON u1.tok = p.tok
         |JOIN uni u2 ON u2.tok = p.nxt
         |CROSS JOIN total
         |WHERE (((p.n12 - $Delta) * 1000000) * nn) // (u1.n1 * u2.n1) > 0"""
        .stripMargin,
    "text_keywords_rake" ->
      s"""WITH marked AS (
         |  SELECT doc_id, pos, tok,
         |    CASE WHEN tok IN ('the','a','of','to','and','in','is','on')
         |         THEN 1 ELSE 0 END AS is_stop
         |  FROM ($toksSql)),
         |grouped AS MATERIALIZED (
         |  SELECT doc_id, pos, tok,
         |    sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM marked
         |  QUALIFY is_stop = 0),
         |plens AS MATERIALIZED (
         |  SELECT doc_id, grp, count(*) AS plen
         |  FROM grouped GROUP BY doc_id, grp),
         |wordstats AS (
         |  SELECT tok,
         |    (CAST(sum(plen) AS BIGINT) * 1000000) // count(*) AS wscore_e6
         |  FROM grouped g JOIN plens p USING (doc_id, grp)
         |  GROUP BY tok),
         |top AS MATERIALIZED (
         |  SELECT g.doc_id, g.grp, plen,
         |    CAST(sum(wscore_e6) AS BIGINT) AS score_e6
         |  FROM grouped g
         |  JOIN wordstats w USING (tok)
         |  JOIN plens USING (doc_id, grp)
         |  WHERE plen >= 2
         |  GROUP BY g.doc_id, g.grp, plen
         |  ORDER BY score_e6 DESC, g.doc_id, g.grp
         |  LIMIT 20)
         |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS phrase,
         |  plen, score_e6
         |FROM grouped JOIN top USING (doc_id, grp)
         |GROUP BY doc_id, grp, plen, score_e6""".stripMargin)
}
