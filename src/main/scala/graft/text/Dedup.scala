package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import graft.Tables
import graft.functions.{DistinctGramHashes, HammingPairStructs, HotWeight, MatchCount,
  NewPairStructs, OrderedPairStructs, PairStructs, PosGramHashes, SimHashSig, WinnowFps}

/** Deduplication suite over the documents table — the core of any
  * 100 TB training-data pipeline. Four tiers:
  *
  *   1. exact        — hash-groupBy on a normalized fingerprint
  *   2. blocked      — exact n-gram Jaccard within cheap blocks
  *   3. minhash LSH  — shingle → 64-perm signature → banded buckets
  *   4. simhash      — 64-bit sign-hash, banded for hamming candidates
  *
  * Scale design: every tier avoids the quadratic cross-join. Exact dedup
  * is ONE shuffle on the fingerprint. The pair-producing tiers shuffle on
  * a block/band key and only join within buckets, with a hard bucket cap
  * (`MaxBucket`) so one degenerate key cannot quadratically explode a
  * task — the standard LSH trade (a >cap bucket means the docs are
  * near-identical anyway; exact dedup catches them).
  *
  * The cap has two owners, one per engine. On Spark, [[cappedPairs]]
  * groups a family's rows by its bucket key, keeps buckets of 2 to
  * `MaxBucket` rows ([[inCap]]) and explodes the pairs of each kept
  * bucket; every bucketed pair family here and
  * [[graft.multimodal.Multimodal]]'s perceptual-hash tier go through it,
  * and the two that cannot (the blocked-Jaccard window and the prefix
  * tier's pre-collect admission) filter on [[inCap]] itself. On DuckDB,
  * every twin caps its buckets with the [[cappedCte]] window, so a twin
  * cannot drift from the cap where the fixtures (largest bucket 34 docs
  * at sf0.1) cannot show it.
  */
object Dedup extends graft.Catalog {

  /** Buckets larger than this are dropped from pair generation. */
  val MaxBucket = 50

  /** The cap over a bucket's row count: 2 to [[MaxBucket]] rows. */
  def inCap(n: Column): Column = n > 1 && n <= MaxBucket

  /** The collected bucket's column name inside [[cappedPairs]]. */
  private val Bucket = "bucket"

  /** Candidate pairs of `rows`, one per row in column `p`: `payload`
    * collected per `keys` bucket, buckets outside [[inCap]] dropped, and
    * `pairs` (an array of pair structs, given the bucket's array)
    * exploded.
    */
  def cappedPairs(rows: DataFrame, keys: Seq[Column], payload: Column)(
      pairs: Column => Column): DataFrame =
    rows.groupBy(keys: _*)
      .agg(collect_list(payload).as(Bucket))
      .filter(inCap(size(col(Bucket))))
      .select(explode(pairs(col(Bucket))).as("p"))

  /** DuckDB twin of the cap: the rows of `src` whose `keys` bucket is
    * within [[inCap]], with the bucket's row count as `bsz`.
    */
  def cappedCte(src: String, keys: String): String =
    s"SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY $keys) AS bsz FROM $src) x " +
      s"WHERE bsz > 1 AND bsz <= $MaxBucket"

  /** DuckDB twin of [[jaccardPairsOf]]'s token blocks, as two CTEs:
    * `d0` (doc_id, dt, b1, b2, t) and `dd`, its capped rows.
    */
  val jaccardBlockCtes: String =
    s"""d0 AS (
       |  SELECT doc_id, list_distinct(t) AS dt, t[1] AS b1,
       |         CAST(floor(len(t) / 10) AS BIGINT) AS b2, t
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |        FROM documents) x),
       |dd AS (${cappedCte("d0", "b1, b2")})""".stripMargin

  /** [[jaccardBlockCtes]] plus `jp` (doc_a, doc_b, inter, jacc): every
    * within-block pair a < b with its token-set intersection size,
    * computed once, and the Jaccard ratio over it.
    */
  val jaccardPairCtes: String =
    s"""$jaccardBlockCtes,
       |jp AS (
       |  SELECT doc_a, doc_b, inter, CAST(inter AS DOUBLE) / (na + nb - inter) AS jacc
       |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, len(a.dt) AS na, len(b.dt) AS nb,
       |               len(list_filter(a.dt, x -> list_contains(b.dt, x))) AS inter
       |        FROM dd a JOIN dd b ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.doc_id < b.doc_id) x)""".stripMargin

  /** THE cross-engine base hash: a 32-bit word from 8 hex chars of
    * md5, starting at `offset` (1-based). One definition on the Spark
    * side; the generated oracles embed the literal DuckDB twin
    * `CAST('0x' || substring(md5(x), offset, 8) AS BIGINT)`. This pair
    * is the load-bearing invariant of every sketch oracle — change both
    * or neither.
    */
  def md5Prefix32(c: Column, offset: Int): Column =
    conv(substring(md5(c), offset, 8), 16, 10).cast("long")

  /** Exact dedup: normalized-text sha256, keeper = min doc_id. */
  def exact(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .groupBy(sha2(TextAnalysis.normText($"text"), 256).as("fingerprint"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Blocked exact token-set Jaccard: block on (first token, length
    * bucket), compare only within blocks. Fully DuckDB-expressible, so
    * this tier is the oracle anchor for the sketch tiers above it.
    */
  def jaccardPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    jaccardPairsOf(
      Tables.documents(spark, d).withColumn("t", TextAnalysis.toks($"text")))
  }

  /** Same, over an already-tokenized frame (doc_id + `t` token array) —
    * composite pipelines (training_mix) pass their frame in so the
    * tokenization definition lives in one place (the frame is lazy, so
    * this shares the DEFINITION, not the physical scan; persist the
    * frame to also share the work).
    */
  def jaccardPairsOf(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    val wBlock = org.apache.spark.sql.expressions.Window.partitionBy($"b1", $"b2")
    val docs = tokenized
      .select(
        $"doc_id",
        array_distinct($"t").as("dt"),
        element_at($"t", 1).as("b1"),
        floor(size($"t") / 10).cast("long").as("b2"))
      // a degenerate block (every doc starting with "the") must not go
      // quadratic; a singleton block makes no a < b pair
      .withColumn("bsz", count(lit(1)).over(wBlock))
      .filter(inCap($"bsz"))
      .drop("bsz")
    val a = docs.select($"doc_id".as("doc_a"), $"dt".as("ta"), $"b1", $"b2")
    val b = docs.select($"doc_id".as("doc_b"), $"dt".as("tb"), $"b1", $"b2")
    a.join(b, Seq("b1", "b2"))
      .filter($"doc_a" < $"doc_b")
      .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("long"))
      .withColumn("uni", size($"ta").cast("long") + size($"tb") - $"inter")
      .select($"doc_a", $"doc_b", $"inter",
        ($"inter".cast("double") / $"uni").as("jacc"))
  }

  /** The ≥ 0.5 blocked-Jaccard edge list (a < b), fitted once and
    * shared by EVERY in-session consumer of the same bucket-capped
    * frame — the graph family (kcore / triangles /
    * reach_hops via [[graft.relational.Graph]]) and the blocking
    * evaluation's truth set. r13: the registry moved here from Graph so
    * dedup_blocking_eval (alphabetically first in a catalog pass) pays
    * the one fit the graph queries then reuse, instead of the two
    * modules fitting the identical frame once each. A
    * [[graft.Memo.frame]]: refits if the blocks die.
    */
  def jaccardEdges(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    jaccardEdgesWithJacc(spark, d).select($"a", $"b")
  }

  /** The fitted ≥ 0.5 edge list WITH its jacc value retained (8 bytes
    * per capped edge — same bounded-frame class). r14: retaining jacc
    * lets [[graft.text.DedupCluster.clusters]] derive its ≥ 0.6 edge
    * set as a FILTER over this fit instead of re-running the whole
    * blocked-Jaccard pipeline (guide §2.4: the jacc values are computed
    * once, so filtering the stored column at the higher threshold is
    * the identical predicate by construction).
    */
  def jaccardEdgesWithJacc(spark: SparkSession, d: String): DataFrame =
    graft.Memo.frame(spark, ("jaccard_edges", d)) {
      import spark.implicits._
      jaccardPairs(spark, d)
        .filter($"jacc" >= 0.5)
        .select($"doc_a".as("a"), $"doc_b".as("b"), $"jacc") // already a < b
    }

  // ---- MinHash LSH ----

  val NumHashes = 64
  val Bands = 16 // 16 bands x 4 rows
  val Rows = NumHashes / Bands

  /** Prime > 2^32 for the universal hash family ((a*h + b) mod P). The
    * modulus is what makes each map a genuine permutation-like shuffle of
    * hash order — a bare affine map is monotone and every "permutation"
    * would share one argmin shingle. Constants are bounded (a < 2^30) and
    * the base hash masked to 32 bits, so a*h+b < 2^62: no ANSI overflow.
    */
  val MinhashPrime = 4294967311L

  private val perms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)(
      ((rnd.nextInt(1 << 29).toLong << 1) | 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Exposed for the bit-for-bit parity test. */
  def permConstants: Seq[(Long, Long)] = perms

  /** 3-token shingles of a token-array column (retained as the
    * reference formulation; [[signatures]] builds the same shingles via
    * posexplode+lead, which stays in codegen).
    */
  def shingles(t: Column): Column =
    transform(
      sequence(lit(0), size(t) - 3),
      i => concat_ws(" ", slice(t, i + 1, lit(3))))

  /** doc_id + 64-long minhash signature, computed IN-ROW by the native
    * [[graft.functions.MinHashSig]] expression (shingle → 32-bit
    * md5-prefix hash → 64 permutation minima, one fused pass inside the
    * scan projection). The signature is a per-document value, so the r12
    * posexplode/lead-window/`MinHashAgg` pipeline's (that aggregate now
    * lives in the test tree as NativeGramExprSpec's parity reference)
    * one corpus-scale doc_id exchange — the whole token stream shuffled
    * and per-doc sorted just to reassemble consecutive triples — carried
    * data whose every consumer was per-row; removed outright (guide
    * §2.4). The base hash stays the cross-engine [[md5Prefix32]] grid
    * (what makes the pipeline ORACLE-able — xxhash64 had no DuckDB
    * twin), and shingles stay deliberately NOT deduplicated per
    * document: a permutation minimum is identical over a multiset and
    * its set, so dedup would cost work and change nothing.
    */
  def signatures(spark: SparkSession, d: String): DataFrame = signaturesWith(spark, d)

  /** [[signatures]] with `carry` columns of the documents row between
    * doc_id and sig.
    */
  private def signaturesWith(spark: SparkSession, d: String, carry: Column*): DataFrame =
    Tables.documents(spark, d)
      .withColumn("t", TextAnalysis.toks(col("text")))
      .filter(size(col("t")) >= 3)
      .select((col("doc_id") +: carry :+ Native(minhashSig, col("t")).as("sig")): _*)

  private def minhashSig(es: Seq[Expression]): Expression =
    graft.functions.MinHashSig(
      es.head, perms.map(_._1).toArray, perms.map(_._2).toArray, MinhashPrime)

  /** Candidate pairs via banded LSH + signature-estimated Jaccard.
    * DuckDB-oracled (see [[minhashOracle]]): the base hash is an md5
    * prefix and the band bucket key is the raw 4-minimum slice itself
    * (arrays group/join fine on both engines) — no engine-private hash
    * anywhere in the pipeline.
    */
  /** Candidate-pair frame cache: the final (doc_a, doc_b, est_jaccard)
    * set is band/bucket-capped (never corpus²), so one catalog pass
    * fits it once for its two consumers (the dedup_minhash_pairs query
    * and [[blockingEval]]'s candidate side) — the [[jaccardEdges]]
    * discipline applied to the LSH tier (r13), through [[graft.Memo.frame]].
    */
  def minhashPairs(spark: SparkSession, d: String): DataFrame =
    graft.Memo.frame(spark, ("minhash_pairs", d)) {
      minhashPairsUncached(spark, d)
    }

  private def minhashPairsUncached(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // Signatures are computed ONCE and MATERIALIZED (localCheckpoint —
    // the in-session analog of the signature table a production run
    // writes); the band shuffle then carries only (doc_id, band,
    // band_key) — a 4-long slice instead of the full 64-long signature
    // riding the shuffle ×Bands (~8× fewer shuffled signature bytes).
    // Candidate pairs dedup as NARROW (doc_a, doc_b) rows BEFORE the
    // signature table joins back (twice, keyed on each side) for the
    // estimated Jaccard — so a pair colliding in several bands costs
    // one estimate, not several. More exchanges than the ride-along
    // formulation, but each moves a small table or narrow rows. The
    // in-bucket pair explode and the signature match count are native
    // kernels (sortedPairs, sigMatches), not interpreted lambdas.
    val sigs = signatures(spark, d).transform(graft.Ckpt.cut)
    val cand = bandPairs(sigs, Seq($"doc_id"), $"doc_id")(sortedPairs)
      .select($"p.part_a".as("doc_a"), $"p.part_b".as("doc_b"))
      .distinct()
    withSigMatches(cand, sigs)
      .select($"doc_a", $"doc_b", ($"m".cast("double") / NumHashes).as("est_jaccard"))
  }

  /** [[cappedPairs]] over the LSH bands of `sigs`: each signature's
    * [[Bands]] slices of [[Rows]] minima, with the `carry` columns, keyed
    * on (band, band_key).
    */
  private def bandPairs(sigs: DataFrame, carry: Seq[Column], payload: Column)(
      pairs: Column => Column): DataFrame = {
    val bands = sigs.select(carry :+ posexplode(transform(
        sequence(lit(0), lit(Bands - 1)),
        bnd => slice(col("sig"), bnd * Rows + 1, lit(Rows)))): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    cappedPairs(bands, Seq(col("band"), col("band_key")), payload)(pairs)
  }

  /** `cand` (doc_a, doc_b, ...) with both signatures joined back and
    * `m`, the count of minima they share.
    */
  private def withSigMatches(cand: DataFrame, sigs: DataFrame): DataFrame =
    cand.join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("m", sigMatches(col("sig_a"), col("sig_b")))

  /** One row per i<j pair of a bucket's id list, as struct(part_a <=
    * part_b): the native [[graft.functions.PairStructs]] kernel over the
    * SORTED ids in place of the nested
    * `flatten(transform(ids, (x, i) -> transform(filter(ids, (y, j) ->
    * j > i), y -> named_struct('a', least(x, y), 'b', greatest(x, y)))))`
    * lambda (CodegenFallback, kept in NativeKernelExprSpec as the
    * reference side). The multiset of (least, greatest) pairs
    * over i<j does not depend on the list's order, so the rows are the
    * same, repeated ids included (NativeKernelExprSpec pins it).
    */
  private[graft] def sortedPairs(ids: Column): Column =
    Native(es => PairStructs(es.head), sort_array(ids))

  /** Signature minima that match position by position: the native
    * [[graft.functions.MatchCount]] kernel in place of the interpreted
    * `aggregate(zip_with(sig_a, sig_b, IF(u = v, 1, 0)), 0, +)` spelling
    * (kept in NativeKernelExprSpec as the reference side).
    */
  private def sigMatches(a: Column, b: Column): Column =
    Native(es => MatchCount(es(0), es(1)), a, b)

  /** The new-batch marker: one fixture source plays the daily delta. */
  val IncrementalSource = "src0"

  /** INCREMENTAL MinHash dedup — the production crawl shape: a NEW
    * batch (source = [[IncrementalSource]] plays the delta) deduped
    * against the existing corpus with NO corpus x corpus work. Same
    * signatures, bands, caps, and estimate as [[minhashPairs]], but the
    * in-bucket pair generator requires at least one NEW side, so the
    * per-batch cost scales with the delta and its touched buckets, not
    * with corpus². In production the corpus side of the signature table
    * is the persisted artifact of previous runs (here the one
    * localCheckpoint stands in for both halves) — a new batch computes
    * only its own signatures and joins the existing band index.
    * Output carries pair_type (new-new / new-corpus); corpus-corpus
    * pairs are structurally impossible. The spec pins the exactness
    * property: incremental output == the full pass filtered to pairs
    * touching the delta (same buckets, same caps ⇒ same candidates).
    */
  def incrementalMinhashPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // is_new rides the signature scan itself (same documents row — the
    // r12 spelling joined a separate flag frame back on doc_id because
    // the aggregate-built signatures had already lost the source column;
    // the in-row signature keeps the whole row available)
    // r14: the in-bucket pair explode runs as the native NewPairStructs
    // kernel with the (x.is_new OR y.is_new) pair filter folded in — the
    // nested lambda spelling it replaces is pinned by
    // NativeKernelExprSpec and still replayed by the oracle.
    val sigs = signaturesWith(spark, d, ($"source" === IncrementalSource).as("is_new"))
      .transform(graft.Ckpt.cut)
    val cand = bandPairs(sigs, Seq($"doc_id", $"is_new"), struct($"doc_id", $"is_new"))(
        ds => Native(es => NewPairStructs(es.head), ds))
      .select($"p.a".as("doc_a"), $"p.b".as("doc_b"),
        when($"p.nn", "new-new").otherwise("new-corpus").as("pair_type"))
      .distinct()
    withSigMatches(cand, sigs)
      .select($"doc_a", $"doc_b", $"pair_type",
        ($"m".cast("double") / NumHashes).as("est_jaccard"),
        $"m".as("n_match"))
  }

  /** Matching-minima threshold for dropping a new doc: the INTEGER
    * count of matching signature minima (`n_match`, carried alongside
    * est_jaccard) must reach this. Filtering on the integer column —
    * never on est_jaccard * NumHashes, which round-trips m through a
    * double and is exact only while NumHashes is a power of two —
    * keeps the threshold engine-portable for ANY NumHashes.
    */
  val AdmitMinMatches = 32

  /** The admission verdict a production incremental dedup emits per
    * NEW doc — the end-to-end consumer of [[incrementalMinhashPairs]]:
    *
    *   - `drop_corpus_dup`  — estimated-Jaccard match (>= 1/2) against
    *     an existing corpus doc (matched_to = smallest such doc);
    *   - `drop_batch_dup`   — no corpus match, but a match against an
    *     EARLIER new doc (keep-min-doc_id within the delta, the same
    *     survivor rule as [[graft.text.DedupCluster]]);
    *   - `admit`            — everything else (matched_to null).
    *
    * All joins after the pair mining are narrow (doc ids + integer
    * minima counts); the per-doc verdict is two anti-joinable
    * aggregates over the pair set, grouped on the new doc id.
    */
  def incrementalAdmission(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val flags = Tables.documents(spark, d)
      .select($"doc_id", ($"source" === IncrementalSource).as("is_new"))
    // NOT checkpointed, deliberately: the mining subplan feeds both
    // orientation branches, but every expensive stage sits behind an
    // exchange that Spark REUSES across the union (bench taskMetrics:
    // shuffle read > write by exactly the re-read; an eager
    // localCheckpoint here measured 1.8x slower than the reuse)
    val pairs = incrementalMinhashPairs(spark, d)
      .filter($"n_match" >= AdmitMinMatches)
    // orient every pair as (new_id, other_id, other_is_new): new-corpus
    // pairs have exactly one new side; new-new pairs count from BOTH
    // sides, but only the (later, earlier) orientation survives the
    // keep-min rule below
    val newSide = flags.filter($"is_new").select($"doc_id")
    val oriented = pairs
      .join(newSide.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .select($"doc_a".as("new_id"), $"doc_b".as("other_id"), $"pair_type")
      .union(pairs
        .join(newSide.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
        .select($"doc_b".as("new_id"), $"doc_a".as("other_id"), $"pair_type"))
      // for new-new keep only the later-vs-earlier orientation (the
      // earlier doc is not dropped on account of a later one)
      .filter($"pair_type" === "new-corpus" || $"other_id" < $"new_id")
    val verdicts = oriented
      .groupBy($"new_id")
      .agg(
        min(when($"pair_type" === "new-corpus", $"other_id")).as("corpus_match"),
        min(when($"pair_type" === "new-new", $"other_id")).as("batch_match"))
    newSide
      .join(verdicts, newSide("doc_id") === verdicts("new_id"), "left_outer")
      .select($"doc_id",
        when($"corpus_match".isNotNull, "drop_corpus_dup")
          .when($"batch_match".isNotNull, "drop_batch_dup")
          .otherwise("admit").as("verdict"),
        coalesce($"corpus_match", $"batch_match").as("matched_to"))
  }

  /** DuckDB twin of [[incrementalAdmission]]: the incremental-pair CTE
    * chain, the integer minima threshold, orientation, and the
    * keep-min verdict aggregate.
    */
  private def incrAdmitOracle: String = {
    // the full incremental-pairs statement (itself WITH-headed) embeds
    // as a derived table — DuckDB allows CTEs inside subqueries
    s"""WITH pairs AS (
       |SELECT * FROM (
       |$incrMinhashOracle
       |) p WHERE n_match >= $AdmitMinMatches),
       |news AS (SELECT doc_id FROM documents WHERE source = '$IncrementalSource'),
       |oriented AS (
       |  SELECT doc_a AS new_id, doc_b AS other_id, pair_type FROM pairs
       |  WHERE doc_a IN (SELECT doc_id FROM news)
       |  UNION ALL
       |  SELECT doc_b AS new_id, doc_a AS other_id, pair_type FROM pairs
       |  WHERE doc_b IN (SELECT doc_id FROM news)),
       |ok AS (
       |  SELECT * FROM oriented
       |  WHERE pair_type = 'new-corpus' OR other_id < new_id),
       |verdicts AS (
       |  SELECT new_id,
       |    min(CASE WHEN pair_type = 'new-corpus' THEN other_id END) AS corpus_match,
       |    min(CASE WHEN pair_type = 'new-new' THEN other_id END) AS batch_match
       |  FROM ok GROUP BY new_id)
       |SELECT n.doc_id,
       |  CASE WHEN v.corpus_match IS NOT NULL THEN 'drop_corpus_dup'
       |       WHEN v.batch_match IS NOT NULL THEN 'drop_batch_dup'
       |       ELSE 'admit' END AS verdict,
       |  coalesce(v.corpus_match, v.batch_match) AS matched_to
       |FROM news n LEFT JOIN verdicts v ON n.doc_id = v.new_id""".stripMargin
  }

  // ---- SimHash ----

  /** 64-bit simhash over distinct tokens, carried as TWO 32-bit halves
    * (`sim_lo` = bits 0-31, `sim_hi` = bits 32-63): bit b is the sign of
    * the sum of ±1 contributions from each token's hash bit b. The
    * token hash is the md5 hex prefix split into two 32-bit words —
    * cross-engine computable, which makes the whole pipeline oracle-able
    * (and the halves keep every value below 2^32, so no engine's signed
    * BIGINT semantics are ever in play). Balances accumulate in native
    * [[graft.functions.SimHashAgg]] buffers (map-side combined); one
    * shuffle on doc_id.
    */
  def simhashDocs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // in-row since r13: distinct tokens, the packed two-word md5 hash
    // (one digest yields both 32-bit words — the SQL spelling ran md5
    // twice per token), 64 bit balances and the sign vector all run
    // inside the native SimHashSig scan projection; the r12
    // explode(array_distinct)/SimHashAgg pipeline shuffled the
    // distinct-token stream on doc_id only to compute this per-document
    // value (guide §2.4 — same removal as the minhash signatures).
    // hi may set the sign bit; bits extract with >>> so that is harmless.
    Tables.documents(spark, d)
      .withColumn("t", TextAnalysis.toks($"text"))
      .filter(size($"t") >= 1)
      .select($"doc_id", Native(es => SimHashSig(es.head), $"t").as("sim"))
      .select($"doc_id",
        $"sim".bitwiseAND(0xFFFFFFFFL).as("sim_lo"),
        shiftrightunsigned($"sim", 32).as("sim_hi"))
  }

  /** Candidate threshold. With 4 chunks of 16 bits, the pigeonhole
    * guarantee is only hamming <= 3 (a pair differing in 4+ bits can
    * differ in every chunk and never share a bucket), so the emitted set
    * is COMPLETE exactly up to this bound; higher-distance pairs that
    * happen to collide are dropped rather than advertised as recall.
    */
  val MaxHamming = 3

  /** Shared fit (r13): the hamming-verified pair set is chunk-bucket-
    * capped (never corpus²), and one catalog pass consumes it twice —
    * [[editPairs]]' candidate stream (alphabetically first) and the
    * dedup_simhash_pairs query itself — the [[minhashPairs]] memo
    * discipline.
    */
  def simhashPairs(spark: SparkSession, d: String): DataFrame =
    graft.Memo.frame(spark, ("simhash_pairs", d)) {
      simhashPairsUncached(spark, d)
    }

  private def simhashPairsUncached(spark: SparkSession, d: String): DataFrame =
    hammingPairs(simhashDocs(spark, d), "sim_lo", "sim_hi", MaxHamming)

  /** (doc_a, doc_b, hamming) pairs within `maxHamming` bits of a 64-bit
    * hash that (doc_id, `lo`, `hi`) rows carry as two 32-bit halves — the
    * text SimHash tier and the perceptual-hash media tier. The same
    * bucketed-pairs shape as minhash: group by 16-bit chunk, cap the
    * bucket, generate pairs inside the bucket — never a raw self-join
    * (low-entropy chunks would otherwise explode quadratically). The
    * in-bucket pair+hamming explode is the native HammingPairStructs
    * kernel (the lambda spelling is pinned by NativeKernelExprSpec; the
    * oracle replays it unchanged).
    */
  def hammingPairs(rows: DataFrame, lo: String, hi: String, maxHamming: Int): DataFrame = {
    val (l, h) = (col(lo), col(hi))
    val chunked = rows.select(
      struct(col("doc_id"), l, h).as("ds"),
      posexplode(array(
        l.bitwiseAND(0xFFFFL),
        shiftright(l, 16).bitwiseAND(0xFFFFL),
        h.bitwiseAND(0xFFFFL),
        shiftright(h, 16).bitwiseAND(0xFFFFL))))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    cappedPairs(chunked, Seq(col("chunk"), col("chunk_val")), col("ds"))(
        ds => Native(es => HammingPairStructs(es.head), ds))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("p.h").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** DuckDB twin of [[hammingPairs]] over the CTE `src` (doc_id, `lo`,
    * `hi`): the four chunk branches, the capped buckets and the hamming
    * filter.
    */
  def hammingOracle(src: String, lo: String, hi: String, maxHamming: Int): String = {
    val chunkBranches = Seq(
      s"$lo & 65535", s"($lo >> 16) & 65535",
      s"$hi & 65535", s"($hi >> 16) & 65535").zipWithIndex.map {
      case (e, i) => s"SELECT doc_id, $lo, $hi, $i AS chunk, $e AS chunk_val FROM $src"
    }.mkString("\nUNION ALL\n")
    s"""chunks AS (
       |$chunkBranches),
       |cand AS (${cappedCte("chunks", "chunk, chunk_val")})
       |SELECT DISTINCT
       |  least(a.doc_id, b.doc_id) AS doc_a,
       |  greatest(a.doc_id, b.doc_id) AS doc_b,
       |  CAST(bit_count(xor(a.$lo, b.$lo))
       |       + bit_count(xor(a.$hi, b.$hi)) AS BIGINT) AS hamming
       |FROM cand a JOIN cand b
       |  ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.$lo, b.$lo))
       |      + bit_count(xor(a.$hi, b.$hi)) <= $maxHamming""".stripMargin
  }

  /** Generated DuckDB oracle for the FULL minhash pipeline: md5-prefix
    * base hash, the same 64 (a·h+b) mod P permutation minima, band keys
    * as raw signature slices, bucket caps, and the estimated Jaccard —
    * every constant embedded from [[perms]].
    */
  private def minhashOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(len(t) - 2),
       |                               i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS h FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |${bandBranches(s"doc_id, $sigList AS sig", "sig")}),
       |cand AS (${cappedCte("bands", "band, band_key")})
       |SELECT DISTINCT
       |  least(a.doc_id, b.doc_id) AS doc_a,
       |  greatest(a.doc_id, b.doc_id) AS doc_b,
       |  CAST(len(list_filter(range($NumHashes),
       |                       i -> a.sig[i + 1] = b.sig[i + 1])) AS DOUBLE)
       |    / $NumHashes AS est_jaccard
       |FROM cand a JOIN cand b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin

  /** The oracles' 64 permutation minima `m0..m63` over the base hash `h`. */
  private def minCols: String = perms.zipWithIndex.map { case ((a, b), i) =>
    s"min((h * $a + $b) % $MinhashPrime) AS m$i"
  }.mkString(",\n    ")

  /** The 64 minima as one list literal of columns. */
  private def sigList: String = (0 until NumHashes).map(i => s"m$i").mkString("[", ",", "]")

  /** One UNION ALL branch per band over `from`: `cols`, then the band
    * number and its [[Rows]]-minima key.
    */
  private def bandBranches(cols: String, from: String): String = (0 until Bands).map { t =>
    val key = (0 until Rows).map(i => s"m${t * Rows + i}").mkString("[", ",", "]")
    s"SELECT $cols, $t AS band, $key AS band_key FROM $from"
  }.mkString("\nUNION ALL\n")

  /** DuckDB twin of [[incrementalMinhashPairs]]: the minhash oracle's
    * CTE chain with a per-doc is_new flag riding the bands, the
    * at-least-one-new pair predicate, and the pair_type tag.
    */
  private def incrMinhashOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |flags AS (SELECT doc_id, source = '$IncrementalSource' AS is_new FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(len(t) - 2),
       |                               i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
       |  FROM toks WHERE len(t) >= 3),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS h FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM h GROUP BY doc_id),
       |sigf AS (SELECT sig.*, f.is_new FROM sig JOIN flags f USING (doc_id)),
       |bands AS (
       |${bandBranches(s"doc_id, is_new, $sigList AS sig", "sigf")}),
       |cand AS (${cappedCte("bands", "band, band_key")})
       |SELECT DISTINCT
       |  least(a.doc_id, b.doc_id) AS doc_a,
       |  greatest(a.doc_id, b.doc_id) AS doc_b,
       |  CASE WHEN a.is_new AND b.is_new THEN 'new-new'
       |       ELSE 'new-corpus' END AS pair_type,
       |  CAST(len(list_filter(range($NumHashes),
       |                       i -> a.sig[i + 1] = b.sig[i + 1])) AS DOUBLE)
       |    / $NumHashes AS est_jaccard,
       |  CAST(len(list_filter(range($NumHashes),
       |                       i -> a.sig[i + 1] = b.sig[i + 1])) AS BIGINT) AS n_match
       |FROM cand a JOIN cand b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |WHERE a.is_new OR b.is_new""".stripMargin

  /** Generated DuckDB oracle for the full simhash pipeline: md5-split
    * token hashes, 64 bit-balance sums, sign-packed 32-bit halves, then
    * [[hammingOracle]]'s chunk blocking and hamming filter.
    */
  private def simhashOracle: String = {
    def balCols(half: String): String = (0 until 32).map { b =>
      s"sum(CASE WHEN ($half >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS ${half}_b$b"
    }.mkString(",\n    ")
    def packed(half: String): String = (0 until 32).map { b =>
      s"(CASE WHEN ${half}_b$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(
       |           list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS t
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) AS h_lo,
       |         CAST('0x' || substring(md5(t), 9, 8) AS BIGINT) AS h_hi
       |  FROM tok),
       |bal AS (
       |  SELECT doc_id,
       |    ${balCols("h_lo")},
       |    ${balCols("h_hi")}
       |  FROM h GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id,
       |    ${packed("h_lo")} AS sim_lo,
       |    ${packed("h_hi")} AS sim_hi
       |  FROM bal),
       |${hammingOracle("sim", "sim_lo", "sim_hi", MaxHamming)}""".stripMargin
  }

  // ---- Winnowing (rolling-hash fingerprints, MOSS-style) ----

  /** Tokens per k-gram / k-gram hashes per winnowing window / minimum
    * shared fingerprints for a candidate pair. Guarantee: any token run
    * of length >= WinnowK + WinnowW - 1 shared by two documents yields
    * at least one shared fingerprint (the window minimum is position-
    * independent), so long plagiarized/copied spans CANNOT be missed —
    * the property MinHash (a whole-document sketch) does not give.
    */
  val WinnowK = 3
  val WinnowW = 4
  val WinnowMinShared = 2

  /** Candidate near-dup pairs by shared winnowing fingerprints:
    * (doc_a, doc_b, n_shared). Per doc the work is linear (k-gram hash
    * stream → per-window minima → distinct), all inside one codegen'd
    * projection; the only shuffles are the fingerprint bucket group
    * and the pair count. Hashes are the md5-prefix grid, so DuckDB
    * replays them exactly.
    */
  /** (doc_id, fp) fingerprint stream of a (doc_id, t) tokenized frame —
    * exposed so specs can drive synthetic documents.
    */
  def winnowFingerprints(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    // the k-gram hash stream + window minima + distinct run fused inside
    // the native WinnowFps expression: the r12 spelling's two chained
    // higher-order-function lambdas were CodegenFallback — every k-gram
    // walked an interpreted md5 expression tree per element (the r1
    // gram-spelling measurement, ~2 s of a ~3 s query at sf0.1)
    tokenized.select($"doc_id",
      explode(Native(es => WinnowFps(es.head, WinnowK, WinnowW), $"t")).as("fp"))
  }

  def winnowPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    winnowFingerprints(
      Tables.documents(spark, d)
        .select($"doc_id", TextAnalysis.toks($"text").as("t")))
      .transform(cappedPairs(_, Seq($"fp"), $"doc_id")(sortedPairs))
      .groupBy($"p.part_a".as("doc_a"), $"p.part_b".as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= WinnowMinShared)
  }

  // ---- Prefix-filtered all-pairs similarity join (SSJoin/PPJoin) ----

  /** Jaccard threshold as an exact rational (num/den): prefix lengths
    * and the verify predicate stay in integer arithmetic, so neither
    * engine ever compares floats at the threshold boundary.
    */
  val PrefixJaccNum = 4L
  val PrefixJaccDen = 5L

  /** Hot-token fit cap: at most this many (df desc, tok) rows collect
    * to the driver — bounded at any corpus size.
    */
  val PrefixHotCap = 4096

  /** All-pairs token-set Jaccard >= num/den via PREFIX FILTERING
    * (Chaudhuri et al.'s SSJoin primitive, the PPJoin family's core):
    * order every doc's distinct tokens by a global order, keep only
    * each doc's first `|d| - ceil(t*|d|) + 1` tokens as blocking keys —
    * any qualifying pair provably shares a prefix token under ANY fixed
    * total order, so candidates come from prefix-token buckets instead
    * of [[jaccardPairs]]' fixed (first-token, length) blocks, and the
    * candidate set is threshold-COMPLETE up to the [[MaxBucket]] cap.
    *
    * The order is the PPJoin rarest-first order, fitted as a BOUNDED
    * artifact instead of a vocabulary-wide join: tokens with document
    * frequency > [[MaxBucket]] (capped at the [[PrefixHotCap]] most
    * frequent — a bounded driver collect, same discipline as the IVF /
    * quantile fits) sort LAST with weight `(1 << 61) + df` via the
    * native [[graft.functions.HotWeight]] hash lookup; everything else
    * sorts by its 60-bit md5-prefix hash. The guarantee this buys: a
    * bucket keyed by a non-hot token holds <= df <= MaxBucket prefixes,
    * so the cap NEVER drops a rare-token bucket — only pairs whose
    * every shared prefix token is corpus-hot can be lost (on a natural
    * corpus, near-dups share rare tokens; the spec proves exact
    * completeness on one). At 100 TB the fit is one aggregate producing
    * <= PrefixHotCap rows, and the natural upgrade is precomputing it
    * as a corpus artifact. Plan: the whole prefix build is one
    * codegen'd projection (transform + sort_array + slice — no
    * shuffle); the only exchanges are the prefix-token bucket group and
    * the narrow post-verify distinct (token arrays never ride the
    * second shuffle; inter/jacc are computed inside the bucket join).
    */
  def prefixJaccardPairs(spark: SparkSession, d: String): DataFrame =
    prefixJaccardPairsOf(
      Tables.documents(spark, d)
        .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t")))

  /** Same, over an already-tokenized (doc_id, t) frame (spec access). */
  def prefixJaccardPairsOf(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    val (num, den) = (PrefixJaccNum, PrefixJaccDen)
    val docs = tokenized
      .select($"doc_id", array_distinct($"t").as("dt"))
      .filter(size($"dt") >= 1)
    // bounded hot-token fit (deterministic: exact df, ties by token)
    val hot: Map[String, Long] = docs
      .select(explode($"dt").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("df"))
      .filter($"df" > MaxBucket)
      .orderBy($"df".desc, $"tok")
      .limit(PrefixHotCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prefixes = docs
      .withColumn("n", size($"dt").cast("long"))
      // prefix length |d| - ceil(t*|d|) + 1, ceil in integer arithmetic
      .withColumn("plen", expr(s"n - (n * $num + $den - 1) DIV $den + 1"))
      .withColumn("srt", sort_array(transform($"dt", t => named_struct(
        lit("w"), coalesce(Native(es => HotWeight(es.head, hot), t),
          conv(substring(md5(t), 1, 15), 16, 10).cast("bigint")),
        lit("tok"), t))))
      .select($"doc_id", $"dt",
        explode(slice($"srt", lit(1), $"plen".cast("int"))).as("p"))
      .select($"p.tok".as("tok"), $"doc_id", $"dt")
    // Bucket admission BEFORE the heavy collect: bucket sizes come from
    // a tok-only aggregate (map-side combined, no arrays), and only
    // tokens whose bucket the cap will keep (the oracle's
    // `count(*) OVER (PARTITION BY tok)` window, verbatim) reach the
    // collect_list. The post-agg filter this replaces had to
    // MATERIALIZE every oversized bucket first, and at 100x there are
    // far more than PrefixHotCap tokens above the cap — the ones
    // beyond the hot fit built df-sized lists of full token arrays only
    // to be discarded, the executor-OOM class the sf10 multi-process
    // gate exposed (Collect.serialize / BufferHolder.grow heap death).
    // The semi join and the groupBy share the tok partitioning, so the
    // heavy (doc_id, dt) payload still shuffles exactly once.
    val bucketable = prefixes
      .groupBy($"tok").agg(count(lit(1)).as("bsz"))
      .filter(inCap($"bsz"))
      .select($"tok")
    cappedPairs(prefixes.join(bucketable, Seq("tok"), "left_semi"),
        Seq($"tok"), struct($"doc_id", $"dt"))(crossDocPairs("dt", "ta", "tb"))
      .withColumn("inter", size(array_intersect($"p.ta", $"p.tb")).cast("long"))
      .withColumn("uni", size($"p.ta").cast("long") + size($"p.tb") - $"inter")
      .filter($"inter" * den >= $"uni" * num)
      .select($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"), $"inter",
        ($"inter".cast("double") / $"uni").as("jacc"))
      .distinct()
  }

  /** Cross-document pairs of a bucket of (doc_id, `f`) structs, as
    * (doc_a, `a`, doc_b, `b`) with doc_a < doc_b: an interpreted lambda
    * over the [[cappedPairs]] bucket column, which it reads by name.
    */
  private def crossDocPairs(f: String, a: String, b: String): Column => Column = _ => expr(
    s"""flatten(transform($Bucket, (x, i) ->
       |  transform(filter($Bucket, (y, j) -> j > i AND y.doc_id != x.doc_id),
       |    y -> named_struct(
       |      'doc_a', IF(x.doc_id < y.doc_id, x.doc_id, y.doc_id),
       |      '$a', IF(x.doc_id < y.doc_id, x.$f, y.$f),
       |      'doc_b', IF(x.doc_id < y.doc_id, y.doc_id, x.doc_id),
       |      '$b', IF(x.doc_id < y.doc_id, y.$f, x.$f)))))""".stripMargin)

  /** DuckDB twin of [[prefixJaccardPairs]]: the hot-token fit is pure
    * SQL over the same data (exact df, df desc / tok tiebreak, the same
    * > MaxBucket threshold and PrefixHotCap), so no fitted literals are
    * needed — the oracle re-derives the identical order, weights hot
    * tokens with the same `(1 << 61) + df`, and replays prefix slicing,
    * bucket caps, and integer-exact verification.
    */
  private def prefixJaccardOracle: String =
    s"""WITH d0 AS (
       |  SELECT doc_id,
       |         list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS dt
       |  FROM documents),
       |d1 AS (SELECT doc_id, dt, len(dt) AS n FROM d0 WHERE len(dt) >= 1),
       |tok AS (SELECT doc_id, unnest(dt) AS tok FROM d1),
       |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
       |hot AS (
       |  SELECT tok, df FROM (
       |    SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS hr
       |    FROM df WHERE df > $MaxBucket) x
       |  WHERE hr <= $PrefixHotCap),
       |srt AS (
       |  SELECT d1.doc_id, d1.dt, d1.n,
       |    list_transform(
       |      list_sort(list_transform(d1.dt, t -> {
       |        'w': coalesce(${1L << 61} + h.m[t][1],
       |                      CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)),
       |        'tok': t})),
       |      s -> s.tok) AS st
       |  FROM d1, (SELECT map(coalesce(list(tok), []), coalesce(list(df), [])) AS m
       |            FROM hot) h),
       |pfx AS (
       |  SELECT doc_id, dt,
       |         unnest(st[1 : CAST(n - (n * $PrefixJaccNum + $PrefixJaccDen - 1) // $PrefixJaccDen + 1 AS BIGINT)]) AS tok
       |  FROM srt),
       |capped AS (${cappedCte("pfx", "tok")}),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.dt, b.dt)) AS BIGINT) AS inter,
       |         CAST(len(a.dt) + len(b.dt) - len(list_intersect(a.dt, b.dt)) AS BIGINT) AS uni
       |  FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, inter, CAST(inter AS DOUBLE) / uni AS jacc
       |FROM pairs WHERE inter * $PrefixJaccDen >= uni * $PrefixJaccNum""".stripMargin

  // ---- Exact duplicate spans (substring-level dedup) ----

  /** Tokens per span gram / minimum reported span length (tokens). A
    * shared token run of exactly SpanK grams spans SpanK + (grams-1)
    * tokens, so MinSpan > SpanK requires >= MinSpan - SpanK + 1
    * consecutive gram matches — single-gram coincidences never surface.
    */
  val SpanK = 6
  val SpanMinTokens = 8

  /** Maximal exact duplicate token spans across document pairs —
    * substring-level dedup (the span analog of Lee et al.'s
    * "Deduplicating Training Data" suffix-array pass, re-expressed as
    * dataflow): (doc_a, doc_b, start_a, start_b, span_len) for every
    * maximal shared run of >= [[SpanMinTokens]] tokens. Exact duplicate
    * detection (dedup_exact) misses a copied paragraph inside an
    * otherwise-distinct page; this tier localizes it to the token.
    *
    * Dataflow (suffix arrays don't distribute; anchored-gram diagonals
    * do): [[SpanK]]-token gram hashes with positions (one doc_id window,
    * same shape as the minhash shingle build), bucket-capped pair
    * matches on the 60-bit gram hash (8 shuffled bytes per gram, the
    * decontam trick), then matches on one doc-pair DIAGONAL
    * (pos_a - pos_b) merge into maximal runs with the gaps-and-islands
    * window (pos_a - row_number). Positions are unique per diagonal by
    * construction, and the final aggregate groups on a superset of the
    * window key, so islands reuse the window's exchange. All keys are
    * high-cardinality (doc_id; gram hash; doc-pair diagonal) and pair
    * generation is [[MaxBucket]]-capped: a boilerplate gram shared by
    * thousands of docs is dropped, not exploded — the standard recall
    * trade, and those docs are near-identical enough for the whole-doc
    * tiers anyway. Span extents are exact modulo a 60-bit hash collision
    * (~1e-8 at corpus scale); the oracle hashes identically, so parity
    * is exact even then.
    */
  def spanExtents(spark: SparkSession, d: String): DataFrame =
    spanExtentsOf(
      Tables.documents(spark, d)
        .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t")))

  /** Same, over an already-tokenized (doc_id, t) frame (spec access). */
  def spanExtentsOf(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    // positional gram hashes in-row (r13): the posexplode + stacked
    // lead-window spelling shuffled the whole token stream on doc_id
    // and per-doc sorted it just to reassemble consecutive runs the
    // native expression reads off the array — posexplode's 0-based
    // position is exactly the old window `pos`
    val grams = tokenized
      .select($"doc_id",
        posexplode(Native(es => PosGramHashes(es.head, SpanK), $"t")).as(Seq("pos", "h")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"h")
    // positional matches: bucket on the gram hash, explode cross-doc
    // (doc, pos) pairs inside the bucket, ordered so doc_a < doc_b
    val matches = cappedPairs(grams, Seq($"h"), struct($"doc_id", $"pos"))(
        crossDocPairs("pos", "pos_a", "pos_b"))
      .select($"p.doc_a", $"p.pos_a", $"p.doc_b", $"p.pos_b")
    // gaps-and-islands per doc-pair diagonal: consecutive gram matches
    // (pos_a stepping by 1) share (pos_a - row_number) and merge into
    // one maximal span
    val wrun = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_a", $"doc_b", $"diag").orderBy($"pos_a")
    matches
      .withColumn("diag", $"pos_a" - $"pos_b")
      .withColumn("isl", $"pos_a" - row_number().over(wrun))
      .groupBy($"doc_a", $"doc_b", $"diag", $"isl")
      .agg(min($"pos_a").as("start_a"), min($"pos_b").as("start_b"),
        (max($"pos_a") - min($"pos_a") + SpanK).as("span_len"))
      .filter($"span_len" >= SpanMinTokens)
      .select($"doc_a", $"doc_b", $"start_a", $"start_b", $"span_len")
  }

  /** Span SCRUBBING — the transformation Lee et al. actually ship:
    * every token of a LATER doc covered by a duplicate span is removed
    * (keep-first: the smallest doc_id keeps its copy) and the text
    * re-assembled. One row per doc, untouched docs included:
    * (doc_id, n_tokens, n_removed, scrubbed_text).
    *
    * The tokenized frame is checkpointed once and feeds BOTH the span
    * miner and the reconstruction join (one documents scan, the
    * training_mix discipline). Removal is index-set arithmetic inside
    * one projection: filter(sequence(0, n-1)) keeps positions covered
    * by no range — written with the same size(filter(..)) > 0 spelling
    * the DuckDB twin uses, so coverage decisions are identical however
    * ranges overlap. Per-doc range lists are bounded by doc length
    * (every range is >= SpanMinTokens disjoint-start tokens of a doc).
    */
  def spanScrub(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, d)
      .select($"doc_id", TextAnalysis.toks($"text").as("t"))
      .transform(graft.Ckpt.cut)
    val ranges = spanExtentsOf(toks)
      .groupBy($"doc_b".as("doc_id"))
      .agg(collect_list(struct(
        $"start_b".as("s"), ($"start_b" + $"span_len").as("e"))).as("rs"))
    toks.join(ranges, Seq("doc_id"), "left_outer")
      .withColumn("rs", coalesce($"rs", array().cast("array<struct<s:bigint,e:bigint>>")))
      // the empty-doc guard matters: sequence(0, -1) yields [0, -1], not
      // [] (the DuckDB twin's range(0) IS empty), and element_at would
      // throw on the empty token array
      .withColumn("kept", when(size($"t") === 0, array().cast("array<string>"))
        .otherwise(expr(
          """transform(
            |  filter(sequence(0L, size(t) - 1),
            |         i -> size(filter(rs, r -> i >= r.s AND i < r.e)) = 0),
            |  i -> element_at(t, cast(i + 1 as int)))""".stripMargin)))
      .select($"doc_id",
        size($"t").cast("long").as("n_tokens"),
        (size($"t") - size($"kept")).cast("long").as("n_removed"),
        array_join($"kept", " ").as("scrubbed_text"))
  }

  /** DuckDB twin of [[spanScrub]]: the span statement embeds as a CTE
    * (nested-WITH derived table, as in the admission oracle) and the
    * index-set filter replays with the same covered() spelling.
    */
  private def spanScrubOracle: String =
    s"""WITH spans AS (
       |SELECT * FROM (
       |$spanOracle
       |) s),
       |rng AS (
       |  SELECT doc_b AS doc_id,
       |         list({'s': start_b, 'e': start_b + span_len}) AS rs
       |  FROM spans GROUP BY doc_b),
       |d0 AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |j AS (
       |  SELECT d0.doc_id, d0.t, coalesce(rng.rs, []) AS rs
       |  FROM d0 LEFT JOIN rng ON d0.doc_id = rng.doc_id),
       |k AS (
       |  SELECT doc_id, t,
       |    list_transform(
       |      list_filter(range(len(t)),
       |                  i -> len(list_filter(rs, r -> i >= r.s AND i < r.e)) = 0),
       |      i -> t[CAST(i + 1 AS BIGINT)]) AS kept
       |  FROM j)
       |SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
       |  -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
       |  coalesce(array_to_string(kept, ' '), '') AS scrubbed_text
       |FROM k""".stripMargin

  private def spanOracle: String =
    s"""WITH d0 AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |kg AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= $SpanK THEN
       |      list_transform(range(1, len(t) - $SpanK + 2),
       |        i -> {'pos': CAST(i - 1 AS BIGINT),
       |              'h': CAST('0x' || substr(md5(array_to_string(t[i:i+${SpanK - 1}], ' ')), 1, 15) AS BIGINT)})
       |    ELSE [] END AS gs
       |  FROM d0),
       |g AS (SELECT doc_id, u.pos AS pos, u.h AS h
       |      FROM (SELECT doc_id, unnest(gs) AS u FROM kg) x),
       |capped AS (${cappedCte("g", "h")}),
       |m AS (
       |  SELECT a.doc_id AS doc_a, a.pos AS pos_a, b.doc_id AS doc_b, b.pos AS pos_b,
       |         a.pos - b.pos AS diag
       |  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id),
       |r AS (
       |  SELECT doc_a, doc_b, diag, pos_a, pos_b,
       |         pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
       |  FROM m)
       |SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
       |       max(pos_a) - min(pos_a) + $SpanK AS span_len
       |FROM r GROUP BY doc_a, doc_b, diag, isl
       |HAVING max(pos_a) - min(pos_a) + $SpanK >= $SpanMinTokens""".stripMargin

  // ---- Containment (asymmetric Jaccard) near-subset tier ----

  /** k-gram width / minimum containment (1e4 grid) of the SMALLER doc. */
  val ContainK = 3
  val MinContainE4 = 9000L

  /** Near-subset pairs by Broder CONTAINMENT |A∩B| / min(|A|,|B|) over
    * distinct [[ContainK]]-gram sets — the asymmetric measure
    * resemblance-Jaccard structurally misses: a short doc fully quoted
    * inside a long one scores near 0 on J = |∩|/|∪| (the union is
    * dominated by the long doc) but 1.0 on containment, and it is
    * exactly the excerpt/quotation duplication a curation pipeline
    * must catch.
    *
    * Shape: the per-doc DISTINCT gram-hash set builds inside the native
    * [[graft.functions.DistinctGramHashes]] expression (one codegen'd
    * pass — no positional window, no interpreted gram lambda, and the
    * set size rides in-row as n_doc), so the scan explodes directly
    * into the bucket group: ZERO exchanges before groupBy(h). The r12
    * spelling paid a corpus-scale (doc_id, h) distinct exchange plus a
    * doc-partitioned window for n_doc — both removed (guide §2.4).
    * Each shared distinct gram lands in EXACTLY one hash bucket, so the
    * per-pair bucket-count IS the intersection size (bucket caps drop
    * corpus-hot grams — the winnowing n_shared caveat, documented
    * recall, never precision). Doc gram-set sizes ride inside the
    * bucket structs, so no join-back pass exists. All arithmetic
    * BIGINT: cont_e4 = (1e4·inter) div min(n_a,n_b).
    */
  def containmentPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // r14: the in-bucket pair explode runs as the native
    // OrderedPairStructs kernel — the nested flatten/transform/filter
    // lambda spelling it replaces (pinned bit-for-bit by
    // NativeKernelExprSpec, and still replayed by the DuckDB oracle) is
    // CodegenFallback: interpreted per element with a filter() sub-array
    // per element, ~0.5 s of this query's ~2.2 s warm wall (ContainProbe
    // stage split).
    val gn = Tables.documents(spark, d)
      .select($"doc_id", TextAnalysis.toks($"text").as("t"))
      .select($"doc_id", Native(es => DistinctGramHashes(es.head, ContainK), $"t").as("hs"))
      .select($"doc_id", size($"hs").cast("long").as("n_doc"),
        explode($"hs").as("h"))
    cappedPairs(gn, Seq($"h"), struct($"doc_id", $"n_doc"))(
        ds => Native(es => OrderedPairStructs(es.head), ds))
      .groupBy($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"),
        $"p.n_a".as("n_a"), $"p.n_b".as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_e4", expr("(10000 * inter) div least(n_a, n_b)"))
      .filter($"cont_e4" >= MinContainE4)
      .select($"doc_a", $"doc_b", $"inter", $"n_a", $"n_b", $"cont_e4")
  }

  private def containOracle: String =
    s"""WITH d0 AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |kg AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= $ContainK THEN
       |      list_transform(range(1, len(t) - ${ContainK - 2}),
       |        i -> array_to_string(t[i:i+${ContainK - 1}], ' '))
       |    ELSE [] END AS gs
       |  FROM d0),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |         CAST('0x' || substr(md5(gv), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(gs) AS gv FROM kg) x),
       |gn AS (
       |  SELECT doc_id, h,
       |         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_doc
       |  FROM g),
       |capped AS (${cappedCte("gn", "h")})
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(count(*) AS BIGINT) AS inter,
       |       max(a.n_doc) AS n_a, max(b.n_doc) AS n_b,
       |       (10000 * CAST(count(*) AS BIGINT))
       |         // least(max(a.n_doc), max(b.n_doc)) AS cont_e4
       |FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING (10000 * CAST(count(*) AS BIGINT))
       |         // least(max(a.n_doc), max(b.n_doc)) >= $MinContainE4""".stripMargin

  // ---- Edit-distance verified near-dup tier ----

  /** Chars of normalized prefix compared / minimum edit similarity
    * (1e4 grid) for a verified pair. Comparing fixed-width PREFIXES,
    * not whole documents, is the scale contract: Levenshtein is
    * O(len_a × len_b) PER PAIR, so full-document DP on arbitrary
    * candidates is a 100 TB non-starter; a 256-char window bounds every
    * verification at ~65k DP cells regardless of document size (the
    * "edit similarity of the head" gate code/corpus dedup pipelines
    * apply before any whole-document work).
    */
  val EditPrefixChars = 256
  val MinEditSimE4 = 8000L

  /** Edit-distance verified near-duplicate pairs: the simhash candidate
    * set ([[simhashPairs]] — pigeonhole-COMPLETE to hamming <= 3)
    * re-verified by exact Levenshtein over [[EditPrefixChars]]-char
    * prefixes. edit_sim_e4 = floor(1e4 · (1 − dist/maxlen)) computed
    * ENTIRELY in BIGINT (integer multiply + floor division) — no FP
    * ever crosses engines. Spark and DuckDB both ship a native
    * `levenshtein`, so the verify stays codegen'd here and the oracle
    * replays it bit-exactly.
    *
    * Scale shape: candidates arrive as a bucket-capped pair stream
    * (never a raw self-join); the verify is two doc_id-keyed joins of
    * that (small) pair set against the one-column prefix projection —
    * AQE broadcasts the pair side — then a per-row DP bounded by the
    * fixed window. One extra documents scan, no new data-scale
    * exchange beyond simhashPairs' own.
    */
  def editPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val prefs = Tables.documents(spark, d)
      .select($"doc_id", substring($"text", 1, EditPrefixChars).as("p"))
    simhashPairs(spark, d)
      .join(prefs.select($"doc_id".as("doc_a"), $"p".as("pa")), "doc_a")
      .join(prefs.select($"doc_id".as("doc_b"), $"p".as("pb")), "doc_b")
      .withColumn("dist", levenshtein($"pa", $"pb").cast("long"))
      .withColumn("mx", greatest(length($"pa"), length($"pb")).cast("long"))
      .filter($"mx" > 0L)
      .withColumn("edit_sim_e4", expr("(10000 * (mx - dist)) div mx"))
      .filter($"edit_sim_e4" >= MinEditSimE4)
      .select($"doc_a", $"doc_b", $"hamming", $"dist", $"edit_sim_e4")
  }

  private def editPairsOracle: String =
    s"""WITH pairs AS (SELECT * FROM ($simhashOracle) sp),
       |prefs AS (SELECT doc_id, substr(text, 1, $EditPrefixChars) AS p FROM documents),
       |v AS (
       |  SELECT pairs.doc_a, pairs.doc_b, pairs.hamming,
       |         CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist,
       |         CAST(greatest(length(a.p), length(b.p)) AS BIGINT) AS mx
       |  FROM pairs JOIN prefs a ON pairs.doc_a = a.doc_id
       |             JOIN prefs b ON pairs.doc_b = b.doc_id
       |  WHERE greatest(length(a.p), length(b.p)) > 0)
       |SELECT doc_a, doc_b, hamming, dist,
       |       (10000 * (mx - dist)) // mx AS edit_sim_e4
       |FROM v WHERE (10000 * (mx - dist)) // mx >= $MinEditSimE4""".stripMargin

  /** Blocking-quality evaluation of the MinHash-LSH candidate
    * generator against the blocked-Jaccard ≥ 0.5 ground truth — the
    * two numbers that justify ANY blocking scheme (Christen, "Data
    * Matching" ch. 7): pair completeness = |truth ∩ candidates| /
    * |truth| (recall of the blocker — what the S-curve analysis
    * promises, here MEASURED), and reduction ratio = 1 − |candidates|
    * / C(n,2) (how much of the quadratic pair space the blocker never
    * touches — the entire economic case for LSH at 100 TB).
    *
    * Shape: both pair pipelines are the catalog's existing
    * candidate-bounded dataflows; the eval adds one pair-keyed join of
    * two narrow (a, b) sets + three 1-row folds. C(n,2) is computed in
    * DECIMAL(38,0) (quadratic in corpus size — int64 overflows past
    * ~4.3e9 docs) and only then divided; ratios 6dp, guarded for the
    * empty-truth corpus.
    */
  def blockingEval(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    // both sides read the SHARED fitted frames (jaccardEdges /
    // minhashPairs registries) — already checkpointed there, so the
    // per-call Ckpt.cut this replaces was a second materialization of
    // each (r13); the graph family and dedup_minhash_pairs reuse the
    // same fits later in the catalog pass.
    val truth = jaccardEdges(spark, d)
      .select($"a".as("doc_a"), $"b".as("doc_b"))
    val cand = minhashPairs(spark, d)
      .select($"doc_a", $"doc_b")
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    val nH = truth.join(cand, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    val nD = Tables.documents(spark, d).agg(count(lit(1)).as("n_docs"))
    nD.crossJoin(broadcast(nT)).crossJoin(broadcast(nC))
      .crossJoin(broadcast(nH))
      .select(
        $"n_docs", $"n_truth", $"n_cand", $"n_hit",
        when($"n_truth" > 0L,
          round($"n_hit".cast("double") / $"n_truth".cast("double"), 6)
            + lit(0.0))
          .otherwise(lit(0.0)).as("pair_completeness"),
        // guard the C(n,2)=0 denominator like the n_truth one above:
        // a 0/1-doc corpus has no pair space to reduce — define 0.0
        when($"n_docs" > 1L,
          round(lit(1.0) - $"n_cand".cast("double") /
            (dec($"n_docs") * dec($"n_docs" - 1L) / dec(lit(2L)))
              .cast("double"), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("reduction_ratio"))
  }

  /** Per-source exact-duplicate profile — the dedup REPORT a curation
    * run publishes per upstream feed (which source is shipping
    * copies): per source its doc count, distinct normalized
    * fingerprints, the redundant-doc count (n − distinct), the dup
    * rate in exact per-mille (integer div), and the largest duplicate
    * clique. Two bounded aggregates over the (source, fingerprint)
    * table — fingerprint cardinality ≤ docs, map-side combined; no FP
    * anywhere.
    */
  def sourceDedupProfile(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, d)
      .groupBy($"source",
        sha2(TextAnalysis.normText($"text"), 256).as("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(
        sum($"c").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum($"c") - count(lit(1))).as("n_redundant"),
        max($"c").as("max_clique"))
      .select($"source", $"n_docs", $"n_distinct", $"n_redundant",
        expr("(n_redundant * 1000) div n_docs").as("dup_permille"),
        $"max_clique")
  }

  private def dedupProfileOracle: String =
    """WITH fp AS (
      |  SELECT source,
      |    sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(c) - count(*) AS BIGINT) AS n_redundant,
      |  CAST(((sum(c) - count(*)) * 1000) // sum(c) AS BIGINT)
      |    AS dup_permille,
      |  CAST(max(c) AS BIGINT) AS max_clique
      |FROM fp GROUP BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_dedup_profile" -> (sourceDedupProfile _),
    "dedup_containment" -> (containmentPairs _),
    "dedup_edit_pairs" -> (editPairs _),
    "dedup_exact" -> (exact _),
    "dedup_blocking_eval" -> (blockingEval _),
    "dedup_jaccard_pairs" -> (jaccardPairs _),
    "dedup_incremental_admit" -> (incrementalAdmission _),
    "dedup_incremental_pairs" -> (incrementalMinhashPairs _),
    "dedup_minhash_pairs" -> (minhashPairs _),
    "dedup_prefix_jaccard" -> (prefixJaccardPairs _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_span_extents" -> (spanExtents _),
    "dedup_span_scrub" -> (spanScrub _),
    "dedup_winnow_pairs" -> (winnowPairs _))

  /** Composes the jaccard-pair and minhash-pair oracle CTE chains and
    * folds the four counts + two ratios.
    */
  private def blockingEvalOracle: String =
    s"""WITH $jaccardPairCtes,
       |truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM jp WHERE jacc >= 0.5),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(len(t) - 2),
       |           i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
       |  FROM d0 WHERE len(t) >= 3),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS h
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |${bandBranches("doc_id", "sig")}),
       |cb AS (${cappedCte("bands", "band, band_key")}),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM cb a JOIN cb b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |       AND a.doc_id < b.doc_id),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
       |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
       |       FROM truth JOIN cand USING (doc_a, doc_b)),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT n_docs, n_truth, n_cand, n_hit,
       |  CASE WHEN n_truth > 0
       |       THEN round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
       |            + 0.0
       |       ELSE 0.0 END AS pair_completeness,
       |  CASE WHEN n_docs > 1
       |       THEN round(1.0 - CAST(n_cand AS DOUBLE) /
       |            CAST((CAST(n_docs AS HUGEINT) * (n_docs - 1)) // 2
       |                 AS DOUBLE), 6) + 0.0
       |       ELSE 0.0 END AS reduction_ratio
       |FROM nd, nt, nc, nh""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_containment" -> containOracle,
    "dedup_edit_pairs" -> editPairsOracle,
    "dedup_span_extents" -> spanOracle,
    "dedup_span_scrub" -> spanScrubOracle,
    "dedup_prefix_jaccard" -> prefixJaccardOracle,
    "dedup_incremental_pairs" -> incrMinhashOracle,
    "dedup_incremental_admit" -> incrAdmitOracle,
    "dedup_minhash_pairs" -> minhashOracle,
    "dedup_simhash_pairs" -> simhashOracle,
    "dedup_winnow_pairs" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
         |  FROM documents),
         |kg AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) >= $WinnowK THEN
         |      list_transform(range(1, len(t) - $WinnowK + 2),
         |        i -> CAST('0x' || substring(md5(array_to_string(t[i:i+${WinnowK - 1}], ' ')), 1, 8) AS BIGINT))
         |    ELSE CAST([] AS BIGINT[]) END AS kh
         |  FROM d0),
         |wn AS (
         |  SELECT doc_id,
         |    CASE WHEN len(kh) >= $WinnowW THEN
         |      list_distinct(list_transform(range(1, len(kh) - $WinnowW + 2),
         |        j -> list_aggregate(kh[j:j+${WinnowW - 1}], 'min')))
         |    ELSE CAST([] AS BIGINT[]) END AS fps
         |  FROM kg),
         |fp AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
         |capped AS (${cappedCte("fp", "fp")})
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared""".stripMargin,
    "source_dedup_profile" -> dedupProfileOracle,
    "dedup_exact" ->
      """SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |       min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""".stripMargin,
    "dedup_blocking_eval" -> blockingEvalOracle,
    "dedup_jaccard_pairs" ->
      s"""WITH $jaccardPairCtes
        |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, jacc FROM jp""".stripMargin)
}
