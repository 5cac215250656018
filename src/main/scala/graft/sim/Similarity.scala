package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftnative.Native
import graft.functions.{DotProduct, NearestCell}
import graft.Tables

/** Similarity search over the embeddings table (64-dim float vectors).
  *
  * The ANN family, coarse-to-fine:
  *   - exact brute-force cosine top-k ([[knnExact]]): the correctness
  *     baseline. The probe side is tiny and `broadcast()`; the candidate
  *     scan is ONE narrow pass — at 100 TB this is the classic "score
  *     everything against a small probe set" shape, embarrassingly
  *     parallel.
  *   - random-hyperplane LSH ANN ([[annLsh]]): L sign-bucket tables;
  *     probes compare only within shared buckets. Same bucketed-pairs
  *     discipline as Dedup (no raw cross join).
  *   - IVF ANN ([[annIvf]]): driver-fit Lloyd coarse quantizer, native
  *     [[graft.functions.NearestCell]] assignment, probe-ranked cells.
  *   - scalar-quantized KNN ([[knnQuantized]]): fitted per-dim quantile
  *     boundaries, native [[graft.functions.QuantCode]] coding, FP-free
  *     integer-dot ranking.
  *   - embedding near-dup pairs ([[embedDupPairs]]): exact cosine within
  *     IVF-cell blocks, bucket-capped.
  *
  * Cross-engine determinism: similarities are rounded to 4 decimals
  * BEFORE ranking and ties broken by vec_id, so rank order cannot depend
  * on last-ulp FP differences between Spark's aggregate() and DuckDB's
  * list_dot_product. Data-fitted constants (centroids, probe cells,
  * codebooks, boundaries) are fitted once per session as [[graft.Memo]]
  * entries ([[quantizer]], [[quantBounds]]) and embedded as literals in
  * the generated oracles.
  *
  * The ranking convention has one owner per engine. On Spark:
  * [[nativeDot]] (the in-order native dot), [[cosine]] (that dot over
  * the norm product, rounded to 4 dp), [[topK]] (one `row_number` per
  * query, score descending, ties on `neighbor_id`), [[exactRerank]]
  * (a shortlist re-scored with [[cosine]], top [[K]] kept), and the
  * [[withVec]] / [[probeVecs]] frames. On DuckDB: [[vecCtes]],
  * [[cosineSql]], [[rankedSql]] and [[rerankTail]]. A site states only
  * why it scores or ranks what it does; the convention itself lives here.
  */
object Similarity extends graft.Catalog {

  val K = 5
  val NumQueries = 10 // probe set: vec_id < 10
  val MmrShortlist = 16 // MMR candidate pool per query (pair matrix ≤ S²)
  val MmrK = 5 // MMR picks per query (unrolled greedy depth)

  /** Round-trip double literal for DuckDB SQL. `Double.toString` is the
    * shortest repr that round-trips through IEEE parse — but a bare
    * decimal literal parses as DECIMAL in DuckDB, and its
    * decimal→double conversion is NOT correctly rounded (measured ~1ulp
    * off: scaled-int × 10^-s evaluated in double space), which flips
    * exact boundary comparisons. The `e0` suffix forces the literal
    * through the correctly-rounded DOUBLE parser, recovering the
    * identical bits.
    */
  private[sim] def dlit(x: Double): String = {
    val s = x.toString
    if (s.indexOf('E') >= 0 || s.indexOf('e') >= 0) s else s + "e0"
  }
  // Multi-table LSH: L tables of k planes each. One 2^64-bucket table
  // would isolate every vector; L smaller tables trade memory for recall
  // (collision prob per table = (1 - theta/pi)^k, union over L tables).
  // Tuned for the testdata regime (top-neighbor cosine ~0.35 => per-plane
  // collision ~0.61): k=6, L=16 gives ~0.6 expected recall while probing
  // ~20% of candidates per query.
  val LshTables = 16
  val PlanesPerTable = 6
  val NumPlanes = LshTables * PlanesPerTable

  /** dot(a, b) via zip_with + left-to-right aggregate — the composable
    * formulation. Interpreted (higher-order lambdas don't codegen);
    * retained as the reference implementation the native expression is
    * tested against.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Hot paths use the native codegen'd [[graft.functions.DotProduct]]
    * (same left-to-right summation order, so oracle parity holds).
    */
  private[sim] def nativeDot(a: Column, b: Column): Column = Native(es => DotProduct(es(0), es(1)), a, b)

  /** The catalog cosine: rounded to 4 dp before anything ranks on it. */
  private[sim] def cosine(q: Column, qn: Column, c: Column, cn: Column): Column =
    round(nativeDot(q, c) / (qn * cn), 4)

  /** The top `k` rows per `keys` by `score` descending, ties to the
    * lower `neighbor_id`, ranked 1.. in the long column `rk`.
    */
  private[sim] def topK(
      scored: DataFrame,
      score: String,
      k: Int,
      keys: Seq[String] = Seq("query_id")): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(score).desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Exact rerank of a (query_id, neighbor_id) shortlist: both sides
    * broadcast against the candidate vectors of `e`, so no vector
    * shuffles; the probe frame is a parameter because IVF-PQ's is a
    * local relation built from the quantizer's sample.
    */
  private def exactRerank(e: DataFrame, shortlist: DataFrame, probeVecs: DataFrame): DataFrame = {
    val scored = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("norm").as("cnorm"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(probeVecs), Seq("query_id"))
      .withColumn("sim", cosine(col("qv"), col("qnorm"), col("cv"), col("cnorm")))
    topK(scored, "sim", K).select("query_id", "neighbor_id", "rk", "sim")
  }

  /** The embeddings as `v` (array<double>) with their L2 `norm`. */
  private[sim] def withVec(df: DataFrame): DataFrame = {
    df.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("norm", sqrt(nativeDot(col("v"), col("v"))))
  }

  /** The probe vectors (vec_id < NumQueries) of a [[withVec]] frame. */
  private[sim] def probeVecs(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))

  /** Per-vector L2 norm + dimensionality — the normalization pass every
    * embedding pipeline runs before cosine retrieval (norm=0 guards,
    * unit-scaling, dim sanity). The sum of squares runs through the
    * native in-order [[graft.functions.DotProduct]], so the FP sequence
    * matches DuckDB's list_dot_product term for term (proven bit-exact
    * in round 1); one narrow scan, no shuffle.
    */
  def embedNorms(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    withVec(Tables.embeddings(spark, d))
      .select(
        $"vec_id",
        $"label".cast("long").as("label"),
        size($"v").cast("long").as("n_dims"),
        round($"norm", 6).as("l2_norm"))
  }

  /** The broadcast-probe scoring scaffold: every probe
    * (vec_id < NumQueries) scored against every candidate —
    * (query_id, qlabel, neighbor_id, clabel, sim). Shared by
    * [[knnExact]] and [[tripletMine]].
    */
  private def probeScores(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = withVec(Tables.embeddings(spark, d))
      .withColumn("label", $"label".cast("long"))
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"label".as("qlabel"),
        $"v".as("qv"), $"norm".as("qnorm"))
    val c = e.select($"vec_id".as("neighbor_id"), $"label".as("clabel"),
      $"v".as("cv"), $"norm".as("cnorm"))
    c.crossJoin(broadcast(q))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("sim", cosine($"qv", $"qnorm", $"cv", $"cnorm"))
      .select($"query_id", $"qlabel", $"neighbor_id", $"clabel", $"sim")
  }

  /** Exact cosine top-K for each probe vector (DuckDB-oracled). */
  def knnExact(spark: SparkSession, d: String): DataFrame =
    topK(probeScores(spark, d), "sim", K).select("query_id", "neighbor_id", "rk", "sim")

  /** Deterministic ±1 hyperplane matrix (seeded). */
  private val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(NumPlanes)(Seq.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** The native all-tables bucket hasher over the plane matrix. */
  def lshBuckets(es: Seq[Expression]): Expression =
    graft.functions.LshBuckets(es.head, planes.map(_.toArray).toArray, PlanesPerTable)

  /** (vec_id, v, norm, tbl, bucket) rows for every vector. All 96 plane
    * dots and the L bucket ids come from ONE native expression
    * ([[graft.functions.LshBuckets]]) holding the plane matrix as a
    * referenced object — the per-plane dot_f64-against-literal-array
    * formulation generated thousands of lines of projection code
    * (~2 s cold codegen per query); this is a single fused loop with
    * identical bit-for-bit bucket ids.
    */
  private def bucketRows(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"vec_id", $"v", $"norm",
      posexplode(Native(lshBuckets, $"v")).as(Seq("tbl", "bucket")))
  }

  /** ANN top-K: probes compare only against candidates sharing a bucket
    * in at least one of the L tables. The similarity is computed BEFORE
    * the cross-table dedup so distinct() shuffles three narrow columns,
    * not two 64-dim vectors per pair. Rows-only driver check;
    * SimilaritySpec measures recall against knnExact.
    */
  def annLsh(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = withVec(Tables.embeddings(spark, d))
    val buckets = bucketRows(e)
    val q = buckets.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"norm".as("qnorm"), $"tbl", $"bucket")
    val c = buckets
      .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"norm".as("cnorm"), $"tbl", $"bucket")
    val pairs = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("sim", cosine($"qv", $"qnorm", $"cv", $"cnorm"))
      .select($"query_id", $"neighbor_id", $"sim")
      .distinct() // a pair may collide in several tables
    topK(pairs, "sim", K).select("query_id", "neighbor_id", "rk", "sim")
  }

  /** Cap on the size of a dedup blocking cell: a cell over the cap is
    * dropped rather than allowed to go quadratic — the same hard-bound
    * discipline as Dedup's MaxBucket. At production scale the cell
    * count (IvfCells) grows with the corpus so blocks stay near
    * corpus/cells; the cap is the backstop against a degenerate
    * quantizer cell absorbing everything.
    */
  val MaxCellBlock = 2000

  /** ONE implementation of "fit the quantizer, assign every vector to
    * its cell, drop over-cap cells" — the shared front half of every
    * cell-blocked operator ([[embedDupPairs]], [[crossLabelMutual]]).
    * Returns the capped (cell, vec_id, label, v, norm) frame,
    * MATERIALIZED once (localCheckpoint): the scan + assignment subplan
    * feeds the cap aggregate AND both sides of the caller's self-join —
    * without the barrier Catalyst would execute it three times,
    * tripling the dominant cost at scale (same discipline as
    * minhashPairs' sigs). The centroids are the session's [[quantizer]].
    * The bucket-cap is a tiny (IvfCells-row) aggregate broadcast back
    * as a semi-filter — no window over the low-cardinality cell key.
    */
  private def cappedCells(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cents = quantizer(spark, d).cents
    val nearestCell = Native(es => NearestCell(es.head, cents), $"v")
    val assigned = withVec(Tables.embeddings(spark, d))
      .withColumn("cell", nearestCell)
      .select($"cell", $"vec_id", $"label".cast("long").as("label"), $"v", $"norm")
      .transform(graft.Ckpt.cut)
    val keep = assigned.groupBy($"cell")
      .agg(count(lit(1)).as("csz"))
      .filter($"csz" <= MaxCellBlock)
      .select($"cell")
    assigned.join(broadcast(keep), "cell")
  }

  /** Embedding-cosine near-duplicate pairs (the dedup tier above
    * MinHash): exact pairwise cosine within IVF-CELL blocks — the same
    * coarse quantizer the ANN tier fits assigns every vector to its
    * nearest centroid (one narrow native [[graft.functions.NearestCell]]
    * pass), and pairs are generated only within a cell, with
    * [[MaxCellBlock]] bounding the quadratic term. Cell blocking keys on
    * actual vector geometry, so the block count scales with the fitted
    * cell count instead of an incidental low-cardinality label column
    * (whose blocks are O(n²/labels) at scale). DuckDB-oracled via the
    * [[quantizer]]'s centroids.
    */
  def embedDupPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val capped = cappedCells(spark, d)
    val a = capped.select($"cell", $"vec_id".as("vec_a"), $"v".as("qv"), $"norm".as("qnorm"))
    val b = capped.select($"cell", $"vec_id".as("vec_b"), $"v".as("cv"), $"norm".as("cnorm"))
    a.join(b, "cell")
      .filter($"vec_a" < $"vec_b")
      .withColumn("sim", cosine($"qv", $"qnorm", $"cv", $"cnorm"))
      .filter($"sim" >= 0.3)
      .select($"vec_a", $"vec_b", $"cell".cast("long").as("cell"), $"sim")
  }

  /** SemDeDup pruning threshold. The synthetic corpus' within-cell
    * cosine tops out near 0.49 at test SFs (see [[embedDupPairs]]'
    * 0.3 floor), so 0.35 exercises a real removed set; production runs
    * tune ε per corpus (the paper sweeps it against downstream loss).
    */
  val SemDedupEps = 0.35

  /** SemDeDup — semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): the dedup tier ABOVE pairwise near-dup listing.
    * Assign every vector to a k-means cell (the same fitted coarse
    * quantizer as the dedup/ANN tiers), compute each vector's cosine to
    * its OWN cell centroid, and inside each cell prune duplicate
    * neighborhoods down to their LOWEST-centroid-cosine member (the
    * paper's keep rule: edge points survive, prototypical near-copies
    * drop), expressed as deterministic pairwise dominance: x is removed iff
    * some same-cell y with (ccos_y, vec_id_y) < (ccos_x, vec_id_x)
    * lexicographically has sim(x, y) ≥ ε. Dominance compares the rounded
    * [[cosine]]s, so the order is bit-stable across engines.
    *
    * Scale shape: one narrow assignment scan, a broadcast join to the
    * bounded centroid table, and the [[MaxCellBlock]]-capped within-cell
    * quadratic — identical cost envelope to [[embedDupPairs]]; the
    * scored frame is localCheckpointed once and feeds both sides of the
    * dominance join, whose LEFT-OUTER + per-vector fold produces the
    * verdict in one pass. Emits one row per capped vector:
    * (vec_id, cell, ccos, removed 0/1).
    */
  def semDedup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val capped = cappedCells(spark, d)
    val cents = quantizer(spark, d).cents
    val cn2 = graft.functions.NearestCell.cn2Of(cents)
    // centroid norms come from the SAME cn2 doubles the oracle embeds as
    // literals, so both engines divide by the identical constant
    val centsDf = cents.indices
      .map(i => (i, cents(i), math.sqrt(cn2(i))))
      .toDF("cell", "cv", "cnorm")
    val scored = capped.join(broadcast(centsDf), "cell")
      .withColumn("ccos", cosine($"v", $"norm", $"cv", $"cnorm"))
      .select($"cell", $"vec_id", $"v", $"norm", $"ccos")
      .transform(graft.Ckpt.cut)
    val a = scored.select($"cell".as("ca"), $"vec_id".as("vec_a"), $"v".as("av"),
      $"norm".as("an"), $"ccos".as("ccos_a"))
    val b = scored.select($"cell".as("cb"), $"vec_id".as("vec_b"), $"v".as("bv"),
      $"norm".as("bn"), $"ccos".as("ccos_b"))
    // LEFT OUTER with the full dominance predicate in the join condition,
    // then fold per vector: one shuffle fewer than distinct-then-join,
    // and the verdict set crosses the wire once, not twice
    val cond = $"ca" === $"cb" && $"vec_a" =!= $"vec_b" &&
      cosine($"av", $"an", $"bv", $"bn") >= SemDedupEps &&
      ($"ccos_b" < $"ccos_a" ||
        ($"ccos_b" === $"ccos_a" && $"vec_b" < $"vec_a"))
    a.join(b, cond, "left_outer")
      .groupBy($"vec_a".as("vec_id"), $"ca".cast("long").as("cell"),
        $"ccos_a".as("ccos"))
      .agg(max(when($"vec_b".isNotNull, 1L).otherwise(0L)).as("removed"))
  }

  /** Training-triplet mining for metric learning — per probe anchor:
    * the nearest SAME-label vector (positive) and the nearest
    * DIFFERENT-label vector (the HARD negative — the highest-similarity
    * wrong-label candidate, the one that actually moves a contrastive
    * loss), plus the margin between them. One broadcast probe pass
    * (the [[knnExact]] shape), one window partitioned on
    * (query_id, same-label?) — two rows survive per anchor and pivot
    * into one via single-row max-of-struct (no ordering subtlety: the
    * rank filter leaves at most one non-null struct per side).
    * Fully oracle-able.
    */
  def tripletMine(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val scored = probeScores(spark, d)
      .withColumn("same", $"clabel" === $"qlabel")
      .select($"query_id", $"qlabel", $"neighbor_id", $"sim", $"same")
    topK(scored, "sim", 1, Seq("query_id", "same"))
      .groupBy($"query_id", $"qlabel".as("anchor_label"))
      .agg(
        max(when($"same", struct($"neighbor_id", $"sim"))).as("p"),
        max(when(!$"same", struct($"neighbor_id", $"sim"))).as("n"))
      .select($"query_id", $"anchor_label",
        $"p.neighbor_id".as("positive_id"), $"p.sim".as("sim_pos"),
        $"n.neighbor_id".as("negative_id"), $"n.sim".as("sim_neg"),
        round($"p.sim" - $"n.sim", 4).as("margin"))
  }

  /** Cross-label MUTUAL nearest neighbors — the bitext/aligned-pair
    * mining shape (LASER/CCMatrix): labels play the two corpora
    * (languages), and a pair is emitted only when each side is the
    * other's best candidate — the standard mutual-NN filter that kills
    * hub matches a one-directional top-1 keeps. Candidates come from
    * shared IVF cells (the same fitted coarse quantizer as the dedup
    * tier, [[MaxCellBlock]]-capped), so no label-cross is ever
    * all-pairs; the two mutual-rank windows partition on
    * (vec, other-label) — high-cardinality by construction — and break
    * ties on the other side's vec_id. The DuckDB twin replays the fitted
    * centroids as literals.
    */
  def crossLabelMutual(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val capped = cappedCells(spark, d)
    val a = capped.select($"cell", $"vec_id".as("vec_a"), $"label".as("label_a"),
      $"v".as("qv"), $"norm".as("qnorm"))
    val b = capped.select($"cell", $"vec_id".as("vec_b"), $"label".as("label_b"),
      $"v".as("cv"), $"norm".as("cnorm"))
    val wa = Window
      .partitionBy($"vec_a", $"label_b").orderBy($"sim".desc, $"vec_b")
    val wb = Window
      .partitionBy($"vec_b", $"label_a").orderBy($"sim".desc, $"vec_a")
    a.join(b, "cell")
      .filter($"label_a" < $"label_b")
      .withColumn("sim", cosine($"qv", $"qnorm", $"cv", $"cnorm"))
      .select($"label_a", $"label_b", $"vec_a", $"vec_b", $"sim")
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter($"ra" === 1 && $"rb" === 1)
      .select($"label_a", $"label_b", $"vec_a", $"vec_b", $"sim")
  }

  /** DuckDB twin of [[crossLabelMutual]] over the fitted centroids. */
  private def xlabelOracle(cents: Array[Array[Double]]): String =
    s"""${cappedCellCtes(cents)},
       |cross_pairs AS (
       |  SELECT a.label AS label_a, b.label AS label_b,
       |         a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${cosineSql("a.v", "a.norm", "b.v", "b.norm")} + 0.0 AS sim
       |  FROM capped a JOIN capped b ON a.cell = b.cell AND a.label < b.label),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY vec_a, label_b
       |                       ORDER BY sim DESC, vec_b) AS ra,
       |    row_number() OVER (PARTITION BY vec_b, label_a
       |                       ORDER BY sim DESC, vec_a) AS rb
       |  FROM cross_pairs)
       |SELECT label_a, label_b, vec_a, vec_b, sim
       |FROM ranked WHERE ra = 1 AND rb = 1""".stripMargin

  // ---- IVF (inverted-file) ANN ----

  val IvfCells = 16
  val IvfProbes = 4

  /** Max vectors the quantizer trains on (driver-side sample). */
  val TrainCap = 16384

  /** Bounded driver-side training sample, sorted by vec_id so the probe
    * vectors (vec_id < NumQueries) are always present.
    */
  private def trainSample(e: DataFrame): Array[(Long, Array[Double])] =
    e.select(col("vec_id"), col("v"))
      .sort(col("vec_id")).limit(TrainCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Deterministic Lloyd k-means on a bounded in-memory sample — the
    * standard IVF recipe (FAISS trains its quantizer on a sample too):
    * collecting TrainCap 64-dim vectors is ~8 MB regardless of table
    * size, the distributed work stays in the assignment pass. Spark ML's
    * KMeans on the full table spent ~3 s of scheduler overhead
    * clustering 2000 rows; the local fit is microseconds and exactly
    * reproducible (`seed`ed init, 5 fixed iterations, ties to the lowest
    * cell index, an emptied cell keeps its centroid). Fits both the IVF
    * coarse cells and each PQ subspace's codebook.
    */
  private def lloyd(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    val cents = Array.fill(k)(points(rnd.nextInt(points.length)).clone())
    val assign = new Array[Int](points.length)
    for (_ <- 0 until 5) {
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d2 = 0.0; var j = 0
          val cv = cents(c); val x = points(i)
          while (j < dim) { val df = x(j) - cv(j); d2 += df * df; j += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var n = 0
      while (n < points.length) {
        val c = assign(n); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += points(n)(j); j += 1 }
        n += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
    }
    cents
  }

  /** Squared L2 to each centroid via -2·v·c + |c|² (the |v|² term is
    * constant per vector): DELEGATES to NearestCell.scores — the same
    * function object the expression's per-row argmin calls — so the
    * driver-side probe ranking and the executor-side assignment agree
    * bit for bit by construction (also pinned by the parity test).
    */
  private def cellScores(v: Array[Double], cents: Array[Array[Double]]): Array[Double] =
    graft.functions.NearestCell.scores(v, cents, graft.functions.NearestCell.cn2Of(cents))

  /** A dataset's coarse quantizer, fitted on ONE bounded [[trainSample]]:
    * the Lloyd centroids, the PQ codebooks, and the probe vectors
    * (vec_id < NumQueries) with their norms. Every fit is deterministic
    * (sorted capped sample, fixed seeds, fixed iterations).
    */
  final class Quantizer(sample: Array[(Long, Array[Double])]) {
    private val points = sample.map(_._2)
    val cents: Array[Array[Double]] = lloyd(points, IvfCells, 42)
    /** One [[PqCentroids]]-entry codebook per PQ subspace. */
    val books: Array[Array[Array[Double]]] = Array.tabulate(PqSubspaces) { m =>
      lloyd(points.map(v => java.util.Arrays.copyOfRange(v, m * PqSubDim, (m + 1) * PqSubDim)),
        PqCentroids, 42 + m)
    }
    /** (query_id, v, |v|), the norm summed in index order. */
    val queries: Seq[(Long, Array[Double], Double)] =
      sample.toSeq.filter(_._1 < NumQueries)
        .map { case (id, v) => (id, v, math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))) }

    /** Each probe's `probes` nearest cells, ranked locally by
      * (d2 asc, cell asc): (query_id, cell, qv, qnorm).
      */
    def probeRows(probes: Int): Seq[(Long, Int, Seq[Double], Double)] =
      queries.flatMap { case (id, v, qnorm) =>
        cellScores(v, cents).zipWithIndex
          .sortBy { case (d2, c) => (d2, c) }
          .take(probes)
          .map { case (_, c) => (id, c, v.toSeq, qnorm) }
      }

    /** The default-probe ([[IvfProbes]]) probe→cell pairs. */
    val probes: Seq[(Long, Int)] = probeRows(IvfProbes).map { case (id, c, _, _) => (id, c) }
  }

  /** The session's quantizer for a dataset, a [[graft.Memo]]: every
    * IVF-family query and its oracle read this one fit.
    */
  def quantizer(spark: SparkSession, d: String): Quantizer =
    graft.Memo(spark, ("ivf_quantizer", d)) {
      new Quantizer(trainSample(withVec(Tables.embeddings(spark, d))))
    }

  /** IVF ANN top-K: candidates are assigned to their nearest centroid by
    * the native [[graft.functions.NearestCell]] expression — a narrow
    * codegen'd pass with NO join, window, or shuffle (the previous
    * 16-way cross join + rank window ran twice, once per consumer). The
    * probe side (NumQueries vectors) ranks its IvfProbes cells on the
    * driver, next to the quantizer fit, and broadcasts ~40 rows. The
    * only shuffles left are the narrow cross-table distinct and the
    * final per-query top-k. Rows-only driver check; recall measured in
    * SimilaritySpec.
    *
    * `probes`/`k` parameterize the recall/cost knob (nprobe) and the
    * result depth: the catalog query runs the defaults; SimilaritySpec
    * sweeps probes on a synthetic clustered corpus and pins the
    * recall-vs-probes curve (recall@10 >= 0.8 at probes=4, exact at
    * probes=IvfCells — probing every cell IS brute force).
    */
  def annIvf(
      spark: SparkSession,
      d: String,
      probes: Int = IvfProbes,
      k: Int = K): DataFrame = {
    import spark.implicits._
    val q = quantizer(spark, d)
    val nearestCell = Native(es => NearestCell(es.head, q.cents), $"v")
    val cand = withVec(Tables.embeddings(spark, d))
      .withColumn("cell", nearestCell)
      .select($"vec_id".as("neighbor_id"), $"v".as("cv"), $"norm".as("cnorm"), $"cell")
    val probesDf = broadcast(q.probeRows(probes).toDF("query_id", "cell", "qv", "qnorm"))
    // no distinct needed: each candidate has exactly ONE cell and a
    // probe's IvfProbes cells are distinct, so a (query, neighbor) pair
    // joins at most once — unlike the LSH path where a pair can collide
    // in several tables
    val pairs = cand.join(probesDf, "cell")
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("sim", cosine($"qv", $"qnorm", $"cv", $"cnorm"))
    topK(pairs, "sim", k).select("query_id", "neighbor_id", "rk", "sim")
  }

  /** Quantile-quantized KNN — the scalar-quantization (SQ) compression
    * tier of the ANN family: every dimension is bucketed into
    * [[QuantBuckets]] per-dim quantile codes, vectors become small-int
    * code arrays (4 bits/dim here vs 32-bit floats = 8x memory), and
    * ranking uses the INTEGER dot product of code vectors — which makes
    * the whole query FP-free and therefore bit-exact across engines (no
    * round-before-rank needed, unique ints break ties by neighbor_id).
    *
    * Codes are CENTERED (2*raw - (B+1), odd grid ±(B-1)) before the
    * dot: raw 1..B codes share a large positive mean, and the mean×sum
    * cross-terms swamp the correlation signal (measured recall@5 0.06
    * raw vs 0.62 centered on this corpus).
    *
    * The quantizer is approx_percentile BOUNDARY VECTORS + comparison
    * bucketing: one bounded-sketch aggregate fits (B-1) boundaries per
    * dimension (constant state per dim at any scale), the driver
    * collects the 64×(B-1) matrix, and the native
    * [[graft.functions.QuantCode]] expression codes every vector in one
    * narrow scan — NO shuffle anywhere in the coding path. (The previous
    * formulation — ntile over Window.partitionBy(dim) — put the whole
    * corpus into each of 64 window partitions: unbounded state at scale,
    * plus a posexplode and a regroup shuffle. It survives only as the
    * spec's cross-check.) Probe×candidate scoring is the same broadcast
    * shape as [[knnExact]]; the generated DuckDB oracle embeds the fitted
    * boundaries ([[quantBounds]]), same technique as the IVF centroids.
    *
    * RESOLUTION CONTRACT (SimilaritySpec pins both halves): 4-bit codes
    * rank reliably only down to sim deltas of the quantization step —
    * they separate CLUSTERS perfectly (cross-cluster leakage 0 on the
    * clustered spec corpus) but genuinely tie within a tight cluster
    * (integer dots equal ⇒ neighbor_id order; recall@5 vs exact fine
    * ranking ~0.04 there, ~0.62 on the spread fixture). That is the
    * inherent SQ trade, not a code-book defect: the production pattern
    * is shortlist-by-code then exact-rerank the top R, which is
    * [[knnRerank]] (`embed_knn_rerank` in the catalog) — SimilaritySpec
    * pins its recall@K ≥ 0.9 on the exact corpus where raw codes tie.
    */
  val QuantBuckets = 16

  /** approx_percentile accuracy: at sketch sizes >= the per-dim row
    * count the boundaries are exact; at 100 TB the sketch stays bounded
    * and the codes shift only within sketch error — the oracle always
    * matches because it replays whatever boundaries THIS run fitted.
    */
  val QuantAccuracy = 10000

  /** Driver-side boundary fit: (B-1) per-dim quantile boundaries from
    * ONE partial+final aggregate over the exploded (dim, v) pairs —
    * 64 t-digest-style sketches, constant memory per group.
    */
  private def fitQuantBounds(spark: SparkSession, d: String): Array[Array[Double]] = {
    import spark.implicits._
    val pcts = (1 until QuantBuckets).map(i => i.toDouble / QuantBuckets)
    val rows = Tables.embeddings(spark, d)
      .select(posexplode($"embedding".cast("array<double>")).as(Seq("dim", "v")))
      .groupBy($"dim")
      .agg(expr(s"approx_percentile(v, array(${pcts.mkString(",")}), $QuantAccuracy)").as("b"))
      .collect()
    val out = new Array[Array[Double]](rows.length)
    rows.foreach(r => out(r.getInt(0)) = r.getSeq[Double](1).toArray)
    out
  }

  /** The session's boundary fit for a dataset, a [[graft.Memo]]:
    * [[knnQuantized]], [[knnRerank]] and their oracles share it.
    */
  def quantBounds(spark: SparkSession, d: String): Array[Array[Double]] =
    graft.Memo(spark, ("quant_bounds", d))(fitQuantBounds(spark, d))

  /** The coded-vector table (vec_id, q) — the fit + one narrow coding
    * scan. Exposed for the parity spec; [[knnQuantized]] builds on it.
    */
  def knnQuantizedCodes(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val bounds = quantBounds(spark, d)
    val quantCode = Native(es => graft.functions.QuantCode(es.head, bounds),
      expr("cast(embedding as array<double>)"))
    Tables.embeddings(spark, d)
      .select($"vec_id", quantCode.as("q"))
  }

  def knnQuantized(spark: SparkSession, d: String): DataFrame =
    topK(codeScores(knnQuantizedCodes(spark, d)), "score", K)
      .select("query_id", "neighbor_id", "rk", "score")

  /** Every probe's integer code dot against every other coded vector:
    * (neighbor_id, query_id, score), the broadcast shape of [[knnExact]].
    */
  private def codeScores(codes: DataFrame): DataFrame = {
    val probes = codes.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    codes.select(col("vec_id").as("neighbor_id"), col("q").as("cq"))
      .crossJoin(broadcast(probes))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", nativeDot(col("qq"), col("cq")).cast("long"))
  }

  /** Shortlist depth for the SQ→exact composite: wide enough to cover
    * the whole tie set 4-bit codes produce inside a tight cluster
    * (integer dots equal there, so the true top-K hides anywhere in the
    * tied run), small enough that the exact rerank touches
    * NumQueries×R rows — noise next to the corpus scan.
    */
  val RerankShortlist = 50

  /** SQ shortlist → exact rerank — the production composition the
    * [[knnQuantized]] scaladoc promises: 4-bit integer-dot scoring
    * generates a cheap [[RerankShortlist]]-deep candidate list per
    * probe (8× less memory traffic than float scoring — at 100 TB the
    * code table is what fits in page cache), then ONLY those pairs are
    * re-scored exactly ([[exactRerank]]).
    *
    * Scale shape: one coded-corpus scan for the shortlist (broadcast
    * probe codes), then one full-vector scan joined against the
    * BROADCAST shortlist (NumQueries×R id pairs) — no shuffle of
    * vectors anywhere; both windows rank bounded per-probe sets.
    * SimilaritySpec pins recall@K ≥ 0.9 vs exact on the clustered
    * corpus where raw SQ fine-ranking bottoms out at ~0.04 — the
    * measured proof that the rerank recovers what quantization ties
    * away.
    */
  def knnRerank(spark: SparkSession, d: String): DataFrame = {
    val shortlist = topK(codeScores(knnQuantizedCodes(spark, d)), "score", RerankShortlist)
      .select("query_id", "neighbor_id")
    val e = withVec(Tables.embeddings(spark, d))
    exactRerank(e, shortlist, probeVecs(e))
  }

  /** Johnson–Lindenstrauss random projection: target dimensionality of
    * the ±1 (Achlioptas) projection. 64 → 16 keeps pairwise inner
    * products within JL distortion while cutting shortlist-scoring
    * memory traffic 4× — the fourth compression scheme of the ANN tier
    * (dense dims, vs SQ's quantized dims, PQ's codebooks, LSH's bits).
    */
  val RpDims = 16

  /** Deterministic ±1 projection matrix (seeded; a compile-time
    * constant, so the DuckDB oracle can embed it as list literals the
    * way [[annLshOracle]] embeds the hyperplanes).
    */
  private val rpRows: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(11)
    Seq.fill(RpDims)(Seq.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  private def rpLit: Column = expr(
    "array(" + rpRows.map(r =>
      "array(" + r.map(x => x.toString + "D").mkString(",") + ")")
      .mkString(",") + ")")

  /** Random-projection shortlist → exact rerank: every vector carries a
    * 16-dim JL sketch p = round(R·v, 4) computed in ONE builtin
    * `transform` over the literal matrix (codegen'd, no UDF; 4dp
    * round makes the sketch bit-identical across engines). The
    * shortlist scores probes against sketches with the native dot —
    * 4× less data touched than full vectors — then only the
    * [[RerankShortlist]] survivors are re-scored by [[exactRerank]].
    * Same composite shape as [[knnRerank]]:
    * one sketch scan + one vector scan joined to the broadcast
    * shortlist; nothing 64-dim ever shuffles. At 100 TB the sketch
    * column is what you materialize next to the parquet — a 4×-smaller
    * hot set that serves every downstream ANN pass.
    */
  def knnRp(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = withVec(Tables.embeddings(spark, d))
      .withColumn("p", transform(rpLit, r => round(dot($"v", r), 4)))
    val probes = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"p".as("qp"))
    val scored = e.select($"vec_id".as("neighbor_id"), $"p".as("cp"))
      .crossJoin(broadcast(probes))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("pscore", nativeDot($"qp", $"cp"))
    val shortlist = topK(scored, "pscore", RerankShortlist).select("query_id", "neighbor_id")
    exactRerank(e, shortlist, probeVecs(e))
  }

  /** DuckDB twin of [[knnRp]]: the same literal matrix, sketch, 4dp
    * coordinate round, shortlist, and exact-rerank tail.
    */
  private def knnRpOracle: String = {
    val rLit = "[" + rpRows.map(r => "[" + r.mkString(",") + "]").mkString(",") + "]"
    s"""WITH $vecCtes,
       |np AS (SELECT vec_id, list_transform($rLit::DOUBLE[][],
       |                        r -> round(list_dot_product(v, r), 4)) AS p
       |       FROM e),
       |ps AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.p, c.p) AS pscore
       |  FROM np q JOIN np c ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id),
       |${rerankTail("ps", "pscore")}""".stripMargin
  }

  /** Product quantization — the third compression scheme of the ANN
    * tier (FAISS's workhorse next to IVF coarse cells and the scalar
    * quantizer): the 64-dim vector splits into [[PqSubspaces]] 8-dim
    * subvectors, each coded against its own [[PqCentroids]]-centroid
    * codebook (k-means on the same bounded train sample the IVF fit
    * uses), so a vector stores as 8 six-bit codes instead of 64
    * doubles — ~85× compression. Codebook size matters: at 16 centroids
    * per subspace the codes collapse to cluster identifiers on a
    * clustered corpus (every member of a tight cluster shares all 8
    * nearest sub-centroids and ties — recall 0.08, the SQ-tie
    * phenomenon amplified); 64 centroids resolve within-cluster
    * variation and recall jumps — the measured form of the "PQ needs
    * multi-bit codebooks" rule (production FAISS defaults to 8-bit).
    *
    * Retrieval reconstructs each candidate from its codebook entries
    * (xhat = concat of the coded centroids) and ranks by rounded
    * reconstructed cosine against the RAW probe (asymmetric scoring,
    * the standard ADC form) — probe-side precision is free, only the
    * corpus side is compressed. Code assignment reuses the native
    * [[graft.functions.NearestCell]] argmin per subspace (ties to the
    * lowest code, the IVF discipline), and reconstruction is a pure
    * literal lookup (element_at on the codebook literal), so the whole
    * coding + reconstruction pass is ONE narrow codegen'd scan — no
    * shuffle until the top-K window. The DuckDB oracle replays
    * assignment/reconstruction/ranking from the [[quantizer]]'s codebook
    * literals exactly as the IVF/SQ oracles do.
    */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCentroids = 64

  /** Adds `xhat`/`xnorm` (PQ-coded-and-reconstructed vector + norm) to a
    * frame carrying `v`, keeping every existing column: 8 per-subspace
    * NearestCell argmins on slices, then a literal codebook lookup per
    * code — still one narrow codegen'd pass over the input, whatever
    * else the frame carries (the IVF cell column, for the composite).
    */
  private def withPqRecon(
      spark: SparkSession,
      df: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val codeCols = (0 until PqSubspaces).map { m =>
      Native(es => NearestCell(es.head, books(m)),
        slice($"v", m * PqSubDim + 1, PqSubDim)).as(s"c$m")
    }
    val coded = df.select((df.columns.map(col).toSeq ++ codeCols): _*)
    val xhat = flatten(array((0 until PqSubspaces).map { m =>
      element_at(typedLit(books(m).map(_.toSeq).toSeq), col(s"c$m") + 1)
    }: _*))
    coded
      .withColumn("xhat", xhat)
      .withColumn("xnorm", sqrt(nativeDot($"xhat", $"xhat")))
      .drop((0 until PqSubspaces).map(m => s"c$m"): _*)
  }

  /** The coded-and-reconstructed corpus (vec_id, xhat, xnorm). Exposed
    * for the parity spec.
    */
  def pqReconstructed(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    withPqRecon(spark, withVec(Tables.embeddings(spark, d)), quantizer(spark, d).books)
      .select($"vec_id", $"xhat", $"xnorm")
  }

  /** PQ top-K in the production composition (IVF-PQ's retrieval half):
    * ADC shortlist — raw probe against the reconstructed corpus, top
    * [[RerankShortlist]] by rounded reconstructed cosine — then exact
    * rerank of the shortlist, the [[knnRerank]] discipline. Raw PQ
    * fine-ranking ties inside tight clusters exactly like the scalar
    * quantizer (measured recall@5 0.26 at 64 centroids on this 10-
    * cluster fixture; 0.08 at 16); the shortlist covers the tie set and
    * the exact pass recovers the order — SimilaritySpec pins the
    * composite's recall and the reconstruction's bit-parity.
    */
  def knnPq(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = withVec(Tables.embeddings(spark, d))
    val probes = probeVecs(e)
    val scored = pqReconstructed(spark, d)
      .select($"vec_id".as("neighbor_id"), $"xhat", $"xnorm")
      .crossJoin(broadcast(probes))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("psim", cosine($"qv", $"qnorm", $"xhat", $"xnorm"))
    val shortlist = topK(scored, "psim", RerankShortlist).select("query_id", "neighbor_id")
    exactRerank(e, shortlist, probes)
  }

  /** IVF-PQ — the production FAISS composition, and the actual 100 TB
    * retrieval shape: the coarse quantizer prunes the corpus to the
    * probe's [[IvfProbes]] nearest cells (so the ADC scan touches
    * ~nprobe/[[IvfCells]] of the data instead of all of it — the knob
    * that keeps a brute-force-free search sublinear), PQ codes stand in
    * for the vectors inside the probed cells (the memory side: codes
    * live in RAM where raw vectors cannot), and the exact rerank of the
    * ADC shortlist recovers the order the lossy codes tie on. Cell
    * assignment AND PQ reconstruction happen in ONE narrow codegen'd
    * scan (NearestCell for the cell + 8 sub-argmins + literal lookups);
    * the probe side reuses [[annIvf]]'s driver-ranked broadcast cells,
    * so the only exchanges are the two per-query top-k windows —
    * recall is bounded by the IVF cell pruning (the shortlist+rerank
    * recovers everything inside the probed cells; SimilaritySpec pins
    * parity with [[annIvf]] on the fixture).
    */
  def annIvfPq(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = withVec(Tables.embeddings(spark, d))
    val q = quantizer(spark, d)
    val nearestCell = Native(es => NearestCell(es.head, q.cents), $"v")
    val cand = withPqRecon(spark, e.withColumn("cell", nearestCell), q.books)
      .select($"vec_id".as("neighbor_id"), $"cell", $"xhat", $"xnorm")
    val probesDf = broadcast(q.probeRows(IvfProbes).toDF("query_id", "cell", "qv", "qnorm"))
    // a (query, neighbor) pair joins at most once (one cell per
    // candidate, distinct probe cells — the annIvf argument), so the
    // shortlist needs no distinct
    val scored = cand.join(probesDf, "cell")
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("psim", cosine($"qv", $"qnorm", $"xhat", $"xnorm"))
    val shortlist = topK(scored, "psim", RerankShortlist).select("query_id", "neighbor_id")
    // the probe vectors come from the quantizer's sample, a local
    // relation, not a second scan
    exactRerank(e, shortlist,
      q.queries.map { case (id, v, qnorm) => (id, v.toSeq, qnorm) }.toDF("query_id", "qv", "qnorm"))
  }

  /** Full-corpus Lloyd rounds refining the sample-trained quantizer. */
  val KmRounds = 2

  /** Distributed k-means refinement — the "train on ALL the data, not a
    * driver sample" scale path (the Spark MLlib KMeans loop shape): the
    * sample-fitted quantizer warm-starts, then [[KmRounds]] full-corpus
    * Lloyd rounds each cost ONE narrow assignment scan (the native
    * NearestCell argmin) + ONE bounded (cell, dim) aggregate — the
    * exchange payload is cells×dims rows regardless of corpus size, and
    * the per-round driver collect is a bounded cells×dims (≤1024-row)
    * table. At 100 TB each round is a single map-side-
    * combined pass; rounds are few and fixed.
    *
    * Cross-engine exactness WITHOUT a rounding cascade: coordinate sums
    * accumulate as 1e-6 FIXED-POINT BIGINTs (round(x·1e6) per value),
    * so the per-cell sums are order-independent integers and the
    * refined centroids — (s/1e6)/n evaluated in that association both
    * sides — are bit-identical doubles in Spark and DuckDB; the next
    * round's argmin then agrees bit for bit (the exact-BIGINT-ratio
    * discipline of the LM mixture queries). Fixed-point headroom:
    * |x| ≤ ~1 ⇒ the BIGINT sum overflows only past ~9e12 members per
    * cell — document, don't defend. A cell left empty by a round keeps
    * its previous centroid (the MLlib dead-cluster convention — the
    * skewed rehearsal's hot embedding ball actually produces one), so
    * the argmin index space never renumbers; the oracle replays the
    * keep via a LEFT JOIN back to the prior round's centroids.
    *
    * Output: the final round's aggregate AS the distributed result —
    * (cell, dim, c, n) long form, c rounded 4dp at the leaf only.
    */
  def kmeansRefine(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = withVec(Tables.embeddings(spark, d))
    var cents = quantizer(spark, d).cents
    for (r <- 1 until KmRounds) {
      val nearest = Native(es => NearestCell(es.head, cents), $"v")
      val rows = e.withColumn("cell", nearest)
        .select($"cell", posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"cell", $"dim")
        .agg(sum(round($"x" * 1e6).cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      // empty cells keep the previous centroid (dead-cluster convention)
      val next = Array.tabulate(cents.length)(i => cents(i).clone())
      rows.foreach { row =>
        next(row.getInt(0))(row.getInt(1)) =
          (row.getLong(2) / 1e6) / row.getLong(3)
      }
      cents = next
    }
    val nearest = Native(es => NearestCell(es.head, cents), $"v")
    e.withColumn("cell", nearest)
      .select($"cell".cast("long").as("cell"),
        posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"cell", $"dim".cast("long").as("dim"))
      .agg(round((sum(round($"x" * 1e6).cast("long")) / lit(1e6)) / count(lit(1)), 4).as("c"),
        count(lit(1)).as("n"))
  }

  /** Simplified (centroid-based) silhouette score per cluster — the
    * clustering-quality eval every k-means deployment reports. True
    * silhouette is O(n²) pairwise; the centroid form (a = distance to
    * OWN centroid, b = nearest OTHER centroid, s = (b−a)/max(a,b)) is
    * the standard linear-time surrogate and needs only the fitted
    * coarse quantizer this module already trains.
    *
    * Shape: one broadcast cross-join of the narrow vector scan against
    * the [[IvfCells]]-row centroid table (a bounded 64× row factor — at
    * 100 TB the production swap is a fused native top-2 expression, the
    * [[graft.functions.NearestCell]] shape returning (own, best-other)
    * in one pass; the explode keeps the dataflow oracle-replayable),
    * then ONE vec_id-keyed aggregate and the bounded per-cell fold.
    *
    * Exactness: the argmin key −2·dot + |c|² is the NearestCell
    * convention (cell id tiebreak); distances reconstruct as
    * √max(key + |v|², 0) (the max guards FP-negative zero-distance
    * cells); per-vector s rounds onto the e4 grid so the per-cell mean
    * is an exact-BIGINT sum with one final display division chain.
    */
  def silhouetteEval(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val e = withVec(Tables.embeddings(spark, d))
    val cents = quantizer(spark, d).cents
    val cn2 = graft.functions.NearestCell.cn2Of(cents)
    val centsDf = cents.indices.map(i => (i, cents(i), cn2(i)))
      .toDF("cell", "cv", "cn2")
    val wVec = Window.partitionBy($"vec_id")
      .orderBy($"key".asc, $"cell".asc)
    val perVec = e
      .withColumn("n2", nativeDot($"v", $"v"))
      .crossJoin(broadcast(centsDf))
      .withColumn("key", lit(-2) * nativeDot($"v", $"cv") + $"cn2")
      .withColumn("r", row_number().over(wVec))
      .groupBy($"vec_id")
      .agg(
        min(when($"r" === 1, $"key")).as("okey"),
        min(when($"r" === 1, $"cell")).cast("long").as("own_cell"),
        min(when($"r" > 1, $"key")).as("bkey"),
        max($"n2").as("n2"))
      .withColumn("a", sqrt(greatest($"okey" + $"n2", lit(0.0))))
      .withColumn("b", sqrt(greatest($"bkey" + $"n2", lit(0.0))))
      .withColumn("sil",
        when(greatest($"a", $"b") === 0.0, lit(0.0))
          .otherwise(($"b" - $"a") / greatest($"a", $"b")))
      .withColumn("s_e4", round($"sil" * 10000, 0).cast("long"))
    perVec.groupBy($"own_cell".as("cell"))
      .agg(count(lit(1)).as("n"),
        (sum($"s_e4").cast("double") / count(lit(1)) / 10000).as("mean_sil"))
  }

  private def silhouetteOracle(cents: Array[Array[Double]]): String = {
    s"""WITH $vecCtes,
       |sq AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM e),
       |cents(cell, c, cn2) AS (VALUES
       |${centRows(cents)}),
       |d AS (
       |  SELECT sq.vec_id, sq.n2, cents.cell,
       |         -2 * list_dot_product(sq.v, cents.c) + cents.cn2 AS key,
       |         row_number() OVER (
       |           PARTITION BY sq.vec_id
       |           ORDER BY -2 * list_dot_product(sq.v, cents.c) + cents.cn2,
       |                    cents.cell) AS r
       |  FROM sq CROSS JOIN cents),
       |p AS (
       |  SELECT vec_id,
       |    min(CASE WHEN r = 1 THEN key END) AS okey,
       |    CAST(min(CASE WHEN r = 1 THEN cell END) AS BIGINT) AS own_cell,
       |    min(CASE WHEN r > 1 THEN key END) AS bkey,
       |    max(n2) AS n2
       |  FROM d GROUP BY vec_id),
       |s AS (
       |  SELECT own_cell,
       |    CASE WHEN greatest(sqrt(greatest(okey + n2, 0.0)),
       |                       sqrt(greatest(bkey + n2, 0.0))) = 0.0 THEN 0.0
       |         ELSE (sqrt(greatest(bkey + n2, 0.0)) -
       |               sqrt(greatest(okey + n2, 0.0)))
       |              / greatest(sqrt(greatest(okey + n2, 0.0)),
       |                         sqrt(greatest(bkey + n2, 0.0))) END AS sil
       |  FROM p)
       |SELECT own_cell AS cell, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(round(sil * 10000, 0) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 10000 AS mean_sil
       |FROM s GROUP BY 1""".stripMargin
  }

  /** Per-label centroids, long form (label, dim, c): one posexplode +
    * one (label, dim) aggregate — the building block for IVF coarse
    * quantizers, class prototypes, and drift monitors. Bounded output
    * (labels × dims) at any scale; floats are cast to double BEFORE
    * averaging so both engines accumulate in double, and the mean is
    * rounded to 4dp (order-of-summation ulps).
    */
  def labelCentroids(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, d)
      .select($"label".cast("long").as("label"),
        posexplode($"embedding".cast("array<double>")).as(Seq("dim", "v")))
      .groupBy($"label", $"dim".cast("long").as("dim"))
      .agg(round(avg($"v"), 4).as("c"))
  }

  /** MMR diversified top-k (Carbonell & Goldstein '98) — the rerank a
    * retrieval pipeline applies when raw top-k collapses onto near
    * duplicates: greedily select K results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7.
    *
    * The greedy loop is inherently sequential in K, so it is UNROLLED
    * into K dataflow steps (K = [[MmrK]] = 5) — each an anti-join
    * against the picks so far, a max over the pair-sim matrix restricted
    * to them, and a per-query argmax window. All per-query work is
    * bounded by the shortlist ([[MmrShortlist]] = 16 candidates, so the
    * pair matrix is ≤ 16×16 per query); everything keys on query_id, so
    * with Q probe queries the whole operator scales linearly in Q and
    * never materializes anything super-shortlist-sized — the production
    * shape at 100 TB keeps S ≈ 100 and still bounds per-query state.
    * Each step's picks are localCheckpoint'ed (≤ Q rows) so the K-step
    * recursion stays a LINEAR chain of small jobs instead of a plan
    * that re-derives all prior steps 3^K times.
    *
    * Cross-engine exactness: relevance and pair sims go through
    * [[cosine]], then ×10⁴ to exact BIGINT (rel_e4), so
    * the MMR objective 7·rel_e4 − 3·ms_e4 is pure integer arithmetic —
    * both engines pick identical argmaxes with the vec_id tie-break.
    * The DuckDB twin unrolls the same K steps as CTE blocks.
    */
  def mmrDiversified(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"query_id")
    val e = withVec(Tables.embeddings(spark, d))
      .select($"vec_id", $"v", $"norm")
    val e4 = (a: String, b: String, n1: String, n2: String) =>
      round(cosine(col(a), col(n1), col(b), col(n2)) * 10000, 0).cast("bigint")
    val shortlist = e.crossJoin(broadcast(probeVecs(e)))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("rel_e4", e4("qv", "v", "qnorm", "norm"))
      .withColumn("rk",
        row_number().over(w.orderBy($"rel_e4".desc, $"vec_id")))
      .filter($"rk" <= MmrShortlist)
      .select($"query_id", $"vec_id", $"rel_e4", $"v", $"norm")
      .transform(graft.Ckpt.cut) // consumed by the pair matrix + every unrolled step
    val pairs = shortlist
      .select($"query_id", $"vec_id".as("a_id"), $"v".as("av"), $"norm".as("an"))
      .join(shortlist.select($"query_id", $"vec_id".as("b_id"),
        $"v".as("bv"), $"norm".as("bn")), Seq("query_id"))
      .filter($"a_id" =!= $"b_id")
      .withColumn("s_e4", e4("av", "bv", "an", "bn"))
      .select($"query_id", $"a_id", $"b_id", $"s_e4")
    val cands = shortlist.select($"query_id", $"vec_id", $"rel_e4")
    // The greedy itself runs ON THE DRIVER over the collected shortlist
    // (≤ NumQueries × MmrShortlist = 160 candidate rows and ≤ S² pair
    // rows per query at ANY corpus size — the pagerankNations /
    // stationaryE6 contract-then-iterate precedent): the distributed
    // phase is the corpus-scale scoring scan + shortlist ranking above;
    // the MmrK−1 unrolled pick rounds this replaces each paid a
    // join/window/checkpoint pipeline on ≤160-row frames (pure fixed
    // cost, ~1.3 s of the query's 2 s). All quantities stay on the e4
    // BIGINT grid (mmr_w = rel·7 − ms·3), max/argmax with the identical
    // (mmr_w DESC, vec_id ASC) tie order, so the driver replay is
    // value-identical to the DataFrame unrolling the oracle mirrors.
    val candRows = cands.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the contract bound, asserted where the collect happens (r13
    // verdict item 5): a shortlist that somehow outgrew its cap must
    // fail loudly, not silently grow driver state
    require(candRows.length <= NumQueries * MmrShortlist,
      s"MMR shortlist ${candRows.length} rows exceeds " +
        s"NumQueries*MmrShortlist = ${NumQueries * MmrShortlist}")
    val pairRows = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
    require(pairRows.length <=
      NumQueries * MmrShortlist * MmrShortlist,
      s"MMR pair matrix ${pairRows.length} rows exceeds NumQueries*S^2")
    val simOf = pairRows.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toMap }
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
    candRows.groupBy(_._1).foreach { case (qid, cs) =>
      val ordered = cs.sortBy(c => (-c._3, c._2)).toList
      var sel = List(ordered.head)
      out += ((qid, ordered.head._2, ordered.head._3, ordered.head._3 * 7L, 1L))
      for (t <- 2 to MmrK) {
        val remaining = ordered.filterNot(c => sel.exists(_._2 == c._2))
        if (remaining.nonEmpty) {
          val best = remaining.map { c =>
            val sims = simOf.getOrElse((qid, c._2), Map.empty[Long, Long])
            val ms = sel.map(s => sims(s._2)).max
            (c, c._3 * 7L - ms * 3L)
          }.sortBy { case (c, mw) => (-mw, c._2) }.head
          sel ::= best._1
          out += ((qid, best._1._2, best._1._3, best._2, t.toLong))
        }
      }
    }
    out.result()
      .toDF("query_id", "vec_id", "rel_e4", "mmr_w", "mmr_rank")
  }

  /** Embedding-distribution drift between the two vec_id-parity halves
    * of the corpus — the cheap first-line monitor for "did the encoder
    * or the data change": cosine between the two mean vectors and the
    * L2 distance between them. A healthy re-shard of one distribution
    * sits at cosine ≈ 1; an encoder swap or upstream content shift
    * moves it. For a ZERO-CENTERED corpus the mean vector is near the
    * origin and its cosine is legitimately noisy (the fixture measures
    * ≈ −0.07 between its own halves) — the L2 distance is the
    * operative statistic there; the cosine earns its keep on
    * mean-shifted encoders.
    *
    * Exactness WITHOUT any cross-row FP sum: per-dim values go to the
    * e6 integer grid, per-(half, dim) sums are exact BIGINTs (the
    * k-means fixed-point discipline), and both statistics fold from
    * the three exact 64-term DECIMAL(38,0) aggregates dot = Σ sa·sb,
    * naa = Σ sa², nbb = Σ sb² — the counts cancel in the cosine
    * (cos(ma, mb) = dot/√(naa·nbb)) and enter the L2 only via the
    * identity ‖ma−mb‖² = naa/na² + nbb/nb² − 2·dot/(na·nb), so FP
    * appears only in the final closed forms with fixed op order.
    * naa ≤ dims·(n·10⁶)² stays inside DECIMAL(38,0)/HUGEINT up to
    * ~10¹² vectors; the cosine denominator √(naa·nbb) is computed in
    * doubles, where 10⁶⁷ is no hazard.
    */
  def centroidDrift(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val cells = Tables.embeddings(spark, d)
      .select(pmod($"vec_id", lit(2L)).as("half"),
        posexplode($"embedding".cast("array<double>")).as(Seq("dim", "v")))
      .groupBy($"half", $"dim")
      .agg(sum(round($"v" * 1000000, 0).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .transform(graft.Ckpt.cut) // 2 x dims cells
    val a = cells.filter($"half" === 0L)
      .select($"dim", $"s".as("sa"), $"n".as("na"))
    val b = cells.filter($"half" === 1L)
      .select($"dim", $"s".as("sb"), $"n".as("nb"))
    val g = a.join(b, "dim")
      .agg(
        first($"na").as("n_a"), first($"nb").as("n_b"),
        sum(dec($"sa") * dec($"sb")).as("dot"),
        sum(dec($"sa") * dec($"sa")).as("naa"),
        sum(dec($"sb") * dec($"sb")).as("nbb"))
    val naD = $"n_a".cast("double")
    val nbD = $"n_b".cast("double")
    val l2sq = $"naa".cast("double") / (naD * naD) +
      $"nbb".cast("double") / (nbD * nbD) -
      lit(2.0) * $"dot".cast("double") / (naD * nbD)
    g.select(
      $"n_a", $"n_b",
      (round($"dot".cast("double") /
        sqrt($"naa".cast("double") * $"nbb".cast("double")), 6) + lit(0.0))
        .as("centroid_cosine"),
      // tiny negative from cancellation guards the sqrt
      (round(sqrt(greatest(l2sq, lit(0.0))) / lit(1000000.0), 6) + lit(0.0))
        .as("centroid_l2"))
  }

  private def centroidDriftOracle: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT vec_id % 2 AS half, dim,
      |    CAST(sum(CAST(round(CAST(u AS DOUBLE) * 1000000, 0) AS BIGINT))
      |      AS BIGINT) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT vec_id, r.range AS dim,
      |          embedding[r.range + 1] AS u
      |        FROM embeddings, range(64) r) x
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT first(a.n) AS n_a, first(b.n) AS n_b,
      |    sum(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dot,
      |    sum(CAST(a.s AS HUGEINT) * CAST(a.s AS HUGEINT)) AS naa,
      |    sum(CAST(b.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS nbb
      |  FROM (SELECT * FROM cells WHERE half = 0) a
      |  JOIN (SELECT * FROM cells WHERE half = 1) b USING (dim))
      |SELECT n_a, n_b,
      |  round(CAST(dot AS DOUBLE) /
      |        sqrt(CAST(naa AS DOUBLE) * CAST(nbb AS DOUBLE)), 6) + 0.0
      |    AS centroid_cosine,
      |  round(sqrt(greatest(
      |          CAST(naa AS DOUBLE) /
      |            (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)) +
      |          CAST(nbb AS DOUBLE) /
      |            (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)) -
      |          2.0 * CAST(dot AS DOUBLE) /
      |            (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 0.0))
      |        / 1000000.0, 6) + 0.0 AS centroid_l2
      |FROM g""".stripMargin

  /** Per-dimension embedding health profile: mean, standard deviation,
    * and exact min/max per dimension — the encoder-collapse check
    * (a dimension whose variance goes to zero carries no information;
    * a runaway max betrays un-normalized inputs). Per-dim sums and
    * sums of squares ride the e6 integer grid ([[centroidDrift]]'s
    * discipline — no cross-row FP sum), variance from the exact
    * DECIMAL(38,0) closed form (n·Σx² − (Σx)²)/n², std as one sqrt;
    * min/max are exact grid integers emitted back at 1e-6 scale.
    * Bounded 64-row output at any corpus size.
    */
  def dimProfile(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    Tables.embeddings(spark, d)
      .select(posexplode($"embedding".cast("array<double>"))
        .as(Seq("dim", "v")))
      .select($"dim".cast("long").as("dim"),
        round($"v" * 1000000, 0).cast("long").as("g"))
      .groupBy($"dim")
      .agg(
        count(lit(1)).as("n"),
        sum($"g").as("s"),
        sum(dec($"g") * dec($"g")).as("sq"),
        min($"g").as("mn"), max($"g").as("mx"))
      .select(
        $"dim", $"n",
        (round($"s".cast("double") / $"n".cast("double") / lit(1000000.0), 6)
          + lit(0.0)).as("mean_v"),
        (round(sqrt(
          (dec($"n") * $"sq" - dec($"s") * dec($"s")).cast("double") /
            ($"n".cast("double") * $"n".cast("double"))) / lit(1000000.0), 6)
          + lit(0.0)).as("std_v"),
        ($"mn".cast("double") / 1000000).as("min_v"),
        ($"mx".cast("double") / 1000000).as("max_v"))
  }

  private def dimProfileOracle: String =
    """WITH g AS (
      |  SELECT r.range AS dim,
      |    CAST(round(CAST(embedding[r.range + 1] AS DOUBLE) * 1000000, 0)
      |         AS BIGINT) AS g
      |  FROM embeddings, range(64) r)
      |SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(g) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0,
      |        6) + 0.0 AS mean_v,
      |  round(sqrt(
      |    CAST(CAST(count(*) AS HUGEINT) * sum(CAST(g AS HUGEINT) *
      |           CAST(g AS HUGEINT)) -
      |         CAST(sum(g) AS HUGEINT) * CAST(sum(g) AS HUGEINT) AS DOUBLE) /
      |    (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))) / 1000000.0,
      |    6) + 0.0 AS std_v,
      |  CAST(min(g) AS DOUBLE) / 1000000 AS min_v,
      |  CAST(max(g) AS DOUBLE) / 1000000 AS max_v
      |FROM g GROUP BY dim""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_dim_profile" -> (dimProfile _),
    "embed_centroid_drift" -> (centroidDrift _),
    "embed_mmr" -> (mmrDiversified _),
    "embed_knn" -> (knnExact _),
    "embed_norms" -> (embedNorms _),
    "embed_ann_lsh" -> (annLsh _),
    "embed_ann_ivf" -> ((s, dir) => annIvf(s, dir)),
    "embed_label_centroids" -> (labelCentroids _),
    "embed_knn_quantized" -> (knnQuantized _),
    "embed_knn_rerank" -> (knnRerank _),
    "embed_knn_rp" -> (knnRp _),
    "embed_knn_pq" -> (knnPq _),
    "embed_ann_ivfpq" -> (annIvfPq _),
    "embed_kmeans" -> (kmeansRefine _),
    "embed_silhouette" -> (silhouetteEval _),
    "embed_xlabel_mutual" -> (crossLabelMutual _),
    "embed_triplets" -> (tripletMine _),
    "dedup_embed_pairs" -> (embedDupPairs _),
    "embed_semdedup" -> (semDedup _))

  /** The LSH ANN query IS DuckDB-expressible because the hyperplanes are
    * compile-time constants: the oracle embeds all 96 planes as list
    * literals and replicates bucket assignment, candidate generation,
    * and ranking. Generated programmatically (≈50 KB of SQL).
    */
  private def annLshOracle: String = {
    def bucketExpr(t: Int): String =
      (0 until PlanesPerTable).map { i =>
        val plane = "[" + planes(t * PlanesPerTable + i).mkString(",") + "]"
        // round-before-sign matches LshBuckets.compute's 4dp quantization
        s"(CASE WHEN round(list_dot_product(v, $plane), 4) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
    val branches = (0 until LshTables).map { t =>
      s"SELECT vec_id, v, norm, $t AS tbl, ${bucketExpr(t)} AS bucket FROM n"
    }.mkString("\nUNION ALL\n")
    s"""WITH $vecCtes,
       |b AS (
       |$branches),
       |pairs AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${cosineSql("q.v", "q.norm", "c.v", "c.norm")} + 0.0 AS sim
       |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)
       |${rankedSql("pairs", "sim", K)}""".stripMargin
  }

  /** The twins' vector CTE head: `e` (vec_id, label, v) and `n`, which
    * adds the L2 norm — the SQL twin of [[withVec]].
    */
  private[sim] val vecCtes: String =
    """e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS norm FROM e)""".stripMargin

  /** The SQL twin of [[cosine]]. */
  private[sim] def cosineSql(q: String, qn: String, c: String, cn: String): String =
    s"round(list_dot_product($q, $c) / ($qn * $cn), 4)"

  /** The SQL twin of [[topK]]: `cols` of the rows of `src` ranked per
    * `keys` as `rk`, the top `k` kept.
    */
  private[graft] def rankedSql(
      src: String,
      score: String,
      k: Int,
      keys: String = "query_id",
      cols: String = "query_id, neighbor_id, rk, sim"): String =
    s"""SELECT $cols FROM (
       |  SELECT *, row_number() OVER (PARTITION BY $keys ORDER BY $score DESC, neighbor_id) AS rk
       |  FROM $src) ranked
       |WHERE rk <= $k""".stripMargin

  /** The SQL twin of a shortlist plus [[exactRerank]]: the top
    * [[RerankShortlist]] of `src` by `score`, re-scored against the `n`
    * vectors, top [[K]]. Ends the statement.
    */
  private def rerankTail(src: String, score: String): String =
    s"""short AS (${rankedSql(src, score, RerankShortlist, cols = "query_id, neighbor_id")}),
       |scored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         ${cosineSql("qn.v", "qn.norm", "nn.v", "nn.norm")} + 0.0 AS sim
       |  FROM short s
       |  JOIN n qn ON qn.vec_id = s.query_id
       |  JOIN n nn ON nn.vec_id = s.neighbor_id)
       |${rankedSql("scored", "sim", K)}""".stripMargin

  /** A centroid table's `VALUES` rows: (cell, c, |c|²), the doubles as
    * round-trip literals.
    */
  private def centRows(cents: Array[Array[Double]]): String = {
    val cn2 = graft.functions.NearestCell.cn2Of(cents)
    cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}], ${dlit(cn2(i))})"
    }.mkString(",\n")
  }

  /** The shared centroid-literal assignment CTE chain (`e`/`n`/`cents`/
    * `assign`) — composed into every fitted oracle so the replicated
    * argmin can never drift between them. The candidate argmin
    * replicates [[graft.functions.NearestCell]] term for term
    * (-2·dot + |c|², ties to the lowest cell) — list_dot_product
    * matches the native left-to-right loop bit for bit (proven by the
    * LSH and knn oracles).
    */
  private def assignCtes(cents: Array[Array[Double]]): String =
    s"""WITH $vecCtes,
       |cents(cell, c, cn2) AS (VALUES
       |${centRows(cents)}),
       |assign AS (
       |  SELECT vec_id, label, v, norm, cell FROM (
       |    SELECT n.vec_id, n.label, n.v, n.norm, cents.cell,
       |           row_number() OVER (
       |             PARTITION BY n.vec_id
       |             ORDER BY -2 * list_dot_product(n.v, cents.c) + cents.cn2, cents.cell) AS r
       |    FROM n CROSS JOIN cents) x WHERE r = 1)""".stripMargin

  /** [[assignCtes]] plus `capped`, the vectors of the cells within
    * [[MaxCellBlock]] — the twin of [[cappedCells]].
    */
  private def cappedCellCtes(cents: Array[Array[Double]]): String =
    s"""${assignCtes(cents)},
       |keep AS (
       |  SELECT cell FROM assign GROUP BY cell HAVING count(*) <= $MaxCellBlock),
       |capped AS (SELECT a.* FROM assign a JOIN keep k ON a.cell = k.cell)""".stripMargin

  /** DuckDB twin of [[annIvf]], generated from the [[quantizer]] AFTER
    * the query ran (Verify's dump order): the fitted centroids and the
    * driver-ranked default-probe→cell pairs embed as literals, so the SQL
    * replays candidate assignment with the exact constants the Spark
    * run used; the probe side skips ranking entirely because the
    * (query_id, cell) pairs are literals.
    */
  private def annIvfOracle(cents: Array[Array[Double]], probes: Seq[(Long, Int)]): String = {
    val probeRows = probes.map { case (id, c) => s"($id, $c)" }.mkString(", ")
    s"""${assignCtes(cents)},
       |probes(query_id, cell) AS (VALUES $probeRows),
       |p AS (
       |  SELECT n.vec_id AS query_id, pr.cell, n.v AS qv, n.norm AS qnorm
       |  FROM probes pr JOIN n ON n.vec_id = pr.query_id),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${cosineSql("p.qv", "p.qnorm", "a.v", "a.norm")} + 0.0 AS sim
       |  FROM p JOIN assign a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.query_id)
       |${rankedSql("pairs", "sim", K)}""".stripMargin
  }

  /** The shared PQ coding/reconstruction CTE block (`subcents`/`sub`/
    * `xh`/`xn`) — assumes an `n`(vec_id, v, norm) CTE is already in
    * scope, so both the flat-PQ and the IVF-PQ oracles replay the
    * same per-subspace argmin against the same codebook literals.
    */
  private def pqCtes(books: Array[Array[Array[Double]]]): String = {
    val rows = for {
      m <- 0 until PqSubspaces
      cn2 = graft.functions.NearestCell.cn2Of(books(m))
      (c, i) <- books(m).zipWithIndex
    } yield s"($m, $i, [${c.map(dlit).mkString(",")}], ${dlit(cn2(i))})"
    s"""subcents(m, cell, c, cn2) AS (VALUES
       |${rows.mkString(",\n")}),
       |sub AS (
       |  SELECT vec_id, m, c FROM (
       |    SELECT n.vec_id, sc.m, sc.c,
       |           row_number() OVER (
       |             PARTITION BY n.vec_id, sc.m
       |             ORDER BY -2 * list_dot_product(
       |                        list_slice(n.v, sc.m * $PqSubDim + 1, sc.m * $PqSubDim + $PqSubDim),
       |                        sc.c) + sc.cn2,
       |                      sc.cell) AS r
       |    FROM n CROSS JOIN subcents sc) x WHERE r = 1),
       |xh AS (
       |  SELECT vec_id, flatten(list(c ORDER BY m)) AS xhat
       |  FROM sub GROUP BY vec_id),
       |xn AS (
       |  SELECT vec_id, xhat, sqrt(list_dot_product(xhat, xhat)) AS xnorm FROM xh)""".stripMargin
  }

  /** ADC scoring of the reconstructed `xn` candidates against the raw
    * probe `p` — the twin of the PQ shortlists' `psim`.
    */
  private val pqScore: String = cosineSql("p.qv", "p.qnorm", "xn.xhat", "xn.xnorm")

  /** DuckDB twin of [[knnPq]], generated from the fitted codebooks:
    * per-subspace argmin replays the [[graft.functions.NearestCell]]
    * score (-2·dot + |c|², ties to the lowest code) on list_slice'd
    * subvectors against the 128 codebook literals, reconstruction is
    * list(c ORDER BY m) flattened, and scoring and ranking go through
    * [[cosineSql]] and [[rerankTail]].
    */
  private def knnPqOracle(books: Array[Array[Array[Double]]]): String =
    s"""WITH $vecCtes,
       |${pqCtes(books)},
       |p AS (
       |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
       |  FROM n WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT p.query_id, xn.vec_id AS neighbor_id, $pqScore AS psim
       |  FROM p CROSS JOIN xn
       |  WHERE xn.vec_id <> p.query_id),
       |${rerankTail("cand", "psim")}""".stripMargin

  /** DuckDB twin of [[annIvfPq]]: [[assignCtes]]' centroid-literal cell
    * assignment prunes to the probe-literal cells, [[pqCtes]]'
    * codebook replay supplies the reconstructed candidates inside them,
    * and [[rerankTail]] replays shortlist + exact rerank.
    */
  private def ivfPqOracle(
      cents: Array[Array[Double]],
      probes: Seq[(Long, Int)],
      books: Array[Array[Array[Double]]]): String = {
    val probeRows = probes.map { case (id, c) => s"($id, $c)" }.mkString(", ")
    s"""${assignCtes(cents)},
       |${pqCtes(books)},
       |probes(query_id, cell) AS (VALUES $probeRows),
       |p AS (
       |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm
       |  FROM n WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT pr.query_id, a.vec_id AS neighbor_id, $pqScore AS psim
       |  FROM probes pr
       |  JOIN p ON p.query_id = pr.query_id
       |  JOIN assign a ON a.cell = pr.cell
       |  JOIN xn ON xn.vec_id = a.vec_id
       |  WHERE a.vec_id <> pr.query_id),
       |${rerankTail("cand", "psim")}""".stripMargin
  }

  /** DuckDB twin of [[kmeansRefine]], from the fitted warm-start
    * centroids: each unrolled round replays the argmin (same
    * -2·dot + |c|² score, ties to the lowest cell; derived-round |c|²
    * via `list_dot_product(c, c)` — bit-equal to `cn2Of`'s
    * left-to-right fold) and re-derives centroids from the 1e-6
    * fixed-point BIGINT sums in the same `(s / 1e6) / n` association
    * the Spark side uses, so every intermediate centroid is
    * bit-identical across engines. All round CTEs MATERIALIZED (the
    * pagerank CTE-inlining lesson).
    */
  private def kmeansOracle(init: Array[Array[Double]]): String = {
    def assignSql(name: String, prev: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, $prev.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY -2 * list_dot_product(e.v, $prev.c) + $prev.cn2,
         |                      $prev.cell) AS rk
         |    FROM e CROSS JOIN $prev) x WHERE rk = 1)""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""WITH $vecCtes,
         |cents0(cell, c, cn2) AS (VALUES
         |${centRows(init)})""".stripMargin)
    for (r <- 1 until KmRounds) {
      val prev = if (r == 1) "cents0" else s"c${r - 1}n"
      sb.append(s""",
         |${assignSql(s"a$r", prev)},
         |s$r AS MATERIALIZED (
         |  SELECT cell, r.range AS dim,
         |         CAST(sum(CAST(round(v[r.range + 1] * 1e6) AS BIGINT)) AS BIGINT) AS s,
         |         count(*) AS n
         |  FROM a$r, range(64) r GROUP BY cell, r.range),
         |c$r AS MATERIALIZED (
         |  SELECT cell, list((s / 1e6) / n ORDER BY dim) AS c FROM s$r GROUP BY cell),
         |c${r}n AS MATERIALIZED (
         |  SELECT p.cell, COALESCE(c$r.c, p.c) AS c,
         |         list_dot_product(COALESCE(c$r.c, p.c), COALESCE(c$r.c, p.c)) AS cn2
         |  FROM $prev p LEFT JOIN c$r ON c$r.cell = p.cell)""".stripMargin)
    }
    val last = if (KmRounds == 1) "cents0" else s"c${KmRounds - 1}n"
    sb.append(s""",
       |${assignSql("af", last)}
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(r.range AS BIGINT) AS dim,
       |       round((CAST(sum(CAST(round(v[r.range + 1] * 1e6) AS BIGINT)) AS BIGINT)
       |              / 1e6) / count(*), 4) + 0.0 AS c,
       |       count(*) AS n
       |FROM af, range(64) r GROUP BY cell, r.range""".stripMargin)
    sb.toString
  }

  /** A def, not a val: the data-fitted entries exist only once a live
    * session holds their fit ([[graft.Memo.latest]]). Verify evaluates
    * this AFTER the query loop, so they embed exactly the constants the
    * Spark run used, the same technique as the compile-time LSH plane
    * oracle.
    */
  def oracles: Map[String, String] = staticOracles ++ fittedOracles

  private def fittedOracles: Map[String, String] = {
    val ivf = graft.Memo.latest[Quantizer]("ivf_quantizer").toSeq.flatMap(q => Seq(
      "embed_ann_ivf" -> annIvfOracle(q.cents, q.probes),
      "dedup_embed_pairs" -> embedDupOracle(q.cents),
      "embed_xlabel_mutual" -> xlabelOracle(q.cents),
      "embed_semdedup" -> semDedupOracle(q.cents),
      "embed_knn_pq" -> knnPqOracle(q.books),
      "embed_ann_ivfpq" -> ivfPqOracle(q.cents, q.probes, q.books),
      "embed_kmeans" -> kmeansOracle(q.cents),
      "embed_silhouette" -> silhouetteOracle(q.cents)))
    val sq = graft.Memo.latest[Array[Array[Double]]]("quant_bounds").toSeq.flatMap(b => Seq(
      "embed_knn_quantized" -> knnQuantizedOracle(b),
      "embed_knn_rerank" -> knnRerankOracle(b)))
    (ivf ++ sq).toMap
  }

  /** DuckDB twin of [[embedDupPairs]]: same centroid-literal cell
    * assignment as [[annIvfOracle]], then the capped within-cell pair
    * join. The cap filter replays as a per-cell count join.
    */
  private def embedDupOracle(cents: Array[Array[Double]]): String = {
    val sim = cosineSql("a.v", "a.norm", "b.v", "b.norm")
    s"""${cappedCellCtes(cents)}
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       CAST(a.cell AS BIGINT) AS cell, $sim + 0.0 AS sim
       |FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE $sim >= 0.3""".stripMargin
  }

  /** DuckDB twin of [[semDedup]]: centroid-literal assignment + cap,
    * centroid cosine against the SAME sqrt(cn2) double the Spark side
    * broadcast, rounded-4dp dominance, LEFT JOIN verdict.
    */
  private def semDedupOracle(cents: Array[Array[Double]]): String = {
    val cn2 = graft.functions.NearestCell.cn2Of(cents)
    val cnormRows = cents.indices
      .map(i => s"($i, ${dlit(math.sqrt(cn2(i)))})").mkString(",\n")
    s"""${cappedCellCtes(cents)},
       |cnorms(cell, cnorm) AS (VALUES
       |$cnormRows),
       |scored AS (
       |  SELECT a.vec_id, a.cell, a.v, a.norm,
       |         ${cosineSql("a.v", "a.norm", "c.c", "cn.cnorm")} AS ccos
       |  FROM capped a
       |  JOIN cents c ON c.cell = a.cell
       |  JOIN cnorms cn ON cn.cell = a.cell),
       |rm AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM scored a JOIN scored b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  WHERE ${cosineSql("a.v", "a.norm", "b.v", "b.norm")} >= $SemDedupEps
       |    AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id)))
       |SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell, s.ccos + 0.0 AS ccos,
       |       CAST(CASE WHEN rm.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS removed
       |FROM scored s LEFT JOIN rm ON rm.vec_id = s.vec_id""".stripMargin
  }

  /** DuckDB twin of [[knnQuantized]], generated from the [[quantBounds]]
    * fit: the 64×(B-1) boundary matrix is embedded as list
    * literals and the comparison bucketing (`1 + #{b : v >= b}`,
    * centered) is replayed per dimension — integer comparisons against
    * round-trip double literals, so the codes are bit-exact across
    * engines and the integer-dot ranking needs no rounding at all.
    */
  private def quantCodeCtes(bounds: Array[Array[Double]]): String = {
    val bndRows = bounds.zipWithIndex.map { case (bs, j) =>
      s"($j, [${bs.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    s"""x AS (
       |  SELECT vec_id, r.range AS dim, CAST(embedding[r.range + 1] AS DOUBLE) AS v
       |  FROM embeddings, range(64) r),
       |bnd(dim, bv) AS (VALUES
       |$bndRows),
       |c AS (
       |  SELECT x.vec_id, x.dim,
       |         2 * (1 + len(list_filter(bnd.bv, b -> x.v >= b)))
       |           - ${QuantBuckets + 1} AS code
       |  FROM x JOIN bnd ON x.dim = bnd.dim),
       |q AS (
       |  SELECT vec_id, list(CAST(code AS DOUBLE) ORDER BY dim) AS qv
       |  FROM c GROUP BY vec_id),
       |qs AS (
       |  SELECT p.vec_id AS query_id, o.vec_id AS neighbor_id,
       |         CAST(list_dot_product(p.qv, o.qv) AS BIGINT) AS score
       |  FROM q p JOIN q o ON p.vec_id < $NumQueries AND o.vec_id <> p.vec_id)""".stripMargin
  }

  private def knnQuantizedOracle(bounds: Array[Array[Double]]): String =
    s"""WITH ${quantCodeCtes(bounds)}
       |${rankedSql("qs", "score", K, cols = "query_id, neighbor_id, rk, score")}""".stripMargin

  /** DuckDB twin of [[knnRerank]], from the same boundary fit: the
    * integer-dot shortlist replays over the code CTEs, then the exact
    * cosine rerank replays [[knnExact]]'s convention over only the
    * shortlisted id pairs.
    */
  private def knnRerankOracle(bounds: Array[Array[Double]]): String =
    s"""WITH $vecCtes,
       |${quantCodeCtes(bounds)},
       |${rerankTail("qs", "score")}""".stripMargin

  /** The MMR twin: the same K greedy steps unrolled as CTE blocks —
    * selection state is the UNION of the prior sel CTEs, exclusion is
    * NOT EXISTS against it, the objective is the identical integer
    * 7·rel_e4 − 3·ms_e4 with the vec_id tie-break.
    */
  private def mmrOracle: String = {
    def selUpTo(t: Int) =
      (1 to t).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    val sb = new StringBuilder(
      s"""WITH $vecCtes,
         |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT query_id, c.vec_id,
         |    CAST(round(${cosineSql("qv", "qnorm", "c.v", "c.norm")} * 10000, 0) AS BIGINT) AS rel_e4
         |  FROM q, n c WHERE c.vec_id <> query_id),
         |shortlist AS (
         |  SELECT query_id, vec_id, rel_e4 FROM (
         |    SELECT query_id, vec_id, rel_e4,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY rel_e4 DESC, vec_id) AS rk
         |    FROM scored) t WHERE rk <= $MmrShortlist),
         |pairs AS (
         |  SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
         |    CAST(round(${cosineSql("ea.v", "ea.norm", "eb.v", "eb.norm")} * 10000, 0)
         |      AS BIGINT) AS s_e4
         |  FROM shortlist a
         |  JOIN shortlist b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
         |  JOIN n ea ON ea.vec_id = a.vec_id
         |  JOIN n eb ON eb.vec_id = b.vec_id),
         |sel1 AS (
         |  SELECT query_id, vec_id, rel_e4, rel_e4 * 7 AS mmr_w,
         |         CAST(1 AS BIGINT) AS mmr_rank
         |  FROM (
         |    SELECT query_id, vec_id, rel_e4,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY rel_e4 DESC, vec_id) AS rn
         |    FROM shortlist) t WHERE rn = 1)""".stripMargin)
    for (t <- 2 to MmrK) {
      sb.append(s""",
         |ms$t AS (
         |  SELECT s.query_id, s.vec_id, s.rel_e4, max(p.s_e4) AS ms_e4
         |  FROM shortlist s
         |  JOIN pairs p ON p.query_id = s.query_id AND p.a_id = s.vec_id
         |  JOIN (${selUpTo(t - 1)}) sel
         |    ON sel.query_id = p.query_id AND sel.vec_id = p.b_id
         |  WHERE NOT EXISTS (SELECT 1 FROM (${selUpTo(t - 1)}) x
         |                    WHERE x.query_id = s.query_id
         |                      AND x.vec_id = s.vec_id)
         |  GROUP BY s.query_id, s.vec_id, s.rel_e4),
         |sel$t AS (
         |  SELECT query_id, vec_id, rel_e4, mmr_w, CAST($t AS BIGINT) AS mmr_rank
         |  FROM (
         |    SELECT query_id, vec_id, rel_e4, rel_e4 * 7 - ms_e4 * 3 AS mmr_w,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY (rel_e4 * 7 - ms_e4 * 3) DESC, vec_id) AS rn
         |    FROM ms$t) t WHERE rn = 1)""".stripMargin)
    }
    sb.append(s"\n${selUpTo(MmrK)}")
    sb.toString
  }

  private val staticOracles: Map[String, String] = Map(
    "embed_dim_profile" -> dimProfileOracle,
    "embed_centroid_drift" -> centroidDriftOracle,
    "embed_mmr" -> mmrOracle,
    "embed_triplets" ->
      s"""WITH $vecCtes,
         |s AS (
         |  SELECT q.vec_id AS query_id, q.label AS qlabel, c.vec_id AS neighbor_id,
         |         ${cosineSql("q.v", "q.norm", "c.v", "c.norm")} + 0.0 AS sim,
         |         c.label = q.label AS same
         |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id),
         |r AS (${rankedSql("s", "sim", 1, "query_id, same", cols = "*")})
         |SELECT query_id, qlabel AS anchor_label,
         |  max(CASE WHEN same THEN neighbor_id END) AS positive_id,
         |  max(CASE WHEN same THEN sim END) AS sim_pos,
         |  max(CASE WHEN NOT same THEN neighbor_id END) AS negative_id,
         |  max(CASE WHEN NOT same THEN sim END) AS sim_neg,
         |  round(max(CASE WHEN same THEN sim END)
         |        - max(CASE WHEN NOT same THEN sim END), 4) + 0.0 AS margin
         |FROM r GROUP BY query_id, qlabel""".stripMargin,
    "embed_norms" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |       CAST(len(v) AS BIGINT) AS n_dims,
        |       round(sqrt(list_dot_product(v, v)), 6) AS l2_norm
        |FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings) e""".stripMargin,
    "embed_label_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, r.range AS dim,
        |       round(avg(CAST(embedding[r.range + 1] AS DOUBLE)), 4) + 0.0 AS c
        |FROM embeddings, range(64) r
        |GROUP BY label, r.range""".stripMargin,
    "embed_ann_lsh" -> annLshOracle,
    "embed_knn_rp" -> knnRpOracle,
    "embed_knn" ->
      s"""WITH $vecCtes,
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ${cosineSql("q.v", "q.norm", "c.v", "c.norm")} AS sim
        |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)
        |${rankedSql("s", "sim", K)}""".stripMargin)
}
