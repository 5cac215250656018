package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact frequent-item mining at scale: the two-pass
  * candidate-then-recount pattern.
  *
  * The naive `groupBy(token).count.filter` shuffles EVERY distinct token
  * — at 100 TB that is a vocabulary-sized shuffle dominated by the
  * long tail that can never qualify. The production shape prunes the
  * tail before it ever reaches the shuffle:
  *
  *   Pass 1 (narrow): each partition runs a Misra–Gries summary with K
  *   counters over its tokens and emits only its <= K surviving
  *   candidates. MG's eviction guarantee makes the union of
  *   per-partition candidates a PROVABLE superset of every item with
  *   global frequency > N/K: an item absent from partition p's summary
  *   has local count <= N_p/K, so an item absent from ALL summaries has
  *   global count <= Σ N_p/K = N/K (mergeable-summaries argument,
  *   Agarwal et al., PODS'12).
  *
  *   Pass 2 (exact): semi-join the token stream against the broadcast
  *   candidate set (<= K × partitions rows, vocabulary-independent) and
  *   recount EXACTLY, filtering by the true threshold. The output is
  *   therefore exact — identical to the naive plan — not an estimate,
  *   and partitioning-independent, which is what makes it oracle-able.
  *
  * Threshold: count >= Total/1000, compared in pure BIGINT arithmetic
  * (`cnt * 1000 >= total`) — no FP anywhere. K = 2000 > 1000 gives the
  * superset guarantee with 2x margin.
  *
  * Reference basis: wc (mrapps/wc.go) counts every word exactly with a
  * full shuffle; this is the scale-aware refinement for "frequent words
  * only" queries.
  */
object HeavyHitters extends graft.Catalog {

  /** Counters per partition summary. Must exceed Total/threshold
    * (= 1000) for the superset guarantee.
    */
  val K = 2000

  /** Misra–Gries over one partition's token iterator: at most K
    * counters; on overflow every counter decrements (evicting zeros).
    * Survivors are the partition's candidate set.
    */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { tok =>
      counters.get(tok) match {
        case Some(c) => counters.update(tok, c + 1)
        case None if counters.size < k => counters.update(tok, 1L)
        case None =>
          // decrement-all; drop zeroed counters (amortized O(1)/token)
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.mapValuesInPlace((_, c) => c - 1)
          counters.foreach { case (t, c) => if (c == 0) dead += t }
          dead.foreach(counters.remove)
      }
    }
    counters.keysIterator
  }

  /** Tokens appearing in at least 1/1000 of all token positions across
    * the corpus, with EXACT counts: (tok, cnt, total).
    */
  def frequentTokens(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, d)
      .select(explode(TextAnalysis.toks($"text")).as("tok"))
    val candidates = toks.as[String]
      .mapPartitions(it => misraGries(it, K))
      .toDF("tok")
      .distinct()
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy($"tok")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter($"cnt" * 1000 >= $"total")
      .select($"tok", $"cnt", $"total")
  }

  /** CMS accuracy: eps (additive error as a fraction of total count) and
    * confidence. Fixed seed keeps the sketch — and thus the query
    * result — fully deterministic.
    */
  val CmsEps = 0.001
  val CmsConf = 0.99
  val CmsSeed = 42

  /** Approximate tier of frequent-item mining: per-source count-min
    * sketches (Spark's built-in `count_min_sketch` aggregate — one
    * partial+final pass; the only shuffle payload is the constant-size
    * sketch, ~KBs per source regardless of token count), merged into a
    * corpus sketch, probed for every EXACT heavy hitter's estimate:
    * (tok, cnt, est) with the CMS guarantee cnt <= est <= cnt + eps·N.
    *
    * The merge is the point: sketches are commutative monoids (the same
    * property as the gossip health table, §2.1-O14), so a 1000-executor
    * corpus aggregates as cheaply as a laptop's. Sketch bytes and the
    * probe set are BOUNDED driver artifacts (sources × KB; <= 1000
    * hitters by the threshold), the sanctioned collect category of
    * SURVEY §8 — token-scale data never leaves the executors.
    */
  def cmsTokenEstimates(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, d)
      .select($"source", explode(TextAnalysis.toks($"text")).as("tok"))
    val sketchRows = toks
      .groupBy($"source")
      .agg(expr(s"count_min_sketch(tok, ${CmsEps}d, ${CmsConf}d, $CmsSeed)")
        .as("sk"))
      .select($"sk").as[Array[Byte]].collect()
    val merged = sketchRows.map(b =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val exact = frequentTokens(spark, d)
      .select($"tok", $"cnt").as[(String, Long)].collect().sortBy(_._1)
    exact.map { case (t, c) => (t, c, merged.estimateCount(t)) }
      .toSeq.toDF("tok", "cnt", "est")
  }

  /** Dataflow CMS geometry: depth 4 rows (four non-overlapping 32-bit
    * words of ONE md5 per token — the [[Dedup.md5Prefix32]] cross-engine
    * base hash), width 2048 buckets. The counter table is bounded by
    * construction at depth × width = 8192 cells at ANY corpus size.
    */
  val CmsDepth = 4
  val CmsWidth = 2048

  private def cmsBuckets(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until CmsDepth).map(i => Dedup.md5Prefix32(c, 1 + 8 * i) % CmsWidth): _*)

  /** The fully-ORACLED count-min tier: same (tok, cnt, est) surface as
    * [[cmsTokenEstimates]], but the sketch is pure dataflow instead of a
    * sketch binary, so DuckDB replays it bit for bit.
    *
    *   counters: token stream → (row, md5-slice % width) cells →
    *   partial+final count. Partial aggregation collapses each map task
    *   to <= 8192 cells, so the shuffle payload is CONSTANT in corpus
    *   size — the same mergeable-monoid economics as the binary sketch
    *   (§2.1-O14), with none of its opacity.
    *
    *   estimate(t) = min over rows of counter[row][hash_row(t)] — the
    *   textbook CMS read (Cormode & Muthukrishnan '05), here a broadcast
    *   join of the probe set against the 8192-row counter table and a
    *   min-aggregate. Guarantee: est >= cnt always (spec-asserted).
    */
  def cmsDataflowEstimates(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, d)
      .select(explode(TextAnalysis.toks($"text")).as("tok"))
    val counters = toks
      .select(posexplode(cmsBuckets($"tok")).as(Seq("ri", "bucket")))
      .groupBy($"ri", $"bucket")
      .agg(count(lit(1)).as("c"))
    val probes = frequentTokens(spark, d)
      .select($"tok", $"cnt", posexplode(cmsBuckets($"tok")).as(Seq("ri", "bucket")))
    probes.join(broadcast(counters), Seq("ri", "bucket"))
      .groupBy($"tok", $"cnt")
      .agg(min($"c").as("est"))
  }

  /** Dataflow HLL geometry: 64 buckets (top 6 bits of the md5 word), rho
    * over the low 26 bits (1..27), alpha_64 = 0.709 (Flajolet et al.
    * '07, Fig. 3). The register table is bounded at groups × 64 cells at
    * ANY corpus size; 64 buckets keep raw HLL in its valid regime
    * (n > 2.5m = 160) for the user-day cardinalities being sketched.
    */
  /** FROZEN at 64: the literals below — the 2^26 bucket split
    * (67108864), the 2^27 indicator scale (134217728), m² = 4096.0,
    * alpha_64 = 0.709 — and their copies in the generated oracle SQL
    * are all derived from m = 64. Changing this value requires updating
    * every one of them together (they are deliberately literal so the
    * Spark expression and the oracle stay token-identical).
    */
  val HllBuckets = 64

  /** The fully-ORACLED distinct-count tier: daily-active-users per event
    * type — HLL's canonical production metric — as a raw HyperLogLog
    * estimate (no small/large-range corrections: a documented,
    * engine-identical definition) built as pure dataflow, next to exact
    * `count(DISTINCT)` for side-by-side error reading.
    *
    *   registers: (user@day) keys → (event_type, top-6-bits bucket) →
    *   max(rho(low 26 bits)) — duplicates hash identically so the
    *   multiset needs no pre-distinct, and partial aggregation collapses
    *   each map task to <= groups × 64 cells: CONSTANT shuffle payload
    *   in corpus size, the HLL monoid economics (cf. the binary
    *   `hll_parts_sketch` tier) in transparent form.
    *
    *   All sketch math is INTEGER until the final division: the
    *   indicator sum is scaled by 2^27 (`shiftleft(1L, 27 - maxrho)` is
    *   exact BIGINT; empty buckets compensate as 2^27 each), so there is
    *   no FP-summation-order hazard; the one double expression —
    *   alpha_64 * m^2 * 2^27 / S — is written token-identically in the
    *   oracle SQL, making the estimate bit-reproducible cross-engine.
    */
  def hllDataflowDistinct(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val keys = Tables.events(spark, d)
      .select($"event_type",
        concat($"user_id".cast("string"), lit("@"),
          to_date($"ts").cast("string")).as("k"))
    val cells = keys
      .withColumn("h", Dedup.md5Prefix32($"k", 1))
      .withColumn("bucket", expr("h div 67108864"))
      .withColumn("w", $"h" % 67108864)
      .withColumn("rho",
        when($"w" === 0, lit(27)).otherwise(lit(27) - length(bin($"w"))))
      .groupBy($"event_type", $"bucket")
      .agg(max($"rho").as("maxrho"))
    val sk = cells.groupBy($"event_type")
      .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(27 - maxrho AS INT))"))
        + (lit(HllBuckets) - count(lit(1))) * lit(134217728L)).as("s"))
    val ex = keys.groupBy($"event_type").agg(countDistinct($"k").as("n_exact"))
    ex.join(sk, Seq("event_type"))
      .select($"event_type", $"n_exact",
        round(lit(0.709) * lit(4096.0) * lit(134217728.0) / $"s")
          .cast("long").as("est"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "heavy_hitter_tokens" -> (frequentTokens _),
    "cms_token_estimates" -> (cmsTokenEstimates _),
    "cms_dataflow_estimates" -> (cmsDataflowEstimates _),
    "hll_dataflow_distinct" -> (hllDataflowDistinct _),
    "hll_intersection" -> (hllIntersection _),
    "cms_join_size" -> (cmsJoinSize _),
    "hll_rollup_merge" -> (hllRollupMerge _))

  override val noOracle: Map[String, String] = Map(
    "cms_token_estimates" -> ("engine-native count-min sketch binary; " +
      "cms_dataflow_estimates is the oracled twin"))

  /** Sketch-rollup economics made checkable: per month, the distinct
    * active users estimated two ways — DIRECTLY from the month's raw
    * keys, and by MERGING the month's per-day register tables
    * (cell-wise max). Because register max is ASSOCIATIVE, the two
    * sketches are IDENTICAL by construction — `est_merged ==
    * est_direct` exactly, which is the entire reason a 100 TB
    * deployment computes sketches once per day-partition and folds
    * them forever after instead of rescanning history (the
    * mergeable-summary contract, here an assertable equality rather
    * than a slide-ware claim). Exact per-month distinct rides along.
    *
    * Shape: ONE (month, day, bucket) register aggregate off the scan
    * (bounded ≤ days × 64 cells); the day→month merge and the direct
    * month table are both re-aggregates of that bounded frame; the
    * exact companion is the one additional distinct pass.
    */
  def hllRollupMerge(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, d)
      .select(
        (year($"ts") * 12 + month($"ts")).cast("long").as("mon"),
        to_date($"ts").as("day"),
        $"user_id".cast("string").as("k"))
      .distinct()
      .withColumn("h", Dedup.md5Prefix32($"k", 1))
      .withColumn("bucket", expr("h div 67108864"))
      .withColumn("w", $"h" % 67108864)
      .withColumn("rho",
        when($"w" === 0, lit(27)).otherwise(lit(27) - length(bin($"w"))))
      .groupBy($"mon", $"day", $"bucket")
      .agg(max($"rho").as("maxrho"))
      .transform(graft.Ckpt.cut) // <= days x 64 cells; three consumers
    // unlike the raw-regime [[hllDataflowDistinct]], the rollup carries
    // Flajolet §4's small-range LINEAR COUNTING branch (est ≤ 2.5m and
    // empty buckets exist ⇒ m·ln(m/V)) — a month can be tiny, and the
    // raw estimator is badly biased at n ≪ m; the merge identity is
    // unaffected (identical registers ⇒ identical V ⇒ identical branch)
    def estOf(grouped: DataFrame): DataFrame = grouped
      .groupBy($"mon")
      .agg(
        (sum(expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(27 - maxrho AS INT))")) +
          (lit(HllBuckets) - count(lit(1))) * lit(134217728L)).as("s"),
        (lit(HllBuckets) - count(lit(1))).as("vz"))
      .select($"mon",
        when(
          round(lit(0.709) * lit(4096.0) * lit(134217728.0) / $"s") <=
            lit(2.5 * HllBuckets) && $"vz" > 0L,
          round(lit(HllBuckets.toDouble) *
            log(lit(HllBuckets.toDouble) / $"vz".cast("double"))))
          .otherwise(
            round(lit(0.709) * lit(4096.0) * lit(134217728.0) / $"s"))
          .cast("long").as("est"))
    // merged: fold the per-day registers to month registers
    val merged = estOf(cells.groupBy($"mon", $"bucket")
      .agg(max($"maxrho").as("maxrho")))
      .withColumnRenamed("est", "est_merged")
    // direct: an INDEPENDENT from-scratch month sketch over the
    // month-distinct key set (a different distinct base — a user
    // active on several days feeds the day sketch several times, the
    // direct sketch once; max makes the registers identical anyway)
    val direct = estOf(Tables.events(spark, d)
      .select((year($"ts") * 12 + month($"ts")).cast("long").as("mon"),
        $"user_id".cast("string").as("k"))
      .distinct()
      .withColumn("h", Dedup.md5Prefix32($"k", 1))
      .withColumn("bucket", expr("h div 67108864"))
      .withColumn("w", $"h" % 67108864)
      .withColumn("rho",
        when($"w" === 0, lit(27)).otherwise(lit(27) - length(bin($"w"))))
      .groupBy($"mon", $"bucket")
      .agg(max($"rho").as("maxrho")))
      .withColumnRenamed("est", "est_direct")
    val days = cells.select($"mon", $"day").distinct()
      .groupBy($"mon").agg(count(lit(1)).as("n_days"))
    val exact = Tables.events(spark, d)
      .select((year($"ts") * 12 + month($"ts")).cast("long").as("mon"),
        $"user_id")
      .distinct()
      .groupBy($"mon").agg(count(lit(1)).as("n_exact_users"))
    days.join(exact, "mon").join(merged, "mon").join(direct, "mon")
      .select($"mon", $"n_days", $"n_exact_users",
        $"est_direct", $"est_merged",
        ($"est_merged" === $"est_direct").cast("boolean")
          .as("merge_lossless"))
  }

  /** Sketch-based equi-join size estimation (the AGMS/CMS inner-product
    * estimator, Alon–Gibbons–Matias–Szegedy '99 / Cormode &
    * Muthukrishnan '05 §4.2): |A ⋈ B| = Σ_k f_A(k)·f_B(k) estimated as
    * min over lanes of the counter-table inner product Σ_i a[i]·b[i] —
    * what a cost-based optimizer consults BEFORE committing to a join
    * strategy, estimated from two constant-size sketches without
    * shipping either key set. Estimate is an upper bound (colliding
    * keys only add mass; spec-asserted).
    *
    * Probe streams: events.user_id vs orders.o_custkey (the
    * user-activity ⋈ customer-orders join). Each side collapses to the
    * ≤ depth×width counter table (map-side combined, constant shuffle
    * payload at ANY corpus size); the inner product is a bounded-table
    * join. The exact companion folds the two key-frequency tables —
    * vocab-sized, the one data-scale exchange per side. Products are
    * exact DECIMAL(38,0)/HUGEINT; sizes are emitted as LOSSLESS decimal
    * strings (the [[graft.relational.TimeSeries]] wavelet convention —
    * a join size at 100 TB exceeds both int64 and exact-double range);
    * the ratio is one division, 6dp.
    */
  def cmsJoinSize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val a = Tables.events(spark, d).select($"user_id".cast("string").as("k"))
    val b = Tables.orders(spark, d).select($"o_custkey".cast("string").as("k"))
    def sketch(s: org.apache.spark.sql.DataFrame) = s
      .select(posexplode(cmsBuckets(col("k"))).as(Seq("ri", "bucket")))
      .groupBy($"ri", $"bucket").agg(count(lit(1)).as("c"))
    val est = sketch(a).withColumnRenamed("c", "ca")
      .join(sketch(b).withColumnRenamed("c", "cb"), Seq("ri", "bucket"))
      .groupBy($"ri").agg(sum(dec($"ca") * dec($"cb")).as("lane"))
      .agg(min($"lane").as("est_size"))
    val exact = a.groupBy($"k").agg(count(lit(1)).as("fa"))
      .join(b.groupBy($"k").agg(count(lit(1)).as("fb")), "k")
      .agg(coalesce(sum(dec($"fa") * dec($"fb")), dec(lit(0L)))
        .as("exact_size"))
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    na.crossJoin(broadcast(nb))
      .crossJoin(broadcast(exact)).crossJoin(broadcast(est))
      .select(
        $"n_a", $"n_b",
        $"exact_size".cast("string").as("exact_size"),
        $"est_size".cast("string").as("est_size"),
        // disjoint key sets (exact 0) would divide by zero: pin to 0
        when($"exact_size" > 0,
          round($"est_size".cast("double") / $"exact_size".cast("double"), 6)
            + lit(0.0))
          .otherwise(lit(0.0)).as("overcount_ratio"))
  }

  /** Sketch-algebra set intersection: estimated |click ∩ view| active
    * user-days from the per-type HLL register tables via
    * inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    * the UNION sketch is the cell-wise register max (the one set
    * operation HLL supports losslessly; Flajolet '07 §4) — the
    * mergeable-summary answer to "how many users do both" that never
    * ships raw keys between groups. Exact companions for all three
    * cardinalities ride along so the estimate is audited in-row.
    *
    * Shape: ONE distinct pass over the filtered scan (the (type, key)
    * set, checkpointed — register build and both exact companions
    * consume it); registers are ≤ 2×64 cells, the union merge and
    * both estimates are bounded-table algebra; the exact-intersection
    * companion is one keyed count (m = 2 ⇔ the user-day is in both
    * sets, since the input is distinct per type). All register math
    * is the exact integer form of [[hllDataflowDistinct]]; the
    * estimate triple is rounded to whole keys BEFORE the
    * inclusion–exclusion subtraction, so est_both is an exact BIGINT
    * difference (signed: a sketch can go negative on tiny overlaps —
    * that is the honest sketch answer).
    */
  def hllIntersection(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dk = Tables.events(spark, d)
      .filter($"event_type" === "click" || $"event_type" === "view")
      .select($"event_type",
        concat($"user_id".cast("string"), lit("@"),
          to_date($"ts").cast("string")).as("k"))
      .distinct()
      .transform(graft.Ckpt.cut) // user-day-bounded; three consumers, one scan
    val cells = dk
      .withColumn("h", Dedup.md5Prefix32($"k", 1))
      .withColumn("bucket", expr("h div 67108864"))
      .withColumn("w", $"h" % 67108864)
      .withColumn("rho",
        when($"w" === 0, lit(27)).otherwise(lit(27) - length(bin($"w"))))
      .groupBy($"event_type", $"bucket")
      .agg(max($"rho").as("maxrho"))
      .transform(graft.Ckpt.cut) // <= 2 x 64 cells; per-type and union consumers
    def sCol = (sum(expr(
      "shiftleft(CAST(1 AS BIGINT), CAST(27 - maxrho AS INT))")) +
      (lit(HllBuckets) - count(lit(1))) * lit(134217728L)).as("s")
    val estOfS = round(lit(0.709) * lit(4096.0) * lit(134217728.0) / $"s")
      .cast("long")
    val perType = cells.groupBy($"event_type").agg(sCol)
      .agg(
        sum(when($"event_type" === "click", estOfS).otherwise(0L))
          .as("est_click"),
        sum(when($"event_type" === "view", estOfS).otherwise(0L))
          .as("est_view"))
    val union = cells.groupBy($"bucket").agg(max($"maxrho").as("maxrho"))
      .agg(sCol)
      .select(estOfS.as("est_union"))
    val ex = dk.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .agg(
        sum(when($"event_type" === "click", $"n").otherwise(0L))
          .as("n_exact_click"),
        sum(when($"event_type" === "view", $"n").otherwise(0L))
          .as("n_exact_view"))
    val both = dk.groupBy($"k").agg(count(lit(1)).as("m"))
      .agg(sum(when($"m" === 2L, 1L).otherwise(0L)).as("n_exact_both"))
    ex.crossJoin(broadcast(both))
      .crossJoin(broadcast(perType))
      .crossJoin(broadcast(union))
      .select(
        $"n_exact_click", $"n_exact_view", $"n_exact_both",
        $"est_click", $"est_view", $"est_union",
        ($"est_click" + $"est_view" - $"est_union").as("est_both"))
  }

  val oracles: Map[String, String] = Map(
    "heavy_hitter_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT tok, count(*) AS cnt, (SELECT total FROM tot) AS total
        |FROM toks GROUP BY tok
        |HAVING count(*) * 1000 >= (SELECT total FROM tot)""".stripMargin,
    "cms_dataflow_estimates" ->
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
         |  FROM documents),
         |tot AS (SELECT count(*) AS total FROM toks),
         |hh AS (
         |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
         |  HAVING count(*) * 1000 >= (SELECT total FROM tot)),
         |rows_ AS (SELECT unnest(range($CmsDepth)) AS ri),
         |cells AS (
         |  SELECT ri, CAST('0x' || substring(md5(tok), 1 + 8*ri, 8) AS BIGINT) % $CmsWidth AS bucket
         |  FROM toks, rows_),
         |counters AS (SELECT ri, bucket, count(*) AS c FROM cells GROUP BY ri, bucket),
         |probes AS (
         |  SELECT tok, cnt, ri,
         |         CAST('0x' || substring(md5(tok), 1 + 8*ri, 8) AS BIGINT) % $CmsWidth AS bucket
         |  FROM hh, rows_)
         |SELECT p.tok, p.cnt, min(c.c) AS est
         |FROM probes p JOIN counters c USING (ri, bucket)
         |GROUP BY p.tok, p.cnt""".stripMargin,
    "hll_rollup_merge" ->
      """WITH dk AS MATERIALIZED (
        |  SELECT DISTINCT
        |    CAST(year(CAST(ts AS TIMESTAMP)) * 12
        |         + month(CAST(ts AS TIMESTAMP)) AS BIGINT) AS mon,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    CAST(user_id AS VARCHAR) AS k
        |  FROM events),
        |cells AS MATERIALIZED (
        |  SELECT mon, day, h // 67108864 AS bucket,
        |    max(CASE WHEN h % 67108864 = 0 THEN 27
        |             ELSE 27 - length(bin(h % 67108864)) END) AS maxrho
        |  FROM (SELECT mon, day,
        |          CAST('0x' || substring(md5(k), 1, 8) AS BIGINT) AS h
        |        FROM dk) x
        |  GROUP BY 1, 2, 3),
        |merged AS (
        |  SELECT mon,
        |    CAST(CASE WHEN round(0.709 * 4096.0 * 134217728.0 /
        |           (CAST(sum(CAST(1 AS BIGINT) << (27 - maxrho)) AS BIGINT)
        |            + (64 - count(*)) * 134217728)) <= 160.0
        |          AND (64 - count(*)) > 0
        |      THEN round(64.0 * ln(64.0 / CAST(64 - count(*) AS DOUBLE)))
        |      ELSE round(0.709 * 4096.0 * 134217728.0 /
        |           (CAST(sum(CAST(1 AS BIGINT) << (27 - maxrho)) AS BIGINT)
        |            + (64 - count(*)) * 134217728))
        |      END AS BIGINT) AS est_merged
        |  FROM (SELECT mon, bucket, max(maxrho) AS maxrho
        |        FROM cells GROUP BY 1, 2) m
        |  GROUP BY mon),
        |direct AS (
        |  SELECT mon,
        |    CAST(CASE WHEN round(0.709 * 4096.0 * 134217728.0 /
        |           (CAST(sum(CAST(1 AS BIGINT) << (27 - maxrho)) AS BIGINT)
        |            + (64 - count(*)) * 134217728)) <= 160.0
        |          AND (64 - count(*)) > 0
        |      THEN round(64.0 * ln(64.0 / CAST(64 - count(*) AS DOUBLE)))
        |      ELSE round(0.709 * 4096.0 * 134217728.0 /
        |           (CAST(sum(CAST(1 AS BIGINT) << (27 - maxrho)) AS BIGINT)
        |            + (64 - count(*)) * 134217728))
        |      END AS BIGINT) AS est_direct
        |  FROM (
        |    SELECT mon, h // 67108864 AS bucket,
        |      max(CASE WHEN h % 67108864 = 0 THEN 27
        |               ELSE 27 - length(bin(h % 67108864)) END) AS maxrho
        |    FROM (SELECT DISTINCT mon, k,
        |            CAST('0x' || substring(md5(k), 1, 8) AS BIGINT) AS h
        |          FROM dk) y
        |    GROUP BY 1, 2) z
        |  GROUP BY mon),
        |days AS (
        |  SELECT mon, CAST(count(DISTINCT day) AS BIGINT) AS n_days
        |  FROM dk GROUP BY mon),
        |ex AS (
        |  SELECT mon, CAST(count(DISTINCT k) AS BIGINT) AS n_exact_users
        |  FROM dk GROUP BY mon)
        |SELECT mon, n_days, n_exact_users, est_direct, est_merged,
        |  est_merged = est_direct AS merge_lossless
        |FROM days
        |JOIN ex USING (mon) JOIN merged USING (mon) JOIN direct USING (mon)"""
        .stripMargin,
    "cms_join_size" ->
      s"""WITH a AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS k FROM events),
         |b AS MATERIALIZED (
         |  SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
         |rows_ AS (SELECT unnest(range($CmsDepth)) AS ri),
         |sa AS (
         |  SELECT ri,
         |    CAST('0x' || substring(md5(k), 1 + 8*ri, 8) AS BIGINT) % $CmsWidth
         |      AS bucket,
         |    CAST(count(*) AS BIGINT) AS ca
         |  FROM a, rows_ GROUP BY 1, 2),
         |sb AS (
         |  SELECT ri,
         |    CAST('0x' || substring(md5(k), 1 + 8*ri, 8) AS BIGINT) % $CmsWidth
         |      AS bucket,
         |    CAST(count(*) AS BIGINT) AS cb
         |  FROM b, rows_ GROUP BY 1, 2),
         |est AS (
         |  SELECT min(lane) AS est_size FROM (
         |    SELECT sa.ri, sum(CAST(ca AS HUGEINT) * CAST(cb AS HUGEINT))
         |      AS lane
         |    FROM sa JOIN sb ON sa.ri = sb.ri AND sa.bucket = sb.bucket
         |    GROUP BY sa.ri) l),
         |ex AS (
         |  SELECT coalesce(sum(CAST(fa AS HUGEINT) * CAST(fb AS HUGEINT)),
         |                  CAST(0 AS HUGEINT)) AS exact_size
         |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS fa FROM a GROUP BY k) x
         |  JOIN (SELECT k, CAST(count(*) AS BIGINT) AS fb FROM b GROUP BY k) y
         |    USING (k)),
         |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b)
         |SELECT n_a, n_b,
         |  CAST(exact_size AS VARCHAR) AS exact_size,
         |  CAST(est_size AS VARCHAR) AS est_size,
         |  CASE WHEN exact_size > 0
         |       THEN round(CAST(est_size AS DOUBLE)
         |                  / CAST(exact_size AS DOUBLE), 6) + 0.0
         |       ELSE 0.0 END AS overcount_ratio
         |FROM na, nb, ex, est""".stripMargin,
    "hll_intersection" ->
      """WITH dk AS MATERIALIZED (
        |  SELECT DISTINCT event_type,
        |    CAST(user_id AS VARCHAR) || '@' ||
        |    CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |         AS VARCHAR) AS k
        |  FROM events
        |  WHERE event_type = 'click' OR event_type = 'view'),
        |cells AS MATERIALIZED (
        |  SELECT event_type, h // 67108864 AS bucket,
        |    max(CASE WHEN h % 67108864 = 0 THEN 27
        |             ELSE 27 - length(bin(h % 67108864)) END) AS maxrho
        |  FROM (SELECT event_type,
        |          CAST('0x' || substring(md5(k), 1, 8) AS BIGINT) AS h
        |        FROM dk) x
        |  GROUP BY event_type, h // 67108864),
        |pt AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN est ELSE 0 END)
        |      AS BIGINT) AS est_click,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN est ELSE 0 END)
        |      AS BIGINT) AS est_view
        |  FROM (
        |    SELECT event_type,
        |      CAST(round(0.709 * 4096.0 * 134217728.0 /
        |        (CAST(sum(CAST(1 AS BIGINT) << (27 - maxrho)) AS BIGINT)
        |         + (64 - count(*)) * 134217728)) AS BIGINT) AS est
        |    FROM cells GROUP BY event_type) s),
        |un AS (
        |  SELECT CAST(round(0.709 * 4096.0 * 134217728.0 /
        |    (CAST(sum(CAST(1 AS BIGINT) << (27 - maxrho)) AS BIGINT)
        |     + (64 - count(*)) * 134217728)) AS BIGINT) AS est_union
        |  FROM (SELECT bucket, max(maxrho) AS maxrho
        |        FROM cells GROUP BY bucket) u),
        |ex AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN n ELSE 0 END)
        |      AS BIGINT) AS n_exact_click,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN n ELSE 0 END)
        |      AS BIGINT) AS n_exact_view
        |  FROM (SELECT event_type, count(*) AS n
        |        FROM dk GROUP BY event_type) e),
        |bo AS (
        |  SELECT CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_both
        |  FROM (SELECT k, count(*) AS m FROM dk GROUP BY k) b)
        |SELECT n_exact_click, n_exact_view, n_exact_both,
        |  est_click, est_view, est_union,
        |  est_click + est_view - est_union AS est_both
        |FROM ex, bo, pt, un""".stripMargin,
    "hll_dataflow_distinct" ->
      """WITH keys AS (
        |  SELECT event_type,
        |         CAST(user_id AS VARCHAR) || '@' ||
        |         CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS VARCHAR) AS k
        |  FROM events),
        |h AS (SELECT event_type, k, CAST('0x' || substring(md5(k), 1, 8) AS BIGINT) AS h FROM keys),
        |cells AS (
        |  SELECT event_type, h // 67108864 AS bucket,
        |         max(CASE WHEN h % 67108864 = 0 THEN 27
        |                  ELSE 27 - length(bin(h % 67108864)) END) AS maxrho
        |  FROM h GROUP BY event_type, h // 67108864),
        |sk AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(1 AS BIGINT) << (27 - maxrho)) AS BIGINT)
        |           + (64 - count(*)) * 134217728 AS s
        |  FROM cells GROUP BY event_type),
        |ex AS (SELECT event_type, count(DISTINCT k) AS n_exact FROM keys GROUP BY event_type)
        |SELECT e.event_type, e.n_exact,
        |  CAST(round(0.709 * 4096.0 * 134217728.0 / s) AS BIGINT) AS est
        |FROM ex e JOIN sk USING (event_type)""".stripMargin)
}
