package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact distributed quantiles WITHOUT a global sort: iterative
  * histogram narrowing (the classic selection-by-counting algorithm,
  * a.k.a. distributed median-of-histograms; Blum et al.'s selection
  * bound gives the sequential ancestry).
  *
  * Why it exists: `percentile` / any exact-sort formulation needs a
  * total order — at 100 TB that is THE pathological shuffle (every row
  * moves, one task per output range, stragglers on skew). This operator
  * finds exact order statistics with ~⌈log_B(range)⌉ + 1 passes, each a
  * NARROW columnar scan + one map-side-combined aggregate whose output
  * is ≤ B·segments rows (bounded, corpus-size-independent — the
  * catalog's bounded-fit discipline). For the price domain (~10^7
  * distinct cents) that is 4 passes with B = 1024 buckets. Compare
  * `agg_percentiles`, which carries the built-in exact `percentile`
  * on purpose as the small-group-BY path: this is the whole-table path
  * where that aggregate's per-group value buffer would OOM.
  *
  * Exactness across engines: prices live on the cent grid, so every
  * histogram count, bucket bound, and located order statistic is
  * BIGINT-exact. The only FP is the final percentile_cont-style
  * interpolation lo + (hi−lo)·frac — both engines evaluate it on
  * IDENTICAL doubles (cent/100 is correctly-rounded division, frac
  * derives from BIGINT n and the same p literal), in the same op
  * order, then round onto the 4dp grid.
  *
  * Scale notes: each pass pre-filters on the RAW price column with the
  * current segment bounds (a pushable range predicate — parquet
  * row-group min/max pruning kicks in as segments narrow), and rows
  * outside every active segment are never bucketized. Driver state is
  * O(#quantiles) longs.
  */
object Quantiles extends graft.Catalog {

  val Buckets = 1024L
  val Ps: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Mutable narrowing state for one order statistic: the target rank
    * (0-indexed), the current [lo, hi] cent range known to contain it,
    * and how many values sort strictly below lo.
    */
  private final case class Stat(rank: Long, var lo: Long, var hi: Long,
      var below: Long)

  def quantileNarrowExact(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val prices = Tables.lineitem(spark, d).select($"l_extendedprice".as("v"))
    val cents = prices.select(round($"v" * 100, 0).cast("long").as("c"))

    val head = cents.agg(
      count(lit(1)).as("n"), min($"c").as("lo"), max($"c").as("hi")).head()
    val (n, lo0, hi0) = (head.getLong(0), head.getLong(1), head.getLong(2))

    // ranks needed for percentile_cont: floor((n-1)p) and its successor
    val ks: Seq[(Double, Long, Double)] = Ps.map { p =>
      val pos = (n - 1) * p
      val k = math.floor(pos).toLong
      (p, k, pos - math.floor(pos))
    }
    val stats: Seq[Stat] =
      ks.flatMap { case (_, k, _) => Seq(k, math.min(k + 1, n - 1)) }
        .distinct.sorted.map(Stat(_, lo0, hi0, 0L))

    while (stats.exists(s => s.hi > s.lo)) {
      // disjoint active segments (stats narrowing inside the same range
      // share one histogram); each gets ⌈width/B⌉-cent buckets
      val segs = stats.filter(s => s.hi > s.lo).map(s => (s.lo, s.hi))
        .distinct.sortBy(_._1)
      val bw = segs.map { case (l, h) => (h - l + 1 + Buckets - 1) / Buckets }
      // pushable pre-filter on the raw column: parquet row-group pruning
      val keep = segs.map { case (l, h) =>
        $"v" >= (l - 1) / 100.0 && $"v" <= (h + 1) / 100.0
      }.reduce(_ || _)
      val segId = segs.zipWithIndex.foldRight(lit(-1L): Column) {
        case (((l, h), i), els) =>
          when($"c" >= l && $"c" <= h, lit(i.toLong)).otherwise(els)
      }
      val bwCol = bw.zipWithIndex.foldRight(lit(1L): Column) {
        case ((w, i), els) => when($"seg" === i.toLong, lit(w)).otherwise(els)
      }
      val loCol = segs.zipWithIndex.foldRight(lit(0L): Column) {
        case (((l, _), i), els) => when($"seg" === i.toLong, lit(l)).otherwise(els)
      }
      val hist = prices.filter(keep)
        .select(round($"v" * 100, 0).cast("long").as("c"))
        .withColumn("seg", segId)
        .filter($"seg" >= 0L)
        // exact floor-div: both operands are exact doubles < 2^53 and the
        // true quotient is ≥ 1/bw away from any wrong integer boundary
        .withColumn("b", floor(($"c" - loCol) / bwCol).cast("long"))
        .groupBy($"seg", $"b").count()
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      stats.filter(s => s.hi > s.lo).foreach { s =>
        val si = segs.indexWhere(seg => seg._1 == s.lo && seg._2 == s.hi)
        val w = bw(si)
        var cum = s.below
        var b = 0L
        var found = false
        while (!found) {
          val cnt = hist.getOrElse((si.toLong, b), 0L)
          if (cum + cnt > s.rank) {
            s.below = cum
            s.lo = segs(si)._1 + b * w
            s.hi = math.min(s.lo + w - 1, segs(si)._2)
            found = true
          } else { cum += cnt; b += 1 }
        }
      }
    }

    val byRank = stats.map(s => s.rank -> s.lo).toMap
    val rows = ks.map { case (p, k, frac) =>
      val loC = byRank(k)
      val hiC = byRank(math.min(k + 1, n - 1))
      val (vLo, vHi) = (loC / 100.0, hiC / 100.0)
      val value = vLo + (vHi - vLo) * frac
      (p, n, k, loC, hiC,
        BigDecimal(value).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    rows.toDF("p", "n", "k", "lo_cents", "hi_cents", "value")
  }

  private def quantileOracle: String =
    s"""WITH t AS (SELECT l_extendedprice AS v FROM lineitem),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
       |ps AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS q(p)),
       |kk AS (SELECT p, n, CAST(floor((n - 1) * p) AS BIGINT) AS k,
       |              (n - 1) * p - floor((n - 1) * p) AS frac
       |       FROM ps, nn),
       |ranked AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS r FROM t),
       |vals AS (
       |  SELECT kk.p AS p, kk.n AS n, kk.k AS k, kk.frac AS frac,
       |         max(CASE WHEN ranked.r = kk.k THEN ranked.v END) AS lo_v,
       |         max(CASE WHEN ranked.r = least(kk.k + 1, kk.n - 1)
       |             THEN ranked.v END) AS hi_v
       |  FROM kk JOIN ranked
       |    ON ranked.r BETWEEN kk.k AND least(kk.k + 1, kk.n - 1)
       |  GROUP BY 1, 2, 3, 4)
       |SELECT p, n, k,
       |       CAST(round(lo_v * 100, 0) AS BIGINT) AS lo_cents,
       |       CAST(round(hi_v * 100, 0) AS BIGINT) AS hi_cents,
       |       round(lo_v + (hi_v - lo_v) * frac, 4) AS value
       |FROM vals""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quantile_narrow_exact" -> (quantileNarrowExact _))

  val oracles: Map[String, String] = Map(
    "quantile_narrow_exact" -> quantileOracle)
}
