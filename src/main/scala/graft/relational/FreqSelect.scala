package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native

/** Exact order statistics over a (value, count) FREQUENCY table without
  * a global sort or an unpartitioned window — [[Quantiles]]'s iterative
  * histogram narrowing lifted from raw rows to frequency tables whose
  * value column lives on any integer grid up to DECIMAL(38,0).
  *
  * Why it exists: the catalog's med2 spelling (cumulative counts over
  * `Window.orderBy(v)`) is exact but runs the whole frequency table
  * through ONE task — fine for domain-bounded grids (anomaly_mad's
  * ≤49k cents/type), but the calendar-bounded tables it was also used
  * on (theilsen_trend's C(days,2) slope grid, ~2.9M rows per 6.5
  * fixture-years) made it the catalog's only multi-process spiller
  * (698 MB at the r11 cluster bench). Narrowing replaces that with
  * ⌈log_B(range)⌉ map-side-combined histogram passes over the cached
  * table; every exchange payload is ≤ B·segments rows and driver state
  * is O(#ranks) BigInts.
  *
  * Exactness: values are BIGINT/DECIMAL(38,0) grid points; counts are
  * BIGINT; bucket assignment is integral `div` (exact; run on BIGINT
  * when the observed [min, max] fits int64 — see the fast path below —
  * and on DECIMAL otherwise); the located statistic is the grid value
  * itself — no FP anywhere.
  */
object FreqSelect {

  /** Histogram width per pass. 2^16 makes the pass count
    * ⌈log_65536(range)⌉ — 3-4 passes for the catalog's e6-grid ranges
    * (~2^50-2^55) where 1024 took 6 — while the per-pass driver
    * collect stays bounded at B·segments rows (≤ ~128k rows / ~3 MB
    * for the med2 callers; the r13 measurement put the per-PASS fixed
    * cost at ~0.2 s, so passes, not histogram width, are the term
    * worth buying down). Map-side combine bounds every exchange at
    * B·segments rows regardless of input size.
    */
  val Buckets = 65536

  private final class Stat(val rank: Long, var lo: BigInt, var hi: BigInt,
      var below: Long)

  /** Values at the requested 0-indexed ranks of the multiset a
    * frequency table describes. `ranksOf` maps the multiset size n to
    * the wanted ranks (each in [0, n)). Returns (n, rank → value).
    *
    * `materialize = false` skips the internal checkpoint and re-executes
    * the caller's lineage on every pass — correct for any input, cheaper
    * when that lineage is BOUNDED work (theilsen's slope grid: a
    * broadcast nested-loop join over the ≤2.4k-row checkpointed daily
    * table; re-running it 4-5x costs less than materializing and
    * re-reading its 2.9M-row output, measured r14). Keep the default for
    * lineages with data-scale exchanges.
    */
  def orderStats(freq0: DataFrame, vCol: String, cntCol: String,
      ranksOf: Long => Seq[Long], materialize: Boolean = true)
      : (Long, Map[Long, BigInt]) = {
    // r14 (guide §2.3 narrower types / §5 memory): when the INPUT value
    // column is already integral, materialize the checkpoint as
    // primitive BIGINT instead of Decimal(38,0) — the r13 BIGINT fast
    // path ran compares/divs on longs but still checkpointed (and
    // re-cast, and garbage-collected) one boxed Decimal per row; at
    // theilsen's 2.9M-row slope table that boxing was 4.1 s of the
    // query's 6.4 s wall in jvmGCTime (BENCH_r14opt_before). Values are
    // identical grid points either way — only the physical type of the
    // materialized table changes. Decimal stays for over-int64 grids
    // (theilsen's residual table is DECIMAL-typed and keeps this path).
    val longIn = freq0.schema(vCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val base = freq0
      .select(
        (if (longIn) col(vCol).cast("long")
         else col(vCol).cast("decimal(38,0)")).as("v"),
        col(cntCol).cast("long").as("cnt"))
    val freq = if (materialize) base.transform(graft.Ckpt.cut) else base
    val head = freq.agg(sum(col("cnt")), min(col("v")), max(col("v"))).head()
    require(!head.isNullAt(0) && head.getLong(0) > 0,
      "orderStats over an empty frequency table")
    val n = head.getLong(0)
    def big(i: Int): BigInt =
      if (longIn) BigInt(head.getLong(i))
      else BigInt(head.getDecimal(i).toBigInteger)
    val (lo0, hi0) = (big(1), big(2))
    val ranks = ranksOf(n)
    require(ranks.forall(k => k >= 0 && k < n), s"ranks $ranks out of [0, $n)")
    val stats = ranks.distinct.sorted.map(new Stat(_, lo0, hi0, 0L))

    // BIGINT fast path: when the OBSERVED value range fits comfortably
    // in int64 (both bounds in range and the span below Long.Max/2, so
    // v−lo can never wrap), run every per-row comparison and the bucket
    // division on primitive longs instead of Decimal(38,0) — the same
    // integral floor divisions on the same grid points, so the chosen
    // buckets and the located values are identical by construction;
    // only the physical representation changes. The decimal path stays
    // for callers whose grid genuinely exceeds int64 (theilsen's
    // residual grid at the 100× corpus). Measured at the 2.9M-row
    // slope table: decimal compares + divs were the dominant per-pass
    // row cost.
    val useLong = lo0 >= BigInt(Long.MinValue) && hi0 <= BigInt(Long.MaxValue) &&
      (hi0 - lo0) < BigInt(Long.MaxValue / 2)
    val vv: Column = if (useLong) col("v").cast("long") else col("v")

    val B = BigInt(Buckets)
    var pass = 0
    while (stats.exists(s => s.hi > s.lo)) {
      pass += 1
      require(pass <= 64, s"orderStats failed to converge after $pass passes")
      val segs = stats.filter(s => s.hi > s.lo).map(s => (s.lo, s.hi))
        .distinct.sortBy(_._1)
      val bw = segs.map { case (l, h) => (h - l + 1 + B - 1) / B }
      // The whole per-row pass — segment membership, offset, width,
      // integral div, packed (seg, bucket) key — is ONE reference-
      // carried native expression ([[graft.functions.SegBucket]]): any
      // Column spelling of the per-pass bounds constant-folds them into
      // the generated source, so every narrowing pass recompiled a
      // fresh Janino class set (~3.7 s of theilsen's 6.2 s cold med2,
      // measured r14); with the bounds living in the expression object
      // all passes share one compiled class. Out-of-segment rows yield
      // -1 after ≤ |segs| primitive compares — the former separate
      // pass-2+ range filter is subsumed.
      val sb = Native(es => graft.functions.SegBucket(es.head,
        segs.map(_._1).toArray, segs.map(_._2).toArray, bw.toArray, Buckets), vv)
      val hist = freq
        .select(sb.as("p"), col("cnt"))
        .filter(col("p") >= 0L)
        .groupBy(col("p")).agg(sum(col("cnt")).as("c"))
        .collect()
        .map { r =>
          val p = r.getLong(0)
          ((p / Buckets).toInt, p % Buckets) -> r.getLong(1)
        }.toMap
      stats.filter(s => s.hi > s.lo).foreach { s =>
        val si = segs.indexWhere(seg => seg._1 == s.lo && seg._2 == s.hi)
        val w = bw(si)
        var cum = s.below
        var b = 0L
        var found = false
        while (!found) {
          val cnt = hist.getOrElse((si, b), 0L)
          if (cum + cnt > s.rank) {
            s.below = cum
            s.lo = segs(si)._1 + BigInt(b) * w
            s.hi = (s.lo + w - 1).min(segs(si)._2)
            found = true
          } else { cum += cnt; b += 1 }
        }
      }
    }
    (n, stats.map(s => s.rank -> s.lo).toMap)
  }

  /** Median x2 (the catalog's med2 convention: v(⌊(n−1)/2⌋) + v(⌊n/2⌋),
    * carrying twice the value so even counts stay on the integer grid).
    */
  def med2(freq: DataFrame, vCol: String, cntCol: String,
      materialize: Boolean = true): (Long, BigInt) = {
    val (n, vals) = orderStats(freq, vCol, cntCol,
      n => Seq((n - 1) / 2, n / 2), materialize)
    (n, vals((n - 1) / 2) + vals(n / 2))
  }
}
