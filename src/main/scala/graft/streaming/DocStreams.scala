package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.Tables
import graft.text.TextAnalysis

/** The streaming form of the incremental-dedup ADMISSION decision
  * (the landing-zone twin of `text.Dedup.incrementalAdmission`, which
  * adjudicates one static new batch against a static corpus): documents
  * arrive as a stream, each is fingerprinted, and the verdict is
  * decided ONLINE against the fingerprints seen inside a bounded
  * event-time horizon — `admit` for the first sighting of a content
  * chain, `drop_dup` (with the chain root as `matched_to`) for a
  * re-sighting within [[HorizonSec]] of the chain's tail.
  *
  * Chain semantics (the state-boundedness contract): sightings of the
  * same fingerprint link into a chain while consecutive gaps stay
  * ≤ horizon; a gap > horizon starts a NEW chain whose head is admitted
  * again. That gap rule is what makes the state evictable — a
  * fingerprint idle for a full horizon can never affect a future
  * verdict, so its cell is dropped by an event-time timer the moment
  * the watermark passes chain-tail + horizon. State therefore holds
  * only the fingerprints ACTIVE inside the horizon (at a steady arrival
  * rate r docs/s, ~r·horizon cells) regardless of stream length — the
  * plateau `STREAM_sf10.json` records at 100× volume. A dedup that
  * instead matched against ALL history (the batch `dedup_exact`
  * semantics) would grow state with the corpus; on an unbounded stream
  * that is the adjudicated-unbounded EWMA trade-off, and the horizon
  * form is the one a 100 TB landing zone actually runs.
  *
  * The BATCH TWIN [[dedupAdmitChain]] is registered as a catalog query
  * with a DuckDB oracle: arrival time is synthesized deterministically
  * from doc_id ([[ArrivalSpacingSec]] apart), chains are rebuilt with a
  * lag/cumsum gap-session window, and the verdict is the same
  * (root=admit, rest drop_dup→root). StreamingSpec pins stream == batch
  * on the fixture corpus.
  *
  * ARRIVAL-ORDER CONTRACT (when stream == batch holds): the twin
  * defines chains over EVENT-time order (t, doc_id); the stream decides
  * by ARRIVAL and cannot retract an emitted verdict (Append mode). The
  * two agree exactly when, per fingerprint, arrival order preserves
  * event-time order ACROSS batches (within a batch the processor sorts,
  * healing any in-batch disorder), and stay equal under bounded
  * cross-batch lateness for non-root rows whose removal does not bridge
  * a >horizon gap (the doc_admit_disorder leg of `STREAM_sf10.json`
  * held this at 100× volume). A late row with t EARLIER than the live
  * chain's root is the one irreconcilable case: the twin would crown it
  * root, but the stream already emitted `admit` for the later-t row — the
  * processor pins the deterministic arrival semantics (drop_dup onto
  * the emitted root; the root is never rewritten), spec-tested in
  * DocStreamsSpec ("late row preceding the chain root").
  */
object DocStreams extends graft.Catalog {

  /** Synthesized arrival spacing: doc_id d arrives at t = d·5 s. The
    * spacing is part of the QUERY DEFINITION (both engines compute it),
    * not a tuning knob — 5 s spreads the sf10 corpus (500k docs) over
    * ~29 days, the same order as the events table's month.
    */
  val ArrivalSpacingSec = 5L

  /** Arrival epoch (2024-01-01): synthesized times are anchored off the
    * Unix epoch because a streaming event AT the epoch ties the initial
    * watermark (0) and is dropped as late — doc 0 would silently vanish
    * from the stream while the batch twin keeps it (found by
    * DocStreamsSpec). The base shifts every arrival equally, so gaps —
    * and therefore verdicts — are identical with or without it.
    */
  val ArrivalBaseSec = 1704067200L

  /** Admission horizon: a re-sighting within 1 day of the chain tail is
    * a duplicate; beyond it the content is re-admitted (the
    * crawl-recency rule — content republished after a quiet day is a
    * new edition, and bounding the lookback is what bounds the state).
    */
  val HorizonSec = 86400L

  /** Fingerprint = md5 of the first [[PrefixTokens]] normalized tokens
    * — the PREFIX fingerprint (the opening of an article/boilerplate
    * shell identifies re-posts whose bodies drift), the aggressive end
    * of the dedup ladder next to `dedup_prefix_jaccard`. Deliberately
    * coarser than `dedup_exact`'s whole-text hash so the drop path is
    * exercised on every corpus, not only ones with planted byte-exact
    * dups.
    */
  val PrefixTokens = 8

  /** One cross-engine definition (the `TextAnalysis.toks` discipline):
    * lowercase, trim, \s+ split, drop empties, first 8, space-join, md5.
    */
  def prefixFp(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(concat_ws(" ",
      slice(TextAnalysis.toks(lower(trim(text))), 1, PrefixTokens)))

  final case class DocVerdict(doc_id: Long, verdict: String,
      matched_to: Option[Long])

  /** Per-fingerprint chain cell: the chain head (root, the admitted
    * doc) and the tail arrival time the gap rule extends from.
    */
  final case class FpChain(root_id: Long, last_ms: Long)

  /** Keyed by fingerprint; one ValueState cell per LIVE chain, evicted
    * by an event-time timer at tail + horizon (re-armed on every
    * sighting; stale timers are ignored by the tail-match guard, the
    * [[EventStreams.SessionCloseProcessor]] discipline).
    */
  final class DocAdmitProcessor(horizonMs: Long)
      extends StatefulProcessor[String, (Long, String, java.sql.Timestamp), DocVerdict] {
    @transient private var chain: ValueState[FpChain] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // TTLConfig.NONE: eviction is EVENT-time (the horizon is part of
      // the semantics); a processing-time TTL would tie verdicts to
      // replay speed
      chain = getHandle.getValueState[FpChain]("fp_chain",
        org.apache.spark.sql.Encoders.product[FpChain], TTLConfig.NONE)

    override def handleInputRows(
        fp: String,
        rows: Iterator[(Long, String, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[DocVerdict] = {
      // arrival order within the batch: synthesized time, doc_id
      val sorted = rows.toSeq.sortBy(r => (r._3.getTime, r._1))
      val out = scala.collection.mutable.ArrayBuffer.empty[DocVerdict]
      var cur: Option[FpChain] = if (chain.exists()) Some(chain.get()) else None
      sorted.foreach { case (docId, _, ts) =>
        val t = ts.getTime
        cur match {
          // t - last_ms may be NEGATIVE (a within-watermark late row,
          // possibly even earlier than the root): still a duplicate of
          // the LIVE chain, matched to the emitted root — Append mode
          // cannot retract the root's `admit`, so the root is never
          // rewritten (the arrival-order contract in the class doc)
          case Some(c) if t - c.last_ms <= horizonMs =>
            out += DocVerdict(docId, "drop_dup", Some(c.root_id))
            // max: a LATE row (within the watermark tolerance, so legal)
            // must not move the chain tail backward — a regressed tail
            // would re-admit a doc the batch twin calls a dup AND let
            // the stale-timer guard evict the chain half a horizon early
            cur = Some(FpChain(c.root_id, math.max(c.last_ms, t)))
          case _ =>
            out += DocVerdict(docId, "admit", None)
            cur = Some(FpChain(docId, t))
        }
      }
      cur.foreach { c =>
        chain.update(c)
        getHandle.registerTimer(c.last_ms + horizonMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(
        fp: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[DocVerdict] = {
      // only the timer armed by the CURRENT tail evicts; a sighting
      // after the arming extended the chain and re-armed
      if (chain.exists() &&
          chain.get().last_ms + horizonMs == expiredTimerInfo.getExpiryTimeInMs)
        chain.clear()
      Iterator.empty
    }
  }

  /** Streaming admission over a (doc_id, fp, ts) stream. The watermark
    * delay throttles eviction (timers fire as the watermark passes) and
    * bounds tolerated lateness — rows older than the watermark are
    * dropped by the engine before the processor sees them; the verdict
    * horizon is [[HorizonSec]]. A disordered replay widens the delay
    * to its lateness span so late rows stay in-watermark.
    */
  def docAdmitStream(docs: DataFrame,
      horizonMs: Long = HorizonSec * 1000L,
      watermarkDelay: String = "1 hour"): Dataset[DocVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", watermarkDelay)
      .select($"doc_id", $"fp", $"ts")
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .transformWithState(
        new DocAdmitProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch twin (oracled): rebuild the gap-chains with lag/cumsum over
    * each fingerprint's synthesized arrival sequence — ONE shuffle on
    * fp (the chain-id window and the per-chain root min both reuse the
    * fp hash partitioning; only in-partition sorts are added) — then
    * verdict root=admit / rest drop_dup→root. Scale shape: the windows
    * are per-fingerprint (dup-clique-sized partitions, not corpus-
    * sized), so the sort cost is bounded by the largest dup clique.
    */
  def dedupAdmitChain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    admitChainOf(Tables.documents(spark, d).select(
      $"doc_id",
      prefixFp($"text").as("fp"),
      (lit(ArrivalBaseSec) + $"doc_id" * ArrivalSpacingSec).as("t")))
  }

  /** Chain verdicts over any (doc_id, fp, t-seconds) frame — the spec
    * drives this with synthetic chains the fixture corpus lacks.
    * `horizonSec` mirrors docAdmitStream's parameter so a non-default
    * horizon keeps a batch twin (they must only be compared at the
    * same horizon).
    */
  def admitChainOf(f: DataFrame, horizonSec: Long = HorizonSec): DataFrame = {
    import f.sparkSession.implicits._
    val arrival = Window.partitionBy($"fp").orderBy($"t", $"doc_id")
    val chained = f
      .withColumn("new_chain",
        when($"t" - lag($"t", 1).over(arrival) <= horizonSec, 0L).otherwise(1L))
      .withColumn("chain_id", sum($"new_chain").over(
        arrival.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // the root is the chain's FIRST ARRIVAL by (t, doc_id) — what the
      // streaming processor admits — NOT min(doc_id), which diverges
      // whenever doc_id order disagrees with arrival order; first over
      // the ordered chain window reuses the arrival sort
      .withColumn("root", first($"doc_id").over(
        Window.partitionBy($"fp", $"chain_id").orderBy($"t", $"doc_id")))
    chained.select(
      $"doc_id",
      when($"doc_id" === $"root", "admit").otherwise("drop_dup").as("verdict"),
      when($"doc_id" === $"root", lit(null).cast("long"))
        .otherwise($"root").as("matched_to"))
  }

  private def admitChainOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    md5(array_to_string(
       |      list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                  x -> x <> '')[1:$PrefixTokens], ' ')) AS fp,
       |    $ArrivalBaseSec + doc_id * $ArrivalSpacingSec AS t
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, fp, t,
       |    CASE WHEN t - lag(t) OVER (PARTITION BY fp ORDER BY t, doc_id)
       |              <= $HorizonSec
       |         THEN 0 ELSE 1 END AS new_chain
       |  FROM f),
       |ch AS (
       |  SELECT doc_id, fp, t,
       |    sum(new_chain) OVER (PARTITION BY fp ORDER BY t, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS chain_id
       |  FROM c),
       |r AS (
       |  SELECT doc_id, fp,
       |    first_value(doc_id) OVER (PARTITION BY fp, chain_id
       |      ORDER BY t, doc_id) AS root
       |  FROM ch)
       |SELECT doc_id,
       |  CASE WHEN doc_id = root THEN 'admit' ELSE 'drop_dup' END AS verdict,
       |  CASE WHEN doc_id = root THEN NULL ELSE root END AS matched_to
       |FROM r""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_admit_chain" -> (dedupAdmitChain _))

  val oracles: Map[String, String] = Map(
    "dedup_admit_chain" -> admitChainOracle)
}
