package graft

import graft.multimodal.Multimodal
import graft.sim.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native

/** Similarity search + multimodal plumbing semantics. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native lsh_buckets64 == per-plane dot-sign recompute (bit-for-bit)") {
    val rows = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("v"), Native(Similarity.lshBuckets, col("v")).as("b"))
      .collect()
    assert(rows.nonEmpty)
    rows.take(200).foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val got = r.getSeq[Long](2)
      assert(got.length == Similarity.LshTables)
      val want = (0 until Similarity.LshTables).map { t =>
        (0 until Similarity.PlanesPerTable).map { i =>
          val p = planesOf(t * Similarity.PlanesPerTable + i)
          val dot = p.zip(v).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
          val rounded = java.math.BigDecimal.valueOf(dot)
            .setScale(4, java.math.RoundingMode.HALF_UP)
          if (rounded.signum() >= 0) 1L << i else 0L
        }.sum
      }
      assert(got == want, s"bucket mismatch for vec ${r.getLong(0)}")
    }
  }

  test("every embedding top-K twin ranks through the one rankedSql wrapper") {
    // the fitted twins exist once the SparkSession holds their fits
    Similarity.quantizer(spark, sf)
    Similarity.quantBounds(spark, sf)
    val q = java.util.regex.Pattern.quote _
    val Array(pre, afterCols, afterKeys, afterScore, afterSrc) =
      Similarity.rankedSql("\u0001", "\u0002", 0, "\u0003", "\u0004")
        .stripSuffix("0").split("[\u0001-\u0004]")
    val template = (q(pre) + "[\\w, *]+" + q(afterCols) + "[\\w, ]+" + q(afterKeys) + "\\w+" +
      q(afterScore) + "\\w+" + q(afterSrc) + "\\d+").r
    val ranking = "ORDER BY (sim|score|psim|pscore|iscore) DESC, neighbor_id".r
    val oracles = SparkEntry.oracleSql
    val drifted = oracles.filter { case (_, sql) =>
      ranking.findFirstIn(template.replaceAllIn(sql, "")).isDefined
    }
    assert(drifted.isEmpty, s"a top-K ranking outside rankedSql: ${drifted.keys.toSeq.sorted}")
    val ranked = oracles.filter { case (_, sql) => template.findFirstIn(sql).isDefined }.keySet
    val family = Set("embed_knn", "embed_ann_lsh", "embed_ann_ivf", "embed_knn_quantized",
      "embed_knn_rerank", "embed_knn_rp", "embed_knn_pq", "embed_ann_ivfpq", "embed_triplets",
      "embed_rrf_fusion", "embed_recall_eval")
    assert(family.diff(ranked).isEmpty, s"not ranked through rankedSql: ${family.diff(ranked)}")
  }

  // plane matrix re-derived with the same seed (private in Similarity)
  private lazy val planesOf: Int => Seq[Double] = {
    val rnd = new scala.util.Random(7)
    val m = Seq.fill(Similarity.NumPlanes)(
      Seq.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
    m
  }

  test("native nearest_cell == shared-scoring argmin recompute (bit-for-bit)") {
    import graft.functions.NearestCell
    val cents = Similarity.quantizer(spark, sf).cents
    val rows = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("v"), Native(es => NearestCell(es.head, cents), col("v")).as("cell"))
      .collect()
    assert(rows.nonEmpty)
    val cn2 = NearestCell.cn2Of(cents)
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val scores = NearestCell.scores(v, cents, cn2)
      val want = scores.zipWithIndex.minBy { case (s, i) => (s, i) }._2
      assert(r.getInt(2) == want, s"cell mismatch for vec ${r.getLong(0)}")
    }
  }

  test("native expressions yield null (not garbage) on wrong-dimension vectors") {
    import graft.functions.{LshBuckets, NearestCell}
    val row = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("id", "v") // 3-dim, not 64
      .select(Native(Similarity.lshBuckets, $"v").as("b"),
        Native(es => NearestCell(es.head, Array(Array.fill(64)(0.5))), $"v").as("c"))
      .collect().head
    assert(row.isNullAt(0), "lsh_buckets64 must be null on dim mismatch")
    assert(row.isNullAt(1), "nearest_cell must be null on dim mismatch")
  }

  test("exact knn returns K ranked neighbors per probe, no self-match") {
    val rows = Similarity.knnExact(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == Similarity.NumQueries)
    byQ.foreach { case (q, ns) =>
      assert(ns.length == Similarity.K)
      assert(!ns.exists(_.getLong(1) == q), "self-match leaked")
      val sims = ns.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(sims.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  // NOTE on the two 0.3 floors below: they run on the UNIFORM sf
  // fixture, where hashing/coarse-quantizer ANN legitimately bottoms
  // out (no cluster structure to exploit) — they are smoke floors, not
  // the published recall bars. The load-bearing bars live on the
  // clustered corpus further down: IVF recall@10 >= 0.8 at nprobe=4
  // (exact at nprobe=16) and the SQ->rerank composite at recall@5
  // >= 0.9.
  test("ANN recall@5 vs exact knn is usable (> 0.3 on clustered data)") {
    val exact = Similarity.knnExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall > 0.3, s"ANN recall too low: $recall")
    // every ANN hit must carry the same similarity the exact tier computes
    val exactSim = Similarity.knnExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    Similarity.annLsh(spark, sf).collect().foreach { r =>
      exactSim.get((r.getLong(0), r.getLong(1)))
        .foreach(s => assert(s == r.getDouble(3)))
    }
  }

  test("IVF ANN recall@5 vs exact knn is usable (> 0.3)") {
    val exact = Similarity.knnExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall > 0.3, s"IVF recall too low: $recall")
  }

  test("the embed_ann_ivf oracle embeds the default-probe cells after a probes=16 annIvf") {
    // a fresh session, so this dataset's quantizer is the newest fit
    val fresh = spark.newSession()
    Similarity.annIvf(fresh, sf, probes = 16).collect()
    val sql = Similarity.oracles("embed_ann_ivf")
    val pairs = "\\((\\d+), (\\d+)\\)".r
      .findAllMatchIn(sql.split("probes\\(query_id, cell\\) AS \\(VALUES ")(1).takeWhile(_ != '\n'))
      .map(m => (m.group(1).toLong, m.group(2).toInt)).toSeq
    // the driver recompute: each probe vector's IvfProbes nearest cells
    val cents = Similarity.quantizer(fresh, sf).cents
    val cn2 = graft.functions.NearestCell.cn2Of(cents)
    val want = Tables.embeddings(spark, sf)
      .filter($"vec_id" < Similarity.NumQueries).orderBy($"vec_id")
      .select($"vec_id", $"embedding".cast("array<double>")).collect().toSeq
      .flatMap { r =>
        val scores = graft.functions.NearestCell.scores(r.getSeq[Double](1).toArray, cents, cn2)
        scores.indices.sortBy(i => (scores(i), i)).take(Similarity.IvfProbes).map(c => (r.getLong(0), c))
      }
    assert(pairs == want)
  }

  test("the IVF family on a fresh session collects the quantizer's training sample once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val samples = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.details.contains("trainSample") =>
          samples.incrementAndGet()
        case _ =>
      }
    }
    val fresh = spark.newSession()
    spark.sparkContext.addSparkListener(listener)
    try {
      for (n <- Seq("embed_ann_ivf", "embed_ann_ivfpq", "embed_kmeans",
          "embed_silhouette", "dedup_embed_pairs", "embed_semdedup"))
        assert(SparkEntry.queries(n)(fresh, sf).count() > 0, n)
      org.apache.spark.graftbench.BusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(samples.get() == 1, s"${samples.get()} training-sample collects")
  }

  // 8 well-separated Gaussian clusters x 50 vectors in 64 dims — the
  // regime coarse quantizers are built for (the sf fixture's embeddings
  // are too uniform to discriminate probe counts / code books). Queries
  // 0..9 cover all 8 clusters. Stored as float like the real table, so
  // the cast path is identical. Shared by the IVF probe sweep and the
  // quantized-KNN recall bar.
  private lazy val clusteredVecs: Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, 64)((rnd.nextGaussian() * 5).toFloat)
    (0L until 400L).map { id =>
      val c = (id % 8).toInt
      val v = Array.tabulate(64)(j => centers(c)(j) + (rnd.nextGaussian() * 0.1).toFloat)
      (id, v, c)
    }
  }
  private lazy val clusteredDir: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graftivf")
    clusteredVecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    tmp.toString
  }

  /** Driver-exact cosine top-k per probe, under the SAME discipline the
    * catalog rankers use (double cast, round-4 sim, neighbor_id
    * tiebreak) — the ground truth for the recall bars.
    */
  private def clusteredExact(k: Int): Map[Long, Set[Long]] = {
    val dv = clusteredVecs.map { case (id, v, _) => id -> v.map(_.toDouble) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j) * b(j); j += 1 }; s
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0L until 10L).map { q =>
      val qv = dv(q); val qn = math.sqrt(dot(qv, qv))
      q -> dv.keys.filter(_ != q).toSeq
        .map(n => (n, r4(dot(qv, dv(n)) / (qn * math.sqrt(dot(dv(n), dv(n)))))))
        .sortBy { case (n, s) => (-s, n) }.take(k).map(_._1).toSet
    }.toMap
  }

  private def recallOf(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double =
    want.map { case (q, w) =>
      got.getOrElse(q, Set.empty).intersect(w).size.toDouble / w.size
    }.sum / want.size

  test("IVF recall-vs-probes on a clustered corpus: recall@10 >= 0.8 at nprobe=4, exact at nprobe=16") {
    val exact = clusteredExact(10)
    def recallAt(probes: Int): Double = recallOf(
      graft.sim.Similarity.annIvf(spark, clusteredDir, probes, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet },
      exact)
    val r2 = recallAt(2); val r4p = recallAt(4); val r16 = recallAt(16)
    assert(r4p >= 0.8, s"recall@10 at nprobe=4 is $r4p, expected >= 0.8")
    assert(r16 == 1.0, s"nprobe=IvfCells must equal brute force, got $r16")
    // candidate sets grow with nprobe, so recall is weakly monotone
    assert(r2 <= r4p && r4p <= r16, s"recall not monotone: $r2, $r4p, $r16")
  }

  test("quantized knn separates clusters perfectly (coarse-code contract on clustered corpus)") {
    // What 4-bit scalar quantization CAN and CANNOT do, asserted
    // separately: on separable clusters every same-cluster vector maps
    // to a near-identical code vector, so (a) all top-5 hits MUST come
    // from the query's own cluster — a code-book regression (centering,
    // boundary fit) craters this — while (b) WITHIN-cluster order at
    // sim deltas below the quantization step is genuinely tied (integer
    // dots equal, neighbor_id breaks it): measured recall@5 vs exact
    // fine ranking is ~0.04 here, which is the resolution limit of the
    // code, not a defect — production SQ reranks the shortlist exactly
    // (see knnQuantized scaladoc). The fixture test keeps the fine-rank
    // bar where quantization error is small vs the sim spread.
    val label = clusteredVecs.map { case (id, _, c) => id -> c }.toMap
    val got = graft.sim.Similarity.knnQuantized(spark, clusteredDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.length == 10 * graft.sim.Similarity.K)
    val wrongCluster = got.filter { case (q, n) => label(q) != label(n) }
    assert(wrongCluster.isEmpty,
      s"quantized codes leaked ${wrongCluster.length} cross-cluster hits: ${wrongCluster.take(5).toSeq}")
  }

  test("JL projection shortlist -> exact rerank holds recall@5 >= 0.9 on clustered data") {
    val exact = clusteredExact(Similarity.K)
    val rp = Similarity.knnRp(spark, clusteredDir).collect()
    val recall = recallOf(
      rp.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet },
      exact)
    assert(recall >= 0.9, s"JL rerank recall@${Similarity.K} = $recall, expected >= 0.9")
    // reranked sims are the EXACT scorer's values, not projected scores
    val exactSim = Similarity.knnExact(spark, clusteredDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    rp.foreach { r =>
      exactSim.get((r.getLong(0), r.getLong(1)))
        .foreach(s => assert(s == r.getDouble(3)))
    }
  }

  test("SQ shortlist -> exact rerank recovers the order raw codes tie away (recall@5 >= 0.9)") {
    // the regime where raw 4-bit codes bottom out (~0.04 fine-rank
    // recall inside tight clusters): the composite must shortlist the
    // whole tied run and let the exact scorer restore true order
    val exact = clusteredExact(Similarity.K)
    def recallAt(rows: Array[org.apache.spark.sql.Row]): Double = recallOf(
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet },
      exact)
    val raw = recallAt(Similarity.knnQuantized(spark, clusteredDir).collect())
    val rr = Similarity.knnRerank(spark, clusteredDir).collect()
    val reranked = recallAt(rr)
    assert(reranked >= 0.9, s"rerank recall@${Similarity.K} = $reranked, expected >= 0.9")
    assert(raw < 0.5, s"raw SQ recall moved to $raw — the corpus no longer exercises the tie regime")
    assert(reranked > raw, s"rerank ($reranked) must beat raw codes ($raw)")
    // reranked sims are the EXACT scorer's values (not quantized scores)
    val exactSim = Similarity.knnExact(spark, clusteredDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    rr.foreach { r =>
      exactSim.get((r.getLong(0), r.getLong(1)))
        .foreach(s => assert(s == r.getDouble(3), s"sim drifted for pair ${(r.getLong(0), r.getLong(1))}"))
    }
  }

  test("knn plan broadcasts the probe side") {
    val p = Similarity.knnExact(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("multimodal decode: binary payload round-trips byte length") {
    val meta = Multimodal.metaQuery(spark, sf).collect()
    val chars = Tables.documents(spark, sf)
      .select($"doc_id", length($"text").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    meta.foreach { r =>
      // ASCII corpus: byte length == char length
      assert(r.getLong(1) == chars(r.getLong(0)))
      assert(r.getLong(2) >= 64 && r.getLong(2) < 704)
      assert(Seq("png", "jpeg", "webp").contains(r.getString(4)))
    }
  }

  test("frame sampler emits every 2nd frame with correct offsets") {
    val frames = Multimodal.framesQuery(spark, sf).collect()
    frames.foreach { r =>
      assert(r.getLong(1) % Multimodal.FrameStep == 0)
      assert(r.getLong(2) == r.getLong(1) * Multimodal.FrameSize)
    }
    assert(frames.map(_.getLong(0)).distinct.length ==
      Tables.documents(spark, sf).count())
  }

  test("keyframes: first frame always keyed; above-mean-|delta| rule recounts") {
    val rows = Multimodal.keyframes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4)))
    for ((doc, fs) <- rows.groupBy(_._1)) {
      val o = fs.sortBy(_._2)
      // opening frame has no predecessor and is a keyframe
      assert(o.head._4.isEmpty && o.head._5)
      // deltas chain the energies
      o.zip(o.drop(1)).foreach { case (a, b) =>
        assert(b._4.contains(b._3 - a._3))
      }
      val ads = o.flatMap(_._4).map(math.abs)
      if (ads.nonEmpty) {
        val n = ads.length.toLong
        val s = ads.sum
        for (f <- o.drop(1))
          assert(f._5 == (math.abs(f._4.get) * n > s),
            s"doc $doc frame ${f._2}")
        // a doc always keeps at least its opener, never everything
        // unless all deltas tie at zero spread
        assert(o.count(_._5) >= 1)
      }
    }
  }

  test("audio energy frames tile every payload exactly") {
    val frames = Multimodal.audioEnergy(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("n_samples"), r.getAs[Long]("energy")))
    val chars = Tables.documents(spark, sf)
      .select($"doc_id", length($"text").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((doc, fs) <- frames.groupBy(_._1)) {
      // frames cover the payload: sum of samples == char count, full
      // frames of FrameLen with one ragged tail, contiguous indices
      assert(fs.map(_._3).sum == chars(doc))
      val byIdx = fs.sortBy(_._2)
      assert(byIdx.map(_._2).toSeq == (0L until fs.length).toSeq)
      assert(byIdx.init.forall(_._3 == Multimodal.FrameLen))
      assert(fs.forall(_._4 >= 0))
    }
  }

  test("phash fixture precondition: document payloads are pure ASCII (byte == code point)") {
    // The DuckDB phash oracle replays byte reads as ascii(substr(...)),
    // valid only while octet_length == char length on every payload; a
    // fixture regression to multi-byte text must fail HERE, not as an
    // unexplained hash drift in the correctness gate.
    import org.apache.spark.sql.functions._
    val bad = Tables.documents(spark, sf)
      .filter(octet_length(col("text")) =!= length(col("text"))).count()
    assert(bad == 0L, s"$bad non-ASCII document payloads break the phash oracle replay")
  }

  test("phash near-dup: identical payloads collide at hamming 0, hash == local recompute") {
    import spark.implicits._
    // catalog pass: every reported pair within the hamming bound, ids ordered
    val pairs = Multimodal.phashPairs(spark, sf).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= Multimodal.PHashMaxHamming)
    }
    // distributed hash == driver recompute on the same bytes (bit parity)
    val hs = Multimodal.phashes(Multimodal.mediaFiles(spark, sf)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Tables.documents(spark, sf).select($"doc_id", $"text").collect().take(50)
      .foreach { r =>
        val want = Multimodal.phashStub(r.getString(1).getBytes("UTF-8"))
        assert(hs(r.getLong(0)) == want, s"phash mismatch for doc ${r.getLong(0)}")
      }
    // identical payloads must pair at hamming 0 (planted twin corpus)
    val tmp = java.nio.file.Files.createTempDirectory("graftph")
    val d = Tables.documents(spark, sf).select($"doc_id", $"text")
    val twin = d.filter($"doc_id" === 0).select(lit(900001L).as("doc_id"), $"text")
    d.union(twin)
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = Multimodal.phashPairs(spark, tmp.toString).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(planted.get((0L, 900001L)) === Some(0L),
      s"identical payload twin must collide at hamming 0: ${planted.keys.take(5)}")
  }

  test("triplet mining: positive/hard-negative are label-constrained argmaxes") {
    import graft.sim.Similarity
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label".cast("long"), $"embedding".cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def simOf(a: Array[Double], b: Array[Double]) =
      BigDecimal(a.zip(b).map { case (x, y) => x * y }.sum / (norm(a) * norm(b)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.tripletMine(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(got.keySet == (0L until Similarity.NumQueries).toSet)
    got.foreach { case (qid, (alabel, pid, sp, nid, sn, margin)) =>
      val (_, ql, qv) = rows.find(_._1 == qid).get
      assert(ql == alabel)
      def best(same: Boolean) = rows
        .filter(r => r._1 != qid && (r._2 == ql) == same)
        .map(r => (simOf(qv, r._3), r._1))
        .maxBy(t => (t._1, -t._2))
      val (wsp, wpid) = best(same = true)
      val (wsn, wnid) = best(same = false)
      assert((pid, sp, nid, sn) == (wpid, wsp, wnid, wsn),
        s"anchor $qid: got ($pid,$sp,$nid,$sn) want ($wpid,$wsp,$wnid,$wsn)")
      assert(margin == BigDecimal(sp - sn)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("cross-label mutual NN: pairs are mutual argmaxes within their cells") {
    import graft.sim.Similarity
    val got = Similarity.crossLabelMutual(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty, "fixture mined no cross-label pairs — vacuous")
    // driver replay: same fit, same cells, same rounded sims
    val cents = Similarity.quantizer(spark, sf).cents
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label".cast("long"), $"embedding".cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val cn2 = graft.functions.NearestCell.cn2Of(cents)
    def cellOf(v: Array[Double]): Int = {
      val s = graft.functions.NearestCell.scores(v, cents, cn2)
      s.indices.minBy(i => (s(i), i))
    }
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val byCell = rows.groupBy(r => cellOf(r._3))
      .filter(_._2.length <= Similarity.MaxCellBlock)
    def simOf(a: (Long, Long, Array[Double]), b: (Long, Long, Array[Double])) = {
      val dot = a._3.zip(b._3).map { case (x, y) => x * y }.sum
      BigDecimal(dot / (norm(a._3) * norm(b._3)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // FULL expected set (completeness AND soundness): per capped cell
    // and label pair, the mutual argmaxes under (sim desc, vec_id asc)
    val want = (for {
      (_, membersArr) <- byCell.toSeq
      members = membersArr.toSeq
      labels = members.map(_._2).distinct.sorted
      la <- labels; lb <- labels.filter(_ > la)
      as = members.filter(_._2 == la); bs = members.filter(_._2 == lb)
      aRow <- as
      bestB = bs.map(b => (simOf(aRow, b), b._1)).maxBy(t => (t._1, -t._2))
      bRow = bs.find(_._1 == bestB._2).get
      bestA = as.map(a => (simOf(a, bRow), a._1)).maxBy(t => (t._1, -t._2))
      if bestA._2 == aRow._1
    } yield (la, lb, aRow._1, bestB._2, bestB._1)).toSet
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} extra=${(got.toSet -- want).take(3)}")
  }

  test("native quant_code == driver boundary-rank recompute (bit-for-bit)") {
    // the fitted boundaries drive the plan; recompute codes on the
    // driver with the SAME comparison rule and assert bit-for-bit
    val coded = Similarity.knnQuantizedCodes(spark, sf)
    val bounds = Similarity.quantBounds(spark, sf)
    val rows = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val got = coded.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got.nonEmpty)
    got.foreach { case (id, codes) =>
      val v = rows(id)
      val want = v.indices.map { j =>
        val raw = 1 + bounds(j).count(b => v(j) >= b)
        (2 * raw - (Similarity.QuantBuckets + 1)).toDouble
      }
      assert(codes == want, s"code mismatch for vec $id")
      assert(codes.forall(c => math.abs(c) <= Similarity.QuantBuckets - 1 &&
        math.abs(c.toLong % 2) == 1), "codes must be odd ints within ±(B-1)")
    }
    // at sf scale the sketch is exact, so each dim's buckets are within
    // one of balanced: no bucket may hold more than ~2/B of the corpus
    val n = rows.size
    val perDim = got.values.map(_.head).groupBy(identity).map(_._2.size)
    assert(perDim.max <= math.ceil(2.0 * n / Similarity.QuantBuckets).toInt + 1,
      s"dim-0 bucket skew: $perDim")
  }

  test("quantized knn plan has no per-dim window (the ntile scale-killer is gone)") {
    val plan = Similarity.knnQuantized(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("ntile"), s"ntile survived in plan:\n$plan")
    // the only window left is the per-query top-k rank; nothing may
    // partition on the 64-value dim key (unbounded state at scale)
    assert(!"Window.*partitionBy.*dim|windowspecdefinition\\(dim".r
      .findFirstIn(plan).isDefined && !plan.contains("dim#"),
      s"a dim-partitioned operator survived; plan:\n$plan")
  }

  test("embedding dedup blocks on IVF cells: bounded blocks, no label key, real near-dups") {
    import graft.functions.NearestCell
    val pairs = Similarity.embedDupPairs(spark, sf).collect()
    assert(pairs.nonEmpty, "planted near-duplicates must surface")
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)), "pairs must be ordered")
    assert(pairs.forall(_.getDouble(3) >= 0.3))
    // every emitted pair sits in ONE cell, and no kept cell exceeds the cap:
    // recompute assignment with the same fit and count
    val cents = Similarity.quantizer(spark, sf).cents
    val cn2 = NearestCell.cn2Of(cents)
    val cellOf = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("v")).collect()
      .map { r =>
        val scores = NearestCell.scores(r.getSeq[Double](1).toArray, cents, cn2)
        r.getLong(0) -> scores.zipWithIndex.minBy { case (s, i) => (s, i) }._2.toLong
      }.toMap
    val cellSizes = cellOf.values.groupBy(identity).map { case (c, v) => c -> v.size }
    pairs.foreach { r =>
      assert(cellOf(r.getLong(0)) == r.getLong(2) && cellOf(r.getLong(1)) == r.getLong(2),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) not co-located in cell ${r.getLong(2)}")
      assert(cellSizes(r.getLong(2)) <= Similarity.MaxCellBlock,
        s"cell ${r.getLong(2)} exceeds the block cap")
    }
    // the blocking key must be geometric (cell), not the label column:
    // no join in the plan may reference label (it rides the shared
    // cell-assignment frame as a passenger column only)
    val lp = Similarity.embedDupPairs(spark, sf).queryExecution.optimizedPlan
    val joinRefs = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.toSeq.flatMap(_.references.toSeq.map(_.name))
    }.flatten
    assert(joinRefs.nonEmpty && !joinRefs.contains("label"),
      s"label must not be a blocking key; join refs: $joinRefs")
  }

  test("semdedup: dominance rule recomputes exactly, removed set real, keep-lowest-ccos honored") {
    val rows = Similarity.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val removed = rows.filter(_._4 == 1L)
    assert(removed.nonEmpty, "eps=0.35 must prune a real removed set on the fixture")
    assert(removed.length < rows.length, "must not remove everything")
    // local recompute of the pairwise-dominance verdict from raw vectors
    val vecs = Tables.embeddings(spark, sf)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def rnd(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val byCell = rows.groupBy(_._2)
    for ((_, members) <- byCell; x <- members) {
      val dominators = members.filter { y =>
        y._1 != x._1 &&
          rnd(dot(vecs(x._1), vecs(y._1)) / (nrm(vecs(x._1)) * nrm(vecs(y._1)))) >=
            Similarity.SemDedupEps &&
          (y._3 < x._3 || (y._3 == x._3 && y._1 < x._1))
      }
      assert((x._4 == 1L) == dominators.nonEmpty,
        s"vec ${x._1}: removed=${x._4} but dominators=${dominators.map(_._1).toSeq}")
    }
    // the per-neighborhood survivor is its lowest-(ccos, vec_id) member:
    // no removed vector may dominate a kept one it overlaps with — implied
    // by the pairwise rule, spot-check the global consequence: every cell
    // keeps its minimum-(ccos, id) member
    for ((cell, members) <- byCell) {
      val first = members.minBy(m => (m._3, m._1))
      assert(first._4 == 0L, s"cell $cell: lowest-ccos member ${first._1} was removed")
    }
  }

  test("quantized knn: integer scores, full result shape, nontrivial recall vs exact") {
    val q = Similarity.knnQuantized(spark, sf).collect()
    assert(q.length == Similarity.NumQueries * Similarity.K)
    // centered codes are ±(B-1): |score| <= (B-1)^2 * dims; a top-5
    // neighbor of a real cluster should correlate positively
    val bound = (Similarity.QuantBuckets - 1).toLong * (Similarity.QuantBuckets - 1) * 64
    assert(q.forall(r => math.abs(r.getLong(3)) <= bound))
    assert(q.count(_.getLong(3) > 0) > q.length / 2)
    val exact = Similarity.knnExact(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val quant = q.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recall = quant.map { case (k, ids) =>
      ids.intersect(exact(k)).size.toDouble / Similarity.K
    }.sum / quant.size
    // 4-bit codes keep most of the cosine ordering on this corpus; the
    // bound is deliberately loose (quantization is lossy by design)
    assert(recall >= 0.4, s"quantized recall@${Similarity.K} = $recall")
  }

  test("pq reconstruction: Spark xhat == driver replay of the codebook argmin") {
    val got = Similarity.pqReconstructed(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val books = Similarity.quantizer(spark, sf).books
    val raw = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for (id <- raw.keys.take(25)) {
      val v = raw(id)
      val want = (0 until Similarity.PqSubspaces).flatMap { m =>
        val sub = v.slice(m * Similarity.PqSubDim, (m + 1) * Similarity.PqSubDim)
        // the NearestCell score: -2·dot + |c|², strict <, ties keep the
        // lowest code
        val cn2 = graft.functions.NearestCell.cn2Of(books(m))
        var best = 0; var bestS = Double.MaxValue
        for (c <- books(m).indices) {
          var dot = 0.0
          for (j <- 0 until Similarity.PqSubDim) dot += sub(j) * books(m)(c)(j)
          val s = -2 * dot + cn2(c)
          if (s < bestS) { bestS = s; best = c }
        }
        books(m)(best)
      }.toArray
      assert(java.util.Arrays.equals(got(id), want), s"vec $id reconstruction drifted")
    }
  }

  test("ivf-pq composite: shape, probed-cell containment, exact parity with plain IVF") {
    val ivfpq = Similarity.annIvfPq(spark, sf).collect()
    assert(ivfpq.length == Similarity.NumQueries * Similarity.K)
    // every returned neighbor must live in one of its query's probed
    // cells (the coarse pruning is the ONLY recall loss in the
    // composite; the shortlist+rerank recovers everything inside)
    val cents = Similarity.quantizer(spark, sf).cents
    val cn2 = graft.functions.NearestCell.cn2Of(cents)
    val raw = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cellOf(v: Array[Double]): Int = {
      val s = graft.functions.NearestCell.scores(v, cents, cn2)
      s.indices.minBy(i => (s(i), i))
    }
    val probed = Similarity.quantizer(spark, sf).probes
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    for (r <- ivfpq) {
      val q = r.getLong(0); val n = r.getLong(1)
      assert(probed(q).contains(cellOf(raw(n))),
        s"query $q neighbor $n outside the probed cells")
    }
    // inside the probed cells the composite recovers (nearly) plain
    // IVF's answer: the only extra loss vs IVF is a true neighbor whose
    // RECONSTRUCTED score falls below the 50-deep ADC cut — measured
    // 1 of 50 rows on this fixture (query 7), the honest ADC trade
    val ivf = Similarity.annIvf(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val got = ivfpq.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val overlap = got.map { case (q, ids) =>
      ids.intersect(ivf(q)).size.toDouble / Similarity.K
    }.sum / got.size
    assert(overlap >= 0.9, s"ivf-pq overlap with plain IVF = $overlap")
  }

  test("distributed k-means: Spark refinement == driver replay (fixed-point rounds, keep convention)") {
    val got = Similarity.kmeansRefine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val raw = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v").collect()
      .map(r => r.getSeq[Double](1).toArray)
    var cents = Similarity.quantizer(spark, sf).cents
    def assign(): Array[Int] = {
      val cn2 = graft.functions.NearestCell.cn2Of(cents)
      raw.map { v =>
        val s = graft.functions.NearestCell.scores(v, cents, cn2)
        s.indices.minBy(i => (s(i), i))
      }
    }
    def fixedSums(a: Array[Int]): Map[Int, (Array[Long], Long)] =
      a.zip(raw).groupBy(_._1).map { case (c, vs) =>
        val s = new Array[Long](64)
        vs.foreach { case (_, v) =>
          for (j <- 0 until 64) s(j) += math.rint(
            BigDecimal(v(j) * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong
        }
        c -> (s, vs.length.toLong)
      }
    for (_ <- 1 until Similarity.KmRounds) {
      val sums = fixedSums(assign())
      cents = Array.tabulate(cents.length) { c =>
        sums.get(c).map { case (s, n) =>
          Array.tabulate(64)(j => (s(j) / 1e6) / n)
        }.getOrElse(cents(c)) // dead cluster keeps its centroid
      }
    }
    val want = fixedSums(assign()).flatMap { case (c, (s, n)) =>
      (0 until 64).map { j =>
        (c.toLong, j.toLong) ->
          (BigDecimal((s(j) / 1e6) / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, n)
      }
    }
    assert(got.size == want.size)
    for ((k, (c, n)) <- want) {
      assert(got(k)._2 == n, s"member count drifted at $k")
      assert(got(k)._1 == c, s"centroid drifted at $k: got ${got(k)._1}, want $c")
    }
  }

  test("pq knn composite: full result shape, shortlist+rerank recall vs exact >= 0.9") {
    val pq = Similarity.knnPq(spark, sf).collect()
    assert(pq.length == Similarity.NumQueries * Similarity.K)
    val exact = Similarity.knnExact(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val got = pq.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val recall = got.map { case (k, ids) =>
      ids.intersect(exact(k)).size.toDouble / Similarity.K
    }.sum / got.size
    // raw PQ codes tie inside tight clusters (0.26 measured at 64
    // centroids); the 50-deep shortlist covers the tie set and the
    // exact rerank recovers the order — the same bar as embed_knn_rerank
    assert(recall >= 0.9, s"pq composite recall@${Similarity.K} = $recall")
  }

  test("dim profile == naive grid moments; constant dim has zero std") {
    val rows = Similarity.dimProfile(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(rows.size == 64)
    val vs = Tables.embeddings(spark, sf)
      .select($"embedding".cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    for (d <- Seq(0, 13, 63)) {
      val gs = vs.map(v => BigDecimal(v(d) * 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val n = gs.length.toDouble
      val mean = gs.sum / n / 1000000.0
      val varr = (n * gs.map(g => BigInt(g) * BigInt(g)).sum.toDouble -
        BigInt(gs.sum).pow(2).toDouble) / (n * n)
      val (gn, gm, gsd, gmn, gmx) = rows(d.toLong)
      assert(gn == gs.length)
      assert(math.abs(gm - mean) < 1e-5)
      assert(math.abs(gsd - math.sqrt(varr) / 1000000.0) < 1e-5)
      assert(gmn == gs.min / 1000000.0 && gmx == gs.max / 1000000.0)
      assert(gsd > 0.0) // no collapsed dimension in the fixture
    }
    // planted: a constant dimension -> std exactly 0
    val tmp = java.nio.file.Files.createTempDirectory("graftdim")
    import spark.implicits._
    (0 until 20).map { i =>
      val v = (0 until 64).map(d =>
        if (d == 5) 0.25f else ((i * 64 + d) % 31) / 31.0f)
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val p = Similarity.dimProfile(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(p(5L) == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(p(5L)) == 0L)
  }

  test("centroid drift == naive grid recount; duplicated corpus drifts zero") {
    val r = Similarity.centroidDrift(spark, sf).collect()(0)
    val vs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>")).collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1).toArray))
    def gridSum(half: Long): Array[Long] = {
      val sel = vs.filter(_._1 % 2 == half).map(_._2)
      (0 until 64).map(d => sel.map(v =>
        BigDecimal(v(d) * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum).toArray
    }
    val sa = gridSum(0); val sb = gridSum(1)
    val na = vs.count(_._1 % 2 == 0).toDouble
    val nb = vs.length - na
    val dot = sa.zip(sb).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    val naa = sa.map(x => BigInt(x) * BigInt(x)).sum
    val nbb = sb.map(x => BigInt(x) * BigInt(x)).sum
    val cos = dot.toDouble / math.sqrt(naa.toDouble * nbb.toDouble)
    assert(r.getAs[Long]("n_a") == na.toLong && r.getAs[Long]("n_b") == nb.toLong)
    assert(math.abs(r.getAs[Double]("centroid_cosine") - cos) < 1e-5)
    // the fixture's corpus is ~zero-centered, so the mean-vector cosine
    // is legitimately noisy — only bounds are contractual; the L2 is
    // the operative drift statistic there (and it is small)
    assert(r.getAs[Double]("centroid_cosine").abs <= 1.0)
    assert(r.getAs[Double]("centroid_l2") < 0.1,
      s"same-distribution halves drifted: ${r.getAs[Double]("centroid_l2")}")
    val l2 = math.sqrt(math.max(
      naa.toDouble / (na * na) + nbb.toDouble / (nb * nb) -
        2.0 * dot.toDouble / (na * nb), 0.0)) / 1000000.0
    assert(math.abs(r.getAs[Double]("centroid_l2") - l2) < 1e-5)

    // planted: each vector duplicated at even/odd ids -> halves
    // identical, cosine exactly 1, l2 exactly 0
    val tmp = java.nio.file.Files.createTempDirectory("graftdrift")
    import spark.implicits._
    (0 until 50).flatMap { i =>
      val v = (0 until 64).map(d => ((i * 64 + d) % 97) / 97.0f)
      Seq((i * 2L, v, 0), (i * 2L + 1, v, 0))
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val p = Similarity.centroidDrift(spark, tmp.toString).collect()(0)
    assert(p.getAs[Double]("centroid_cosine") == 1.0)
    assert(p.getAs[Double]("centroid_l2") == 0.0)
  }
}
