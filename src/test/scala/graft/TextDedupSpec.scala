package graft

import graft.text.{Dedup, TextAnalysis, TextExtras}
import org.apache.spark.sql.functions._

/** Semantics of the text-analysis and dedup operators. The oracled
  * queries — since round 2 INCLUDING the minhash/simhash pair
  * pipelines, whose md5-based hashes replay in DuckDB — are
  * value-checked by check_oracle.py; these tests additionally pin the
  * sketch MATH (signature/est-Jaccard/hamming behavior, native-agg
  * parity) independent of any oracle.
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsWithDup = {
    // Append an exact duplicate and a near-duplicate of doc 0.
    val d = Tables.documents(spark, sf).select("doc_id", "text")
    val base = d.filter($"doc_id" === 0).collect().head.getString(1)
    val near = {
      val t = base.split(" ")
      (t.take(t.length - 2) :+ "zzz").mkString(" ") // drop 2 tokens, add 1
    }
    d.union(Seq((100001L, base), (100002L, near)).toDF("doc_id", "text"))
  }

  test("minhash est_jaccard tracks exact jaccard (sketch error < 0.25)") {
    val tmp = java.nio.file.Files.createTempDirectory("graftdup")
    docsWithDup
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.minhashPairs(spark, tmp.toString)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the exact duplicate pair must be found with est ~1.0
    assert(pairs.contains((0L, 100001L)), s"exact dup pair missing: ${pairs.keys}")
    assert(pairs((0L, 100001L)) === 1.0)
    // the near-duplicate should surface with high estimated similarity
    assert(pairs.contains((0L, 100002L)) || pairs.contains((100001L, 100002L)),
      "near-dup pair not surfaced by LSH")
    // every surfaced estimate within sketch tolerance of exact jaccard
    val toks = docsWithDup.withColumn("t", TextAnalysis.toks($"text"))
      .select($"doc_id", array_distinct(Dedup.shingles($"t")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { case ((a, b), est) =>
      val (sa, sb) = (toks(a), toks(b))
      val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(est - exact) < 0.25, s"pair ($a,$b): est $est vs exact $exact")
    }
  }

  test("native minhash_agg == local (a*h+b) mod P recompute (bit-for-bit)") {
    val sigs = Dedup.signatures(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent shingle-hash recompute via the retained array formulation
    val hashes = Tables.documents(spark, sf)
      .withColumn("t", TextAnalysis.toks($"text"))
      .filter(size($"t") >= 3)
      .select($"doc_id",
        transform(Dedup.shingles($"t"),
          s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")).as("hs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(hashes.nonEmpty)
    hashes.take(50).foreach { case (id, hs) =>
      val want = Dedup.permConstants.map { case (a, b) =>
        hs.map(h => (h * a + b) % Dedup.MinhashPrime).min
      }
      assert(sigs(id) == want, s"minhash signature mismatch for doc $id")
    }
  }

  test("native simhash_agg == local bit-balance recompute") {
    val docs = Dedup.simhashDocs(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val toks = Tables.documents(spark, sf)
      .withColumn("t", TextAnalysis.toks($"text"))
      .filter(size($"t") >= 1)
      .select($"doc_id", array_distinct($"t").as("dt"))
      .withColumn("lo", transform($"dt",
        x => conv(substring(md5(x), 1, 8), 16, 10).cast("long")))
      .withColumn("hi", transform($"dt",
        x => conv(substring(md5(x), 9, 8), 16, 10).cast("long")))
      .select($"doc_id", $"lo", $"hi").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    assert(toks.nonEmpty)
    def pack(hs: Seq[Long]): Long = {
      val bal = new Array[Long](32)
      hs.foreach { h =>
        (0 until 32).foreach(b => bal(b) += ((h >>> b) & 1L) * 2L - 1L)
      }
      (0 until 32).map(b => if (bal(b) > 0) 1L << b else 0L).sum
    }
    toks.take(50).foreach { case (id, lo, hi) =>
      assert(docs(id) == ((pack(lo), pack(hi))), s"simhash mismatch for doc $id")
    }
  }

  test("simhash: identical docs collide, near-dup within small hamming") {
    val tmp = java.nio.file.Files.createTempDirectory("graftsim")
    docsWithDup
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sims = Dedup.simhashDocs(spark, tmp.toString)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sims(0L) == sims(100001L), "identical docs must have identical simhash")
    val hamNear = java.lang.Long.bitCount(sims(0L)._1 ^ sims(100002L)._1) +
      java.lang.Long.bitCount(sims(0L)._2 ^ sims(100002L)._2)
    assert(hamNear <= 16, s"near-dup hamming unexpectedly large: $hamNear")
  }

  test("containment: a short excerpt of a long doc scores 1.0 where jaccard fails") {
    val tmp = java.nio.file.Files.createTempDirectory("graftcont")
    // fresh vocabulary (disjoint from the fixture's) so no gram is
    // corpus-hot: bucket caps cannot eat the planted intersection
    val longDoc = (0 until 80).map(i => s"qq$i").mkString(" ")
    val excerpt = (5 until 15).map(i => s"qq$i").mkString(" ") // a quote
    val longId = 200000L
    Tables.documents(spark, sf).select("doc_id", "text")
      .union(Seq((longId, longDoc), (200001L, excerpt)).toDF("doc_id", "text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Dedup.containmentPairs(spark, tmp.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val hit = rows.get((longId, 200001L))
    assert(hit.isDefined, s"excerpt pair missing: ${rows.keys}")
    val (inter, nA, nB, cont) = hit.get
    // every distinct 3-gram of the excerpt also appears in the source doc
    assert(cont == 10000L, s"containment: $cont")
    assert(inter == math.min(nA, nB))
    // resemblance jaccard is structurally low for the same pair
    val jac = inter.toDouble / (nA + nB - inter)
    assert(jac < 0.2, s"jaccard should be small for excerpt pairs, got $jac")
    // global gate: every emitted pair clears the threshold, exact formula
    rows.foreach { case ((a, b), (i, na, nb, c)) =>
      assert(a < b && c >= Dedup.MinContainE4)
      assert(c == (10000L * i) / math.min(na, nb))
    }
  }

  test("edit-verified pairs: exact and typo'd copies pass the gate, formula exact") {
    val tmp = java.nio.file.Files.createTempDirectory("graftedit")
    val d = Tables.documents(spark, sf).select("doc_id", "text")
    val base = d.filter($"doc_id" === 0).collect().head.getString(1)
    // swap the first adjacent UNEQUAL token pair: the distinct-token set
    // is unchanged (simhash identical -> candidate guaranteed), while the
    // character sequence moves by a small, nonzero edit distance
    val toks = base.split(" ")
    val i = toks.indices.dropRight(1).find(k => toks(k) != toks(k + 1)).get
    val typo = (toks.take(i) ++ Seq(toks(i + 1), toks(i)) ++ toks.drop(i + 2))
      .mkString(" ")
    d.union(Seq((100001L, base), (100002L, typo)).toDF("doc_id", "text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Dedup.editPairs(spark, tmp.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exact copy: distance 0, similarity exactly 10000
    val (_, d0, s0) = rows((0L, 100001L))
    assert(d0 == 0L && s0 == 10000L)
    // typo'd copy: the pair survives, and edit_sim_e4 is the exact
    // integer floor(1e4*(mx-dist)/mx) over the 256-char prefixes
    val prefs = Map(0L -> base.take(Dedup.EditPrefixChars),
      100001L -> base.take(Dedup.EditPrefixChars),
      100002L -> typo.take(Dedup.EditPrefixChars))
    // fixture docs (e.g. 82, a natural near-dup of 0) may also pair with
    // the planted ones; the formula check runs on planted-only pairs
    val found = rows.keys.filter(k =>
      (k._1 == 100002L || k._2 == 100002L) && prefs.contains(k._1) && prefs.contains(k._2))
    assert(found.nonEmpty, s"typo near-dup not surfaced: ${rows.keys}")
    found.foreach { case (a, b) =>
      val (h, dist, sim) = rows((a, b))
      assert(h <= Dedup.MaxHamming)
      val mx = math.max(prefs(a).length, prefs(b).length).toLong
      assert(sim == (10000L * (mx - dist)) / mx, s"grid mismatch ($a,$b)")
    }
    // global invariants: canonical order + both gates on every row
    rows.foreach { case ((a, b), (h, _, sim)) =>
      assert(a < b && h <= Dedup.MaxHamming && sim >= Dedup.MinEditSimE4)
    }
  }

  test("dedup_exact groups exact duplicates under one fingerprint") {
    val fp = Dedup.exact(spark, sf)
    assert(fp.agg(sum($"n_dups")).head.getLong(0) ==
      Tables.documents(spark, sf).count())
  }

  test("language ID picks en for stopword-rich text, fixed tie-break") {
    val preds = TextAnalysis.langId(spark, sf).collect()
    assert(preds.nonEmpty)
    preds.foreach { r =>
      val (en, de, fr, es) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val pred = r.getString(5)
      val max = Seq(en, de, fr, es).max
      assert(Seq("en", "de", "fr", "es").zip(Seq(en, de, fr, es))
        .find(_._2 == max).map(_._1).contains(pred))
    }
  }

  test("winnowing guarantee: a shared run of k+w-1 tokens always shares a fingerprint") {
    import graft.text.Dedup
    val run = (1 to (Dedup.WinnowK + Dedup.WinnowW - 1)).map(i => s"shared$i")
    // two docs with entirely different surroundings but one common run
    val docA = (1 to 20).map(i => s"alpha$i") ++ run ++ (1 to 20).map(i => s"omega$i")
    val docB = (1 to 20).map(i => s"beta$i") ++ run ++ (1 to 20).map(i => s"gamma$i")
    val docC = (1 to 50).map(i => s"unrelated$i")
    val toks = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "t")
    val fps = Dedup.winnowFingerprints(toks)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "shared k+w-1 run must produce a shared fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "disjoint docs must not collide")
    // fingerprints are content-derived: same tokens => same fingerprint set
    val again = Dedup.winnowFingerprints(toks.repartition(7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == fps.toSet)
  }

  test("incremental dedup == full pass restricted to delta-touching pairs") {
    import graft.text.Dedup
    val incr = Dedup.incrementalMinhashPairs(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getString(2), r.getDouble(3)))).toMap
    val newIds = Tables.documents(spark, sf)
      .filter($"source" === Dedup.IncrementalSource)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.minhashPairs(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val want = full.filter { case ((a, b), _) => newIds(a) || newIds(b) }
    assert(want.nonEmpty, "fixture delta touches no pairs — vacuous")
    assert(incr.keySet == want.keySet,
      s"missing=${(want.keySet -- incr.keySet).take(5)} extra=${(incr.keySet -- want.keySet).take(5)}")
    incr.foreach { case ((a, b), (ptype, est)) =>
      assert(est == want((a, b)), s"estimate drift for ($a,$b)")
      val wantType = if (newIds(a) && newIds(b)) "new-new" else "new-corpus"
      assert(ptype == wantType, s"pair_type wrong for ($a,$b)")
      assert(newIds(a) || newIds(b), "corpus-corpus pair leaked")
    }
  }

  test("incremental admission verdicts == driver replay over the pair set") {
    import graft.text.Dedup
    val newIds = Tables.documents(spark, sf)
      .filter($"source" === Dedup.IncrementalSource)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.incrementalMinhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4)))
      .filter(_._4 >= Dedup.AdmitMinMatches)
    // driver replay of the admission rules
    val corpusMatch = scala.collection.mutable.Map.empty[Long, Long]
    val batchMatch = scala.collection.mutable.Map.empty[Long, Long]
    pairs.foreach { case (a, b, ptype, _) =>
      if (ptype == "new-corpus") {
        val (n, c) = if (newIds(a)) (a, b) else (b, a)
        corpusMatch(n) = math.min(corpusMatch.getOrElse(n, Long.MaxValue), c)
      } else { // new-new: later doc matches earlier
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        batchMatch(hi) = math.min(batchMatch.getOrElse(hi, Long.MaxValue), lo)
      }
    }
    val got = Dedup.incrementalAdmission(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.keySet == newIds, "one verdict row per new doc")
    newIds.foreach { id =>
      val want =
        if (corpusMatch.contains(id)) ("drop_corpus_dup", Some(corpusMatch(id)))
        else if (batchMatch.contains(id)) ("drop_batch_dup", Some(batchMatch(id)))
        else ("admit", None)
      assert(got(id) == want, s"doc $id: got ${got(id)}, want $want")
    }
  }

  test("prefix filter is threshold-complete on a rare-token corpus (== brute force)") {
    import graft.text.Dedup
    // 60 docs over a RICH vocabulary (each doc mostly unique tokens), with
    // planted near-dup pairs above and below the threshold. No token is
    // corpus-hot, so caps cannot bind and the output must equal the truth.
    val rnd = new scala.util.Random(11)
    val base = (0 until 60).map { i =>
      i.toLong -> (0 until 20).map(_ => s"w${rnd.nextInt(2000)}_$i").distinct
    }
    val planted = Seq(
      1000L -> base(3)._2, // exact dup of doc 3
      1001L -> (base(7)._2.drop(1) :+ "extra1"), // high-overlap near-dup
      1002L -> (base(9)._2.take(8) ++ (0 until 12).map(j => s"z$j"))) // below t
    val toksDf = (base ++ planted).toDF("doc_id", "t")
    val got = Dedup.prefixJaccardPairsOf(toksDf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val sets = (base ++ planted).map { case (id, t) => id -> t.toSet }.toMap
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      (a, i) <- ids.zipWithIndex; b <- ids.drop(i + 1)
      inter = (sets(a) & sets(b)).size
      uni = (sets(a) | sets(b)).size
      if inter * Dedup.PrefixJaccDen >= uni * Dedup.PrefixJaccNum
    } yield (a, b) -> (inter.toLong, inter.toDouble / uni)).toMap
    assert(want.contains((3L, 1000L)) && !want.contains((9L, 1002L)),
      "planted fixtures must straddle the threshold")
    assert(got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
  }

  test("prefix filter hot-token order: near-dups found despite corpus-hot vocabulary") {
    import graft.text.Dedup
    // 80 docs all sharing 6 hub tokens (df = 80 > MaxBucket) + unique
    // rare tails; one planted near-dup pair whose overlap includes its
    // rare tokens. Hub tokens sort LAST, so prefixes stay rare and the
    // planted pair must surface from an uncapped rare bucket.
    val hubs = (0 until 6).map(i => s"hub$i")
    val docs = (0 until 80).map { i =>
      i.toLong -> (hubs ++ (0 until 4).map(j => s"rare${i}_$j"))
    }
    val dup = 2000L -> (hubs ++ (0 until 4).map(j => s"rare5_$j") :+ "odd1")
    val toksDf = (docs :+ dup).toDF("doc_id", "t")
    val got = Dedup.prefixJaccardPairsOf(toksDf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((5L, 2000L)),
      s"planted near-dup must surface via its rare prefix tokens, got $got")
  }

  test("span extents: maximal shared runs localized exactly, short/absent runs silent") {
    import graft.text.Dedup
    val run = (1 to 12).map(i => s"shared$i") // 12 tokens >= SpanMinTokens
    val docA = (1 to 7).map(i => s"alpha$i") ++ run ++ (1 to 5).map(i => s"omega$i")
    val docB = (1 to 3).map(i => s"beta$i") ++ run ++ (1 to 9).map(i => s"gamma$i")
    // doc 3 shares a run SHORTER than SpanMinTokens with doc 1
    val short = run.take(Dedup.SpanMinTokens - 1)
    val docC = (1 to 10).map(i => s"delta$i") ++ short ++ (1 to 10).map(i => s"eps$i")
    val docD = (1 to 40).map(i => s"unrelated$i")
    val toks = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD)).toDF("doc_id", "t")
    val spans = Dedup.spanExtentsOf(toks).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
    val byPair = spans.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the 12-token run is reported once, maximal, at the exact offsets
    assert(byPair.get((1L, 2L)) === Some(Set((7L, 3L, 12L))),
      s"expected exact extent, got ${byPair.get((1L, 2L))}")
    // the run shorter than SpanMinTokens must stay silent
    assert(!byPair.contains((1L, 3L)) && !byPair.contains((2L, 3L)),
      "sub-threshold run must not be reported")
    assert(byPair.keys.forall(p => !p.productIterator.contains(4L)),
      "unrelated doc must produce no spans")
  }

  test("span extents == brute-force maximal-span finder on random corpora") {
    import graft.text.Dedup
    // docs splice shared fragments (the dup structure real corpora have)
    // between unique filler; brute force recomputes every maximal
    // >= SpanMinTokens common run per doc pair from first principles
    val rnd = new scala.util.Random(23)
    val frags = (0 until 8).map { f =>
      (0 until (10 + rnd.nextInt(6))).map(j => s"f${f}_$j")
    }
    var fill = 0
    val docs = (0 until 24).map { i =>
      val parts = (0 until (2 + rnd.nextInt(3))).flatMap { _ =>
        val filler = (0 until (3 + rnd.nextInt(5))).map { _ =>
          fill += 1; s"u$fill"
        }
        filler ++ frags(rnd.nextInt(frags.length))
      }
      i.toLong -> parts
    }
    def maximalSpans(a: Seq[String], b: Seq[String]): Set[(Long, Long, Long)] = {
      // run lengths via the classic DP over the (i, j) diagonal grid
      val ln = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- a.length - 1 to 0 by -1; j <- b.length - 1 to 0 by -1)
        ln(i)(j) = if (a(i) == b(j)) ln(i + 1)(j + 1) + 1 else 0
      (for {
        i <- a.indices; j <- b.indices
        if a(i) == b(j)
        // maximal: not extendable left
        if i == 0 || j == 0 || a(i - 1) != b(j - 1)
        len = ln(i)(j)
        if len >= Dedup.SpanMinTokens
      } yield (i.toLong, j.toLong, len.toLong)).toSet
    }
    val got = Dedup.spanExtentsOf(docs.toDF("doc_id", "t")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val byId = docs.toMap
    var checkedPairs = 0
    for (a <- 0 until 24; b <- a + 1 until 24) {
      val want = maximalSpans(byId(a.toLong), byId(b.toLong))
      val have = got.getOrElse((a.toLong, b.toLong), Set.empty)
      assert(have == want,
        s"pair ($a,$b): got $have want $want")
      if (want.nonEmpty) checkedPairs += 1
    }
    assert(checkedPairs > 5, s"random corpus produced only $checkedPairs span pairs — weak test")
  }

  test("span scrub: later doc loses the copied span, first keeper and bystanders intact") {
    import graft.text.Dedup
    val run = (1 to 12).map(i => s"shared$i")
    val docA = (1 to 7).map(i => s"alpha$i") ++ run ++ (1 to 5).map(i => s"omega$i")
    val docB = (1 to 3).map(i => s"beta$i") ++ run ++ (1 to 9).map(i => s"gamma$i")
    val docC = (1 to 40).map(i => s"unrelated$i")
    val tmp = java.nio.file.Files.createTempDirectory("graftscrub")
    Seq((1L, docA.mkString(" ")), (2L, docB.mkString(" ")), (3L, docC.mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.spanScrub(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "one row per doc, untouched docs included")
    // keeper (smaller id) intact
    assert(out(1L) == (docA.length.toLong, 0L, docA.mkString(" ")))
    // later doc loses exactly the copied run
    val wantB = (1 to 3).map(i => s"beta$i") ++ (1 to 9).map(i => s"gamma$i")
    assert(out(2L) == (docB.length.toLong, 12L, wantB.mkString(" ")),
      s"scrub mismatch: ${out(2L)}")
    // bystander untouched
    assert(out(3L) == (docC.length.toLong, 0L, docC.mkString(" ")))
  }

  test("span scrub: overlapping ranges remove the union; empty docs survive") {
    import graft.text.Dedup
    // doc 10 carries two OVERLAPPING copied runs (one from doc 1, one
    // from doc 2, sharing a middle section) — removed tokens must be
    // the union of the covered index sets, not the sum of range lengths
    val left = (1 to 10).map(i => s"L$i")
    val mid = (1 to 6).map(i => s"M$i")
    val right = (1 to 10).map(i => s"R$i")
    val doc1 = (1 to 5).map(i => s"a$i") ++ left ++ mid ++ (1 to 5).map(i => s"b$i")
    val doc2 = (1 to 5).map(i => s"c$i") ++ mid ++ right ++ (1 to 5).map(i => s"d$i")
    val doc10 = (1 to 4).map(i => s"e$i") ++ left ++ mid ++ right ++ (1 to 4).map(i => s"f$i")
    val tmp = java.nio.file.Files.createTempDirectory("graftscrub2")
    Seq((1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")),
      (10L, doc10.mkString(" ")), (11L, "")) // 11: zero-token doc
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.spanScrub(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 10 loses left+mid (spans vs doc 1) UNION mid+right (vs doc 2):
    // the mid section counts once
    val wantKept = (1 to 4).map(i => s"e$i") ++ (1 to 4).map(i => s"f$i")
    val wantRemoved = left.length + mid.length + right.length
    assert(out(10L) == (doc10.length.toLong, wantRemoved.toLong, wantKept.mkString(" ")),
      s"overlap union mismatch: ${out(10L)}")
    // the zero-token doc survives as an empty row (no crash, no drop)
    assert(out(11L) == (0L, 0L, ""))
  }

  test("chunking: full coverage, exact overlap, no redundant tails, clean edges") {
    import graft.text.TextExtras
    val (size0, stride) = (TextExtras.ChunkSize, TextExtras.ChunkStride)
    // edge lengths around the size/stride boundaries
    val lens = Seq(1, stride, size0 - 1, size0, size0 + 1, 2 * stride + size0, 99)
    val toks = lens.zipWithIndex
      .map { case (n, i) => (i.toLong, (0 until n).map(j => s"t${j}")) }
      .toDF("doc_id", "t")
    val out = TextExtras.chunksOf(toks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = out.groupBy(_._1)
    lens.zipWithIndex.foreach { case (n, i) =>
      val cs = byDoc(i.toLong).sortBy(_._2)
      // chunk ids dense from 0; starts at k*stride; count per the formula
      val wantN = 1 + (math.max(0, n - size0) + stride - 1) / stride
      assert(cs.length == wantN, s"doc $i (n=$n): ${cs.length} chunks, want $wantN")
      cs.zipWithIndex.foreach { case ((_, cid, start, ntok, text), k) =>
        assert(cid == k && start == k.toLong * stride)
        val want = (start.toInt until math.min(n, start.toInt + size0)).map(j => s"t$j")
        assert(ntok == want.length && text == want.mkString(" "),
          s"doc $i chunk $k: wrong slice")
      }
      // coverage: every token index appears in some chunk
      val covered = cs.flatMap { case (_, _, s, nt, _) => s until (s + nt) }.toSet
      assert(covered == (0L until n).toSet, s"doc $i: coverage hole")
    }
  }

  test("bucket-cap discipline: a degenerate all-duplicates corpus cannot go quadratic") {
    import graft.text.Dedup
    // 200 identical docs: every minhash band bucket and every span
    // gram bucket holds all 200 — far over MaxBucket — so the pair
    // tiers must emit NOTHING (the documented recall trade: capped,
    // not exploded), while exact dedup still catches the whole group
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graftbomb")
    (0 until 200).map(i => (i.toLong, text)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Dedup.minhashPairs(spark, tmp.toString).count() == 0,
      "over-cap band buckets must be dropped, not exploded")
    assert(Dedup.spanExtentsOf(
      Tables.documents(spark, tmp.toString)
        .select($"doc_id", TextAnalysis.toks($"text").as("t"))).count() == 0,
      "over-cap gram buckets must be dropped, not exploded")
    // the safety net: exact dedup groups all 200 under one fingerprint
    val ex = Dedup.exact(spark, tmp.toString).collect()
    assert(ex.length == 1 && ex.head.getLong(2) == 200L,
      "exact dedup must still catch the capped-out duplicates")
  }

  test("cappedPairs keeps buckets of 2..MaxBucket rows, at both edges of the cap") {
    import graft.functions.OrderedPairStructs
    import org.apache.spark.sql.graftnative.Native
    // buckets of 1, 2, MaxBucket and MaxBucket + 1 rows, ids unique
    // across buckets; the fixtures never reach the last two sizes
    val sizes = Seq(1, 2, Dedup.MaxBucket, Dedup.MaxBucket + 1)
    val rows = sizes.zipWithIndex.flatMap { case (n, k) =>
      (0 until n).map(i => (k.toLong, k * 1000L + i, (i % 7).toLong))
    }.toDF("k", "doc_id", "n_doc")
    def keysOf(pairs: Seq[(Long, Long)]): Set[Long] =
      pairs.flatMap { case (a, b) => Seq(a / 1000, b / 1000) }.toSet
    // a singleton bucket makes no pair either way, so the kept set is
    // read off the predicate itself
    val kept = rows.groupBy($"k").agg(count(lit(1)).as("n"))
      .filter(Dedup.inCap($"n")).select($"k").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), s"the cap kept buckets $kept")
    val expected = 1 + Dedup.MaxBucket * (Dedup.MaxBucket - 1) / 2
    val sorted = Dedup.cappedPairs(rows, Seq($"k"), $"doc_id")(Dedup.sortedPairs)
      .select($"p.part_a", $"p.part_b").as[(Long, Long)].collect().toSeq
    assert(sorted.size == expected && sorted.distinct.size == expected,
      s"sortedPairs: ${sorted.size} pairs, want $expected")
    assert(keysOf(sorted) == Set(1L, 2L), s"sortedPairs read buckets ${keysOf(sorted)}")
    assert(sorted.forall { case (a, b) => a / 1000 == b / 1000 }, "a pair crossed buckets")
    val ordered = Dedup.cappedPairs(rows, Seq($"k"), struct($"doc_id", $"n_doc"))(
        ds => Native(es => OrderedPairStructs(es.head), ds))
      .select($"p.doc_a", $"p.doc_b").as[(Long, Long)].collect().toSeq
    assert(ordered.sorted == sorted.sorted,
      "the struct kernel must see the same capped buckets as sortedPairs")
  }

  test("gram overlap: exact copies score 1.0, unique docs 0.0, shares bounded") {
    import graft.text.TextExtras
    val copied = (1 to 20).map(i => s"copy$i")
    val tmp = java.nio.file.Files.createTempDirectory("graftov")
    Seq(
      (1L, copied.mkString(" ")),
      (2L, copied.mkString(" ")), // exact duplicate of 1
      (3L, (1 to 20).map(i => s"uniq$i").mkString(" ")),
      (4L, "too short")) // below the gram width
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextExtras.gramOverlap(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val wantGrams = (copied.length - TextExtras.OverlapN + 1).toLong
    assert(out(1L) == (wantGrams, wantGrams, 1.0) && out(2L) == out(1L),
      s"exact copies must fully overlap: ${out(1L)} / ${out(2L)}")
    assert(out(3L) == (wantGrams, 0L, 0.0), s"unique doc must not overlap: ${out(3L)}")
    assert(out(4L) == (0L, 0L, 0.0), "gram-less doc reports zeros")
  }

  test("readability: planted doc counts exact, monosyllabic text maxes flesch") {
    val tmp = java.nio.file.Files.createTempDirectory("graftread")
    Seq(
      // 6 words, 2 sentences, syllable groups: he-llo wo-rld how are you to-day
      // -> e-o o-(rld? 'world' = 'o') ... counted by [aeiouy]+ runs
      (1L, "Hello world. How are you today?", "en", "web", 31L),
      (2L, "go go go", "en", "web", 8L), // 3 words 1 sentence 3 syl-groups
      (3L, "", "en", "web", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.readability(spark, tmp.toString).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toMap
    // doc 1: vowel runs lowercased — e,o / o / o / a,e / ou / o,a
    val (w1, s1, syl1, fl1, fk1) = got(1L)
    assert((w1, s1, syl1) == (6L, 2L, 9L), s"doc1 counters ${got(1L)}")
    def flesch(w: Long, s: Long, syl: Long) =
      206.835 - 1.015 * (w.toDouble / s) - 84.6 * (syl.toDouble / w)
    def fk(w: Long, s: Long, syl: Long) =
      0.39 * (w.toDouble / s) + 11.8 * (syl.toDouble / w) - 15.59
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(fl1 == r4(flesch(6, 2, 9)) && fk1 == r4(fk(6, 2, 9)))
    // doc 2: one syllable per word -> near the top of the flesch scale
    val (w2, s2, syl2, fl2, _) = got(2L)
    assert((w2, s2, syl2) == (3L, 1L, 3L))
    assert(fl2 == r4(flesch(3, 1, 3)) && fl2 > 115.0)
    // doc 3: empty text clamps to the (1,1,0) floor, no NaN/Inf
    val (w3, s3, syl3, fl3, fk3) = got(3L)
    assert((w3, s3, syl3) == (1L, 1L, 0L))
    assert(!fl3.isNaN && !fl3.isInfinite && !fk3.isNaN)
  }

  test("readability == naive Java-regex recomputation on the fixture corpus") {
    val got = TextAnalysis.readability(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
    assert(docs.nonEmpty)
    docs.foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val w = math.max(1, text.split("\\s+").count(_.nonEmpty)).toLong
      val s = math.max(1, "[.!?]".r.findAllIn(text).length).toLong
      val syl = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      assert(got(id) == ((w, s, syl)), s"doc $id: ${got(id)} vs ($w,$s,$syl)")
    }
  }

  test("source_vocab_overlap: planted vocabularies score exact Jaccard; disjoint pairs absent") {
    val tmp = java.nio.file.Files.createTempDirectory("graftvocab")
    Seq(
      (1L, "a b c d", "en", "A", 7L),
      (2L, "c d e f", "en", "B", 7L),
      (3L, "x y", "en", "C", 3L),
      (4L, "d c", "en", "B", 3L)) // duplicates distinct away within B
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextExtras.sourceVocabOverlap(spark, tmp.toString).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // |A|=4 |B|=4, inter {c,d} -> J = 2/6
    assert(got(("A", "B")) == ((4L, 4L, 2L, 0.333333)))
    // C shares nothing: the pair never materializes (inner join contract)
    assert(!got.contains(("A", "C")) && !got.contains(("B", "C")))
    assert(got.size == 1)
  }

  test("source_vocab_overlap == naive per-source set intersection on the fixture") {
    val got = TextExtras.sourceVocabOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    val vocab = Tables.documents(spark, sf)
      .select($"source", $"text").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.flatMap(_.getString(1).split("\\s+")).filter(_.nonEmpty).toSet)
      .toMap
    for (((a, b), inter) <- got) {
      assert(a < b)
      assert(inter == (vocab(a) & vocab(b)).size.toLong,
        s"($a,$b): $inter vs ${(vocab(a) & vocab(b)).size}")
    }
  }

  test("token stats: ttr in (0,1], bpe count >= whitespace token count") {
    val st = TextAnalysis.textStats(spark, sf).collect()
    st.foreach { r =>
      val ttr = r.getDouble(3)
      assert(ttr > 0 && ttr <= 1.0)
    }
    val joined = TextAnalysis.textStats(spark, sf).select($"doc_id", $"n_tokens")
      .join(TextAnalysis.tokenCount(spark, sf), "doc_id").collect()
    joined.foreach(r => assert(r.getLong(2) >= r.getLong(1)))
  }

  test("source_gram_containment: asymmetric syndication detected; naive recount") {
    val rows = TextAnalysis.sourceGramContainment(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val sg = Tables.documents(spark, sf).select($"source", $"text").collect()
      .flatMap { r =>
        val ts = r.getString(1).split("\\s+").filter(_.nonEmpty)
        if (ts.length < 3) Seq.empty
        else ts.sliding(3).map(g => (r.getString(0), g.mkString(" "))).toSeq
      }.distinct.groupBy(_._1).map { case (s, gs) => s -> gs.map(_._2).toSet }
    for (((a, b), (shared, na, c)) <- rows.take(30)) {
      assert(shared == (sg(a) & sg(b)).size)
      assert(na == sg(a).size)
      assert(math.abs(c - shared.toDouble / na) < 1e-5)
    }
    // planted: source y copies HALF of x's text, plus its own material;
    // containment(y -> x) >> containment(x -> y)
    val tmp = java.nio.file.Files.createTempDirectory("graftcont")
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    val xOwn = (1 to 30).map(i => s"xonly$i").mkString(" ")
    val yOwn = (1 to 3).map(i => s"yonly$i").mkString(" ")
    Seq((1L, s"$shared $xOwn", "en", "x", 1L),
      (2L, s"$shared $yOwn", "en", "y", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = TextAnalysis.sourceGramContainment(spark, tmp.toString)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4))
      .toMap
    assert(p(("y", "x")) > 2 * p(("x", "y")),
      s"directionality lost: ${p(("y", "x"))} vs ${p(("x", "y"))}")
  }

  test("text_novelty_rate: first doc fully novel; duplicated doc zero; naive recount") {
    val rows = TextAnalysis.noveltyRate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) ->
        r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq)
      .filter(_._2.length >= 3)
    val gramsOf = docs.map { case (id, ts) =>
      id -> ts.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val owner = scala.collection.mutable.Map.empty[String, Long]
    for ((id, gs) <- gramsOf.toSeq.sortBy(_._1); g <- gs)
      if (!owner.contains(g) || owner(g) > id) owner(g) = id
    assert(rows.size == gramsOf.size)
    for ((id, gs) <- gramsOf) {
      val novel = gs.count(g => owner(g) == id)
      val (n, nn, pm) = rows(id)
      assert(n == gs.size)
      assert(nn == novel, s"doc $id")
      assert(pm == novel.toLong * 1000 / gs.size)
    }
    // lowest doc_id introduces everything it contains
    val minId = gramsOf.keys.min
    assert(rows(minId)._3 == 1000L)

    // planted: doc 2 repeats doc 1 verbatim -> zero novelty
    val tmp = java.nio.file.Files.createTempDirectory("graftnov")
    Seq((1L, "alpha beta gamma delta", "en", "s", 1L),
      (2L, "alpha beta gamma delta", "en", "s", 1L),
      (3L, "omega psi chi phi", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = TextAnalysis.noveltyRate(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(p(1L) == 1000L && p(2L) == 0L && p(3L) == 1000L)
  }

  test("source_dedup_profile == naive fingerprint recount; ties to dedup_exact") {
    val rows = Dedup.sourceDedupProfile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val docs = Tables.documents(spark, sf).select($"source", $"text")
      .collect().map(r => (r.getString(0),
        r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ")))
    val bySrc = docs.groupBy(_._1)
    assert(rows.size == bySrc.size)
    for ((s, ds) <- bySrc) {
      val fps = ds.map(_._2).groupBy(identity).map(_._2.length)
      val (n, dist, red, pm, mc) = rows(s)
      assert(n == ds.length)
      assert(dist == fps.size)
      assert(red == ds.length - fps.size)
      assert(pm == (ds.length - fps.size).toLong * 1000 / ds.length)
      assert(mc == fps.max)
    }
    // global redundant count ties to dedup_exact's clique sizes
    val globalRed = Dedup.exact(spark, sf).collect()
      .map(r => r.getLong(2) - 1).sum
    // per-source redundancy can only find duplicates WITHIN a source,
    // so it is bounded above by the global count
    assert(rows.values.map(_._3).sum <= globalRed ||
      globalRed == 0 && rows.values.map(_._3).sum == 0)
  }

  test("text_code_detect: counts == naive char scan; planted code vs prose discriminates") {
    val rows = TextExtras.codeDetect(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    val symbols = "{}();=<>[]#/\\".toSet
    for (r <- rows.take(50)) {
      val t = docs(r.getLong(0))
      assert(r.getAs[Long]("n_symbol") == t.count(symbols))
      assert(r.getAs[Long]("n_digit") == t.count(_.isDigit))
      assert(r.getAs[Long]("symbol_permille") ==
        t.count(symbols).toLong * 1000 / math.max(t.length, 1))
    }
    // planted: a code-like doc trips the flag, prose does not
    val tmp = java.nio.file.Files.createTempDirectory("graftcode")
    Seq(
      (1L, "def f(x) { return (x == 1) ? g[0] : h(x); } // comment", "en", "s", 1L),
      (2L, "the quiet river wandered through the old valley at dawn", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = TextExtras.codeDetect(spark, tmp.toString).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("is_code")).toMap
    assert(p(1L) && !p(2L), s"discrimination failed: $p")
  }

  test("dedup_blocking_eval == recount of the two pipelines; exact dupes give PC=1") {
    val r = Dedup.blockingEval(spark, sf).collect()(0)
    val truth = Dedup.jaccardPairs(spark, sf).filter($"jacc" >= 0.5)
      .select($"doc_a", $"doc_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val cand = Dedup.minhashPairs(spark, sf).select($"doc_a", $"doc_b")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val nDocs = Tables.documents(spark, sf).count()
    assert(r.getAs[Long]("n_truth") == truth.size)
    assert(r.getAs[Long]("n_cand") == cand.size)
    assert(r.getAs[Long]("n_hit") == (truth & cand).size)
    assert(r.getAs[Long]("n_hit") <=
      math.min(r.getAs[Long]("n_truth"), r.getAs[Long]("n_cand")))
    val rr = 1.0 - cand.size.toDouble / (nDocs.toDouble * (nDocs - 1) / 2)
    assert(math.abs(r.getAs[Double]("reduction_ratio") - rr) < 1e-5)

    // planted: 10 identical-text pairs + unique fillers -> every truth
    // pair is an exact dup, so each collides in EVERY band: PC = 1.0
    val tmp = java.nio.file.Files.createTempDirectory("graftblk")
    val dup = (0 until 10).flatMap(i => Seq(
      (i * 2L, s"alpha beta gamma delta epsilon zeta eta theta clone$i x", "en", "s", 1L),
      (i * 2L + 1, s"alpha beta gamma delta epsilon zeta eta theta clone$i x", "en", "s", 1L)))
    val fill = (100 until 120).map(i =>
      (i.toLong, s"unique$i solo$i words$i only$i here$i now$i", "en", "s", 1L))
    (dup ++ fill).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = Dedup.blockingEval(spark, tmp.toString).collect()(0)
    assert(p.getAs[Long]("n_truth") >= 10)
    assert(p.getAs[Double]("pair_completeness") == 1.0,
      s"PC ${p.getAs[Double]("pair_completeness")}")
  }

  test("token_fertility: groups tie out to corpus totals, fertility >= 1, langs closed") {
    val rows = TextExtras.tokenFertility(spark, sf).collect()
    val langs = Set("en", "de", "fr", "es")
    rows.foreach { r =>
      assert(langs(r.getAs[String]("pred_lang")))
      // every whitespace word contributes >= 1 BPE-regex token
      assert(r.getAs[Long]("n_bpe") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Double]("fertility") >= 1.0)
    }
    // (source, lang) cells partition the corpus: doc/word/bpe totals match
    val docs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs)
    val naive = Tables.documents(spark, sf).select($"text").collect().map { r =>
      val words = r.getString(0).split("\\s+").count(_.nonEmpty).toLong
      val bpe = java.util.regex.Pattern.compile(TextAnalysis.BpePattern)
        .matcher(r.getString(0))
      var nb = 0L
      while (bpe.find()) nb += 1
      (words, nb)
    }
    assert(rows.map(_.getAs[Long]("n_words")).sum == naive.map(_._1).sum)
    assert(rows.map(_.getAs[Long]("n_bpe")).sum == naive.map(_._2).sum)
  }

  test("token_burstiness == naive Fano factor; planted clump vs uniform") {
    val rows = TextExtras.tokenBurstiness(spark, sf).collect()
    assert(rows.length == TextExtras.BurstTop)
    val perDoc = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .flatMap(r => r.getString(1).split("\\s+").filter(_.nonEmpty)
        .map(t => (r.getLong(0), t)))
    val nDocs = Tables.documents(spark, sf).count().toDouble
    val byTok = perDoc.groupBy(_._2)
    // descending tf with token tiebreak
    val tfs = rows.map(r => (r.getAs[Long]("tf"), r.getAs[String]("tok")))
    assert(tfs.sameElements(tfs.sortBy(p => (-p._1, p._2))))
    for (r <- rows) {
      val occs = byTok(r.getAs[String]("tok")).groupBy(_._1)
        .map(_._2.length.toLong).toSeq
      val tf = occs.sum
      assert(r.getAs[Long]("tf") == tf)
      assert(r.getAs[Long]("df") == occs.length)
      val mean = tf / nDocs
      val esq = occs.map(c => c.toDouble * c).sum / nDocs
      val want = (esq - mean * mean) / mean
      assert(math.abs(r.getAs[Double]("vmr") - want) < 1e-5,
        s"${r.getAs[String]("tok")}: vmr ${r.getAs[Double]("vmr")} vs $want")
    }
    // planted: token 'u' once in every doc (VMR -> 0 as clumping
    // vanishes); token 'z' clumped 10x in a tenth of docs (VMR >> 1)
    val tmp = java.nio.file.Files.createTempDirectory("graftburst")
    (1 to 100).map(i => (i.toLong,
      if (i <= 10) "u " + ("z " * 10).trim else "u",
      "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val p = TextExtras.tokenBurstiness(spark, tmp.toString).collect()
      .map(r => r.getAs[String]("tok") -> r.getAs[Double]("vmr")).toMap
    assert(p("u") == 0.0) // exactly one per doc: zero variance
    assert(p("z") > 5.0, s"clumped token VMR ${p("z")}")
  }
}
