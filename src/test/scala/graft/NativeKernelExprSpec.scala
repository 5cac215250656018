package graft

import graft.functions.{BpePreTokenCount, DecimalOrderJoin, DotProduct, LetterTokens, LshBuckets,
  MatchCount, NearestCell, PairStructs, QuantCode, SegBucket, WhitespaceTokens}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Size
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The r14 native kernels pinned bit-for-bit against the SQL spellings
  * they replaced (which the DuckDB oracle still replays):
  *
  *  - [[PairStructs]] vs the nested flatten/transform/slice lambda
  *    (basket_pairs / basket_rules pair explode);
  *  - [[graft.functions.BootFold]] vs the explode(sequence) + md5-hex +
  *    conv(substring) lanes + threshold when-chain draw pipeline and
  *    groupBy(b) sums (bootstrap_ci / ab_uplift_bootstrap);
  *  - [[SegBucket]] vs the inline when-chain + integral div bucket
  *    assignment (FreqSelect's narrowing passes), on both the long and
  *    decimal paths;
  *  - [[MatchCount]] vs the `aggregate(zip_with(...))` signature match
  *    count, and [[PairStructs]] over SORTED ids vs the least/greatest
  *    bucket lambda (dedup_minhash_pairs, dedup_winnow_pairs), both as
  *    generator-driven properties: raw ScalaCheck generators with fixed
  *    seeds, every case in one frame, run once through the
  *    local-relation (interpreted) path and once behind an exchange
  *    (codegen path);
  *  - the three bucket pair kernels (`OrderedPairStructs`,
  *    `NewPairStructs`, `HammingPairStructs`) vs their bucket lambdas,
  *    on the hand-picked rows plus generated buckets the same way;
  *  - [[DecimalOrderJoin]] vs `array_join(sort_array(cast(ids AS
  *    array<string>)), ",")` (mr_indexer's doc list), over generated
  *    arrays of decimal-string edges on both of its paths;
  *  - the tokenizer kernels ([[WhitespaceTokens]], [[LetterTokens]],
  *    [[BpePreTokenCount]]) vs the split / regexp_extract_all spellings
  *    they replaced, over generated strings (every Java regex class
  *    boundary, null, long, and malformed UTF-8), compared byte for byte;
  *  - the retrieval kernels ([[DotProduct]], [[NearestCell]],
  *    [[QuantCode]], [[LshBuckets]]) vs the interpreted spellings the
  *    DuckDB twins replay, over generated vectors with every IEEE edge
  *    (±0.0, NaN, ±Infinity, the extreme and the least positive double),
  *    null and empty arrays, null elements and wrong lengths, compared
  *    bit for bit with NaN equal to NaN.
  */
class NativeKernelExprSpec extends SparkSpec {
  import spark.implicits._

  test("PairStructs == flatten(transform(..., slice ...)) ordered pairs") {
    val baskets = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),
      (2L, Seq(10L)),           // single item: no pairs
      (3L, Seq.empty[Long]),    // empty
      (4L, Seq(7L, 9L)),
      (5L, (1L to 12L))         // larger basket
    ).toDF("k", "basket")
    val native = baskets
      .select($"k", explode(Native(es => PairStructs(es.head), $"basket")).as("p"))
      .select($"k", $"p.part_a", $"p.part_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val sql = baskets
      .select($"k", explode(expr(
        """flatten(transform(basket,
          |  (x, i) -> transform(slice(basket, i + 2, size(basket) - i - 1),
          |                      y -> struct(x AS part_a, y AS part_b))))"""
          .stripMargin)).as("p"))
      .select($"k", $"p.part_a", $"p.part_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(native === sql)
    assert(native.count(_._1 == 5L) === 12 * 11 / 2)
  }

  test("BootFold == explode + groupBy(b) sums over the same multipliers") {
    val b = relational.StatModels.BootB
    val thr = relational.StatModels.bootThresholds.toArray
    val rows = Seq(("7", 100L, 3L), ("8", 250L, 1L), ("9:x", 999L, 2L),
      ("héllo:2020-01-31", 5L, 7L), ("42:2024-03-01", 11L, 13L))
      .toDF("key", "w1", "w2")
    val foldC = Native(
      es => graft.functions.BootFold(es(0), es(1), b, 2, thr).toAggregateExpression(),
      col("key"), array(col("w1"), col("w2")))
    val native = rows.agg(foldC.as("cells"))
      .select(posexplode(col("cells")).as(Seq("b", "s")))
      .select(col("b"), element_at(col("s"), 1).as("s1"),
        element_at(col("s"), 2).as("s2"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // the md5-hex lane + threshold when-chain draw spelling the DuckDB
    // oracle replays
    val grouped = rows
      .select(col("w1"), col("w2"), $"key",
        explode(sequence(lit(0), lit(b / 4 - 1))).as("g"))
      .withColumn("h", md5(concat($"key", lit(":"), $"g".cast("string"))))
      .select(col("w1"), col("w2"), $"g",
        posexplode(array((0 until 4).map(l =>
          expr(s"conv(substring(h, ${1 + 8 * l}, 8), 16, 10)")
            .cast("double") / lit(4294967296e0)): _*))
          .as(Seq("lane", "u")))
      .select(col("w1"), col("w2"), ($"g" * 4 + $"lane").as("b"),
        relational.StatModels.poissonMultiplier($"u").as("m"))
      .groupBy(col("b"))
      .agg(sum(col("m") * col("w1")).as("s1"), sum(col("m") * col("w2")).as("s2"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(native === grouped)
    assert(native.size === b)
  }

  test("OrderedPairStructs == containment bucket lambda (id-ordered 4-field pairs)") {
    // distinct ids, as a bucket holds each doc once
    val generated = keyed(samples(genIds.flatMap(ids =>
      Gen.listOfN(ids.size, genEdgeLong).map(ids.zip(_))), 40))
    val buckets = (Seq(
      (1L, Seq((5L, 10L), (2L, 7L), (9L, 3L))),
      (2L, Seq((4L, 4L))),                       // singleton: no pairs
      (3L, Seq.empty[(Long, Long)]),             // empty
      (4L, (1L to 9L).map(i => (10L - i, i * 2)))  // descending ids
    ) ++ generated).toDF("k", "xs")
      .select($"k", expr("transform(xs, e -> named_struct('doc_id', e._1, 'n_doc', e._2))").as("ds"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"p.doc_a", $"p.n_a", $"p.doc_b", $"p.n_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    for (d <- bothPaths(buckets)) {
      val native = rows(d
        .select($"k", explode(Native(es => graft.functions.OrderedPairStructs(es.head), $"ds")).as("p")))
      val sql = rows(d.select($"k", explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(filter(ds, (y, j) -> j > i), y -> named_struct(
          |    'doc_a', IF(x.doc_id < y.doc_id, x.doc_id, y.doc_id),
          |    'n_a',   IF(x.doc_id < y.doc_id, x.n_doc, y.n_doc),
          |    'doc_b', IF(x.doc_id < y.doc_id, y.doc_id, x.doc_id),
          |    'n_b',   IF(x.doc_id < y.doc_id, y.n_doc, x.n_doc)))))""".stripMargin))
        .as("p")))
      assert(native === sql)
      assert(native.count(_._1 == 4L) === 9 * 8 / 2)
      // ordering holds on every emitted pair
      assert(native.forall { case (_, a, _, b, _) => a < b })
      // every generated pair, plus the hand-picked C(3,2) and C(9,2)
      assert(native.size === generated.map(g => g._2.size * (g._2.size - 1) / 2).sum + 3 + 36)
    }
  }

  test("NewPairStructs == incremental bucket lambda with the OR filter folded in") {
    val generated = keyed(samples(Gen.oneOf(Some(false), Some(true), None).flatMap { flag =>
      genBuckets(Gen.zip(genEdgeLong, flag.fold(Gen.oneOf(false, true))(Gen.const)))
    }, 60))
    val buckets = (Seq(
      (1L, Seq((5L, true), (2L, false), (9L, true), (1L, false))),
      (2L, Seq((4L, false), (6L, false))),   // no new docs: zero pairs
      (3L, Seq((7L, true), (8L, true)))      // new-new
    ) ++ generated).toDF("k", "xs")
      .select($"k", expr("transform(xs, e -> named_struct('doc_id', e._1, 'is_new', e._2))").as("ds"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"p.a", $"p.b", $"p.nn")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq.sorted
    for (d <- bothPaths(buckets)) {
      val native = rows(d
        .select($"k", explode(Native(es => graft.functions.NewPairStructs(es.head), $"ds")).as("p")))
      val sql = rows(d.select($"k", explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(filter(ds, (y, j) -> j > i AND (x.is_new OR y.is_new)),
          |    y -> named_struct(
          |      'a', least(x.doc_id, y.doc_id),
          |      'b', greatest(x.doc_id, y.doc_id),
          |      'nn', x.is_new AND y.is_new))))""".stripMargin))
        .as("p")))
      assert(native === sql)
      assert(!native.exists(_._1 == 2L), "all-corpus bucket must emit no pairs")
      assert(native.filter(_._1 == 3L).forall(_._4), "new-new pair must flag nn")
    }
    // full all-old and all-new buckets are among the generated ones
    val full = generated.map(_._2).filter(_.size == text.Dedup.MaxBucket)
    assert(full.exists(_.forall(!_._2)) && full.exists(_.forall(_._2)))
  }

  test("HammingPairStructs == simhash/phash bucket lambda (xor bit counts)") {
    val generated = keyed(samples(genBuckets(Gen.zip(genEdgeLong, genEdgeLong, genEdgeLong)), 40))
    val buckets = (Seq(
      (1L, Seq((5L, 0x0FL, -1L), (2L, 0xF0L, -1L), (9L, 0x0FL, 0L))),
      (2L, Seq((4L, 1L, 2L))),
      (3L, Seq((7L, Long.MinValue, Long.MaxValue), (8L, 0L, 0L), (6L, -1L, -1L)))
    ) ++ generated).toDF("k", "xs")
      .select($"k", expr("transform(xs, e -> named_struct('doc_id', e._1, 'lo', e._2, 'hi', e._3))").as("ds"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"p.a", $"p.b", $"p.h")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq.sorted
    for (d <- bothPaths(buckets)) {
      val native = rows(d
        .select($"k", explode(Native(es => graft.functions.HammingPairStructs(es.head), $"ds")).as("p")))
      val sql = rows(d.select($"k", explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(filter(ds, (y, j) -> j > i), y -> named_struct(
          |    'a', least(x.doc_id, y.doc_id),
          |    'b', greatest(x.doc_id, y.doc_id),
          |    'h', bit_count(x.lo ^ y.lo) + bit_count(x.hi ^ y.hi)))))""".stripMargin))
        .as("p")))
      assert(native === sql)
      // identical halves -> hamming 0; full complement -> 128
      assert(sql.nonEmpty && native.exists(_._4 == 0) === sql.exists(_._4 == 0))
      // every generated pair, plus the hand-picked C(3,2) twice
      assert(native.size === generated.map(g => g._2.size * (g._2.size - 1) / 2).sum + 3 + 3)
    }
  }

  test("RakePhrases == running-stopword-count window segmentation + plens") {
    val stopw = Seq("the", "a", "of", "to", "and", "in", "is", "on")
    val docs = Seq(
      (1L, "the quick brown fox is very quick and brown"),
      (2L, "of the to and"),                  // all stopwords: no phrases
      (3L, "standalone"),                     // single-token phrase
      (4L, ""),                               // empty text
      (5L, "alpha beta the gamma the the delta eps zeta")
    ).toDF("doc_id", "text")
    val native = docs
      .withColumn("t", text.TextAnalysis.toks($"text"))
      .select($"doc_id", explode(Native(es => graft.functions.RakePhrases(es.head, stopw), $"t")).as("x"))
      .select($"doc_id", $"x.pos", $"x.tok", $"x.grp", $"x.plen")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    // the retained window spelling (what the DuckDB oracle replays)
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val winToks = docs
      .select($"doc_id", posexplode(text.TextAnalysis.toks($"text")).as(Seq("pos", "tok")))
      .withColumn("is_stop",
        when(stopw.map($"tok" === _).reduce(_ || _), 1L).otherwise(0L))
      .withColumn("grp", sum($"is_stop").over(wDoc))
      .filter($"is_stop" === 0L)
    val plens = winToks.groupBy($"doc_id", $"grp")
      .agg(count(lit(1)).as("plen"))
    val sql = winToks.join(plens, Seq("doc_id", "grp"))
      .select($"doc_id", $"pos", $"tok", $"grp", $"plen")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    assert(native === sql)
    assert(!native.exists(_._1 == 2L))
    assert(native.count(_._1 == 5L) === 6)
    assert(native.filter(t => t._1 == 5L && t._3 == "delta").head._5 === 3L)
  }

  test("SegBucket == when-chain + div buckets, long and decimal paths") {
    val segs = Array(BigInt(-100), BigInt(500))
    val his = Array(BigInt(200), BigInt(100000))
    val ws = Array(BigInt(3), BigInt(997))
    val buckets = 65536
    def expected(v: BigInt): Long = {
      var i = 0
      while (i < segs.length) {
        if (v >= segs(i) && v <= his(i))
          return i.toLong * buckets + ((v - segs(i)) / ws(i)).toLong
        i += 1
      }
      -1L
    }
    val values = Seq(-101L, -100L, -1L, 0L, 199L, 200L, 201L, 499L, 500L,
      501L, 99999L, 100000L, 100001L)
    // long path
    val longDf = values.toDF("v")
    val sbL = Native(
      e => SegBucket(e.head, segs, his, ws, buckets), col("v"))
    val gotL = longDf.select(col("v"), sbL.as("p")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    values.foreach(v => assert(gotL(v) === expected(BigInt(v)), s"long v=$v"))
    // decimal path (same grid points through DECIMAL(38,0))
    val decDf = values.toDF("v0")
      .select(col("v0"), col("v0").cast("decimal(38,0)").as("v"))
    val sbD = Native(
      e => SegBucket(e.head, segs, his, ws, buckets), col("v"))
    val gotD = decDf.select(col("v0"), sbD.as("p")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    values.foreach(v => assert(gotD(v) === expected(BigInt(v)), s"dec v=$v"))
    // an over-int64 decimal grid exercises the BigInt branch
    val bigLo = BigInt("-123456789012345678901234567890")
    val bigHi = BigInt("123456789012345678901234567890")
    val bigW = (bigHi - bigLo + 1 + buckets - 1) / buckets
    val bigVals = Seq(bigLo, BigInt(0), bigHi, bigLo - 1)
    val bigDf = bigVals.map(_.toString).toDF("s")
      .select(col("s"), col("s").cast("decimal(38,0)").as("v"))
    val sbB = Native(
      e => SegBucket(e.head, Array(bigLo), Array(bigHi), Array(bigW),
        buckets), col("v"))
    val gotB = bigDf.select(col("s"), sbB.as("p")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotB(bigLo.toString) === 0L)
    assert(gotB((bigLo - 1).toString) === -1L)
    assert(gotB(BigInt(0).toString) === ((BigInt(0) - bigLo) / bigW).toLong)
    assert(gotB(bigHi.toString) === ((bigHi - bigLo) / bigW).toLong)
  }

  // ---- generator-driven kernel parity ----

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** The frame as built (its projections fold into the local relation
    * and run interpreted) and the same rows behind an exchange (the
    * projections run in whole-stage codegen).
    */
  private def bothPaths(df: DataFrame): Seq[DataFrame] = Seq(df, df.repartition(3))

  /** Generated buckets get keys from 100 up, clear of hand-picked rows. */
  private def keyed[A](buckets: Seq[Seq[A]]): Seq[(Long, Seq[A])] =
    buckets.zipWithIndex.map { case (b, i) => (100L + i, b) }

  /** Longs with the edges (`Long.MinValue`/`MaxValue`, 0, -1) common, so
    * ids, lo/hi words and counts collide and hit both ends.
    */
  private val genEdgeLong: Gen[Long] = Gen.frequency(
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L),
    3 -> Gen.choose(Long.MinValue, Long.MaxValue))

  /** Bucket sizes the pair kernels branch on (empty, one element, one
    * pair) and the cap that bounds them.
    */
  private val genSize: Gen[Int] = Gen.oneOf(0, 1, 2, text.Dedup.MaxBucket)

  private def genBuckets[A](elem: Gen[A]): Gen[Seq[A]] =
    genSize.flatMap(n => Gen.listOfN(n, elem))

  /** Distinct ids (a band bucket holds each doc once), the long edges
    * among them, shuffled.
    */
  private val genIds: Gen[Seq[Long]] = for {
    n <- genSize
    edges <- Gen.someOf(Long.MinValue, Long.MaxValue, 0L, -1L)
    rest <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle((edges.toSeq ++ rest).distinct.take(n))

  /** Few distinct values, so equal positions are common; the long edges
    * are among them.
    */
  private val genElem: Gen[java.lang.Long] = Gen.frequency(
    1 -> Gen.const(null),
    6 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, 42L).map(Long.box))

  private val genSig: Gen[Seq[java.lang.Long]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[java.lang.Long]),
    8 -> Gen.choose(1, 9).flatMap(n => Gen.listOfN(n, genElem)))

  test("MatchCount == aggregate(zip_with(...)) match count (generated arrays)") {
    val cases = samples(Gen.zip(genSig, genSig), 300)
    val sigType = ArrayType(LongType, containsNull = true)
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("sig_a", sigType), StructField("sig_b", sigType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(cases.zipWithIndex.map { case ((a, b), k) =>
        Row(k.toLong, a, b) }: _*), schema)
    def counts(d: DataFrame, m: org.apache.spark.sql.Column) =
      d.select($"k", m.as("m")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    for (d <- bothPaths(df)) {
      val native = counts(d, Native(es => MatchCount(es(0), es(1)), $"sig_a", $"sig_b"))
      // the spelling dedup_minhash_pairs and dedup_incremental_pairs ran
      // before the kernel
      val sql = counts(d, expr(
        """aggregate(zip_with(sig_a, sig_b,
          |  (u, v) -> IF(u = v, CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
          |  CAST(0 AS BIGINT), (acc, w) -> acc + w)""".stripMargin))
      assert(native.size === cases.size)
      assert(native === sql)
      // the generator reaches every branch: null arrays, empty arrays,
      // unequal lengths, and matches
      assert(sql.values.exists(_.isEmpty) && sql.values.exists(_.exists(_ > 1)))
    }
    assert(cases.exists { case (a, b) =>
      a != null && b != null && a.size != b.size && a.nonEmpty && b.nonEmpty })
  }

  test("PairStructs(sort_array(ids)) == least/greatest bucket lambda (generated ids)") {
    val maxBucket = text.Dedup.MaxBucket
    // winnow fingerprint buckets may hold one doc twice: the pair
    // multiset must match there too
    val genRepeats: Gen[Seq[Long]] = Gen.choose(2, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(Long.MinValue, 0L, 5L, Long.MaxValue)))
    val cases = samples(genIds, 40) ++ samples(genRepeats, 20)
    val df = cases.zipWithIndex.map { case (ids, k) => (k.toLong, ids) }.toDF("k", "ids")
    def rows(d: DataFrame) = d
      .select($"k", $"p.*").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    for (d <- bothPaths(df)) {
      val native = rows(d.select($"k",
        explode(Native(es => PairStructs(es.head), sort_array($"ids"))).as("p")))
      // the spelling dedup_minhash_pairs and dedup_winnow_pairs ran
      // before the kernel
      val sql = rows(d.select($"k", explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(filter(ids, (y, j) -> j > i), y -> named_struct(
          |    'a', least(x, y), 'b', greatest(x, y)))))""".stripMargin))
        .as("p")))
      assert(native === sql)
      assert(native.size === cases.map(c => c.size * (c.size - 1) / 2).sum)
      assert(native.forall { case (_, a, b) => a <= b })
    }
    assert(cases.exists(c => c.distinct.size < c.size))
    assert(cases.map(_.size).toSet.contains(maxBucket))
  }

  // ---- indexer doc lists ----

  /** Decimal-string edges: 0, ±1, each power of ten and its neighbours
    * (string order puts "10" before "9"), the 8-byte fast path's edges,
    * and the long range's ends.
    */
  private val decimalEdges: Seq[Long] = {
    val tens = (1 to 18).map(p => math.pow(10, p).toLong)
      .flatMap(t => Seq(t - 1, t, t + 1)) ++ Seq(0L, 1L)
    (tens ++ tens.map(-_) ++ Seq(-9999999L, -10000000L, 99999999L, 100000000L,
      Long.MinValue, Long.MaxValue)).distinct
  }

  private val genDecimalElem: Gen[java.lang.Long] = Gen.frequency(
    1 -> Gen.const(null),
    4 -> Gen.oneOf(decimalEdges).map(Long.box),
    4 -> Gen.choose(-9999999L, 99999999L).map(Long.box),
    1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(Long.box))

  /** Arrays over the edges: null, empty and all-null arrays, duplicates
    * (elements drawn from a small pool), fast-path-only arrays, arrays
    * that mix both paths, and each fast-path edge among fast elements.
    */
  private val genDocIds: Gen[Seq[java.lang.Long]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[java.lang.Long]),
    1 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.const(null: java.lang.Long))),
    6 -> Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, genDecimalElem)),
    2 -> Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-9999999L, 99999999L).map(Long.box))),
    // one fast-path edge among fast elements: the edge alone picks the path
    2 -> (for {
      edge <- Gen.oneOf(-9999999L, -10000000L, 99999999L, 100000000L)
      n <- Gen.choose(1, 10)
      xs <- Gen.listOfN(n, Gen.choose(-9999999L, 99999999L))
      seed <- Gen.long
    } yield new scala.util.Random(seed).shuffle(edge :: xs).map(Long.box)),
    2 -> (for {
      pool <- Gen.listOfN(3, genDecimalElem)
      n <- Gen.choose(2, 20)
      xs <- Gen.listOfN(n, Gen.oneOf(pool))
    } yield xs))

  test("DecimalOrderJoin == array_join(sort_array(cast(ids AS array<string>)), ',') " +
    "(generated arrays)") {
    val cases = samples(genDocIds, 300)
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("ids", ArrayType(LongType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(cases.zipWithIndex.map { case (ids, k) => Row(k.toLong, ids) }: _*),
      schema)
    def joined(d: DataFrame, c: Column): Map[Long, Option[String]] =
      d.select($"k", c).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    for (d <- bothPaths(df)) {
      val native = joined(d, Native(es => DecimalOrderJoin(es.head), $"ids"))
      // the spelling mr_indexer ran before the kernel
      val sql = joined(d, expr("array_join(sort_array(cast(ids AS array<string>)), ',')"))
      assert(native.size === cases.size)
      assert(native === sql)
    }
    // the generator reaches every branch: null and all-null arrays,
    // duplicates, arrays on each path and arrays mixing both
    def fast(x: java.lang.Long) = x == null || (x >= -9999999L && x <= 99999999L)
    val nonNull = cases.filter(_ != null)
    assert(cases.contains(null) && nonNull.exists(c => c.nonEmpty && c.forall(_ == null)))
    assert(nonNull.exists(c => c.count(_ != null) > c.filter(_ != null).distinct.size))
    assert(nonNull.exists(c => c.count(_ != null) > 1 && c.forall(fast)))
    assert(nonNull.exists(c => c.exists(x => !fast(x)) && c.exists(x => x != null && fast(x))))
    val seen = nonNull.flatten.filter(_ != null).map(_.longValue).toSet
    assert(Seq(Long.MinValue, Long.MaxValue, 0L, 9L, 10L, 99L, 100L).forall(seen))
    assert(Seq(-9999999L, -10000000L, 99999999L, 100000000L).forall(edge =>
      nonNull.exists(c => c.contains(edge) && c.count(x => !fast(x)) <= 1)))
  }

  // ---- tokenizer kernels ----

  /** Code points on every side of the tokenizers' class boundaries. */
  private val textAtoms: Seq[String] = Seq(
    "a", "Z", "q", "0", "7", "!", ",", "-", "_", "\u0000", "\u001c", "\u007f",
    // the six ASCII `\s` bytes
    " ", "\t", "\n", "\u000b", "\f", "\r",
    // spaces that are not `\s`, NEL and a zero-width space
    "\u00a0", "\u2003", "\u3000", "\u0085", "\u200b",
    // letters: Ll, Ll, Lu, Lo, Lt, Lm, and U+1D400 (supplementary Lu)
    "\u00e9", "\u00df", "\u0416", "\u4e2d", "\u01c5", "\u02b0", "\ud835\udc00",
    // combining marks (Mn)
    "\u0301", "\u0308",
    // numbers: Nd, Nl, No, and U+1D7CE (supplementary Nd)
    "\u0663", "\u216b", "\u00b2", "\ud835\udfce",
    // symbols: Sc and U+1F600 (supplementary So)
    "\u20ac", "\ud83d\ude00",
    // next to a class change: ª µ (letters before punctuation), × ÷ ¿
    // (before letters), ٩ (Nd before Po), ¹ (No before a letter)
    "\u00aa", "\u00b5", "\u00d7", "\u00f7", "\u00bf", "\u0669", "\u00b9")

  private val genAtoms: Gen[String] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(textAtoms))).map(_.mkString)

  private val genText: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    1 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(" \t\n\u000b\f\r".map(_.toString))))
      .map(_.mkString),
    8 -> genAtoms,
    1 -> Gen.listOfN(2000, Gen.oneOf(textAtoms)).map(_.mkString))

  /** Byte sequences a strict UTF-8 decoder rejects: stray continuation,
    * overlong, surrogate, past U+10FFFF, bytes that never occur, and
    * truncated leads.
    */
  private val malformed: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0xbf), Array(0xc0, 0xaf), Array(0xc1, 0x81), Array(0xe0, 0x80, 0xaf),
    Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80), Array(0xf5), Array(0xff),
    Array(0xc3), Array(0xe2, 0x82), Array(0xf0, 0x9f, 0x98)).map(_.map(_.toByte))

  private val genMalformed: Gen[Array[Byte]] = for {
    parts <- Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genAtoms))
    bad <- Gen.listOfN(parts.size, Gen.oneOf(malformed))
  } yield parts.zip(bad).flatMap { case (p, b) => p.getBytes("UTF-8") ++ b }.toArray

  /** Every generated string as bytes, cast to a string column: the valid
    * strings, a space before each atom, and the malformed ones.
    */
  private lazy val textCases: DataFrame = {
    val valid = samples(genText, 400) ++ textAtoms.map(" " + _) ++
      textAtoms.flatMap(a => textAtoms.take(8).map(b => b + " " + a))
    val bytes = valid.map(t => if (t == null) null else t.getBytes("UTF-8")) ++
      samples(genMalformed, 120)
    bytes.zipWithIndex.map { case (b, k) => (k.toLong, b) }.toDF("k", "bin")
      .select($"k", $"bin".cast("string").as("text"))
  }

  /** Tokens as the hex of their bytes: a decoded String would hide a
    * malformed byte behind U+FFFD.
    */
  private def tokenHex(d: DataFrame, tokens: Column): Map[Long, Seq[String]] =
    d.select($"k", transform(tokens, t => hex(t)).as("h")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap

  private def assertTokensMatch(native: Column, spelling: Column): Unit = {
    val cases = textCases
    def field(c: Column) = cases.select(c.as("t")).schema.head
    assert(field(native) === field(spelling))
    for (d <- bothPaths(cases)) {
      val got = tokenHex(d, native)
      val want = tokenHex(d, spelling)
      assert(got.size === cases.count())
      for ((k, w) <- want) assert(got(k) === w, s"row $k")
      // the cases reach null input, empty results and long token lists
      assert(want.values.exists(_ == null) && want.values.exists(t => t != null && t.isEmpty))
      assert(want.values.exists(t => t != null && t.size > 200))
    }
  }

  test("text cases cover malformed UTF-8 and every atom after a lone space") {
    val rows = textCases.select($"k", hex($"text")).collect()
    def valid(h: String): Boolean = {
      val b = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      try {
        java.nio.charset.StandardCharsets.UTF_8.newDecoder().decode(java.nio.ByteBuffer.wrap(b))
        true
      } catch { case _: java.nio.charset.CharacterCodingException => false }
    }
    val texts = rows.filter(!_.isNullAt(1)).map(_.getString(1))
    assert(texts.count(!valid(_)) >= 100, "the binary cast must keep the malformed bytes")
    val hexOf = texts.toSet
    for (a <- textAtoms) assert(hexOf.contains(("20" + a.getBytes("UTF-8").map(b =>
      f"${b & 0xff}%02X").mkString)), s"lone space before U+${a.codePointAt(0).toHexString}")
  }

  test("WhitespaceTokens == filter(split(text, \\s+), t -> t != '') (generated strings)") {
    assertTokensMatch(Native(es => WhitespaceTokens(es.head), $"text"),
      filter(split($"text", "\\s+"), t => t =!= ""))
  }

  test("LetterTokens == split(text, [^\\p{L}]+) without empties (generated strings)") {
    assertTokensMatch(Native(es => LetterTokens(es.head), $"text"),
      filter(split($"text", graft.apps.MrApps.LetterTokenPattern), t => length(t) > 0))
  }

  test("BpePreTokenCount == size(regexp_extract_all(text, BpePattern)) (generated strings)") {
    val pattern = text.TextAnalysis.BpePattern
    def counts(d: DataFrame, c: Column): Map[Long, Option[Int]] =
      d.select($"k", c).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    val extracted = regexp_extract_all($"text", lit(pattern), lit(0))
    for (d <- bothPaths(textCases)) {
      val got = counts(d, text.TextAnalysis.bpeCount($"text"))
      assert(got === counts(d, size(extracted)))
      assert(got.values.exists(_.exists(_ > 500)))
      // null input under both settings of spark.sql.legacy.sizeOfNull
      for (legacy <- Seq(true, false)) {
        val n = counts(d, Native(es => BpePreTokenCount(es.head, legacy), $"text"))
        assert(n === counts(d, Native(es => Size(es.head, legacy), extracted)))
        assert(n.values.exists(_ == (if (legacy) Some(-1) else None)))
      }
    }
  }

  // ---- generated numeric edges for the retrieval kernels ----

  private val doubleEdges: Seq[Double] = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinValue, Double.MaxValue, Double.MinPositiveValue,
    -Double.MinPositiveValue, 1.0, -1.0)

  /** Doubles with the IEEE edges common, and a rare null. */
  private val genEdgeDouble: Gen[java.lang.Double] = Gen.frequency(
    1 -> Gen.const(null),
    8 -> Gen.oneOf(doubleEdges).map(Double.box),
    8 -> Gen.choose(-3.0, 3.0).map(Double.box),
    3 -> Gen.choose(-4, 4).map(i => Double.box(i * 0.5)))

  /** Finite, non-null doubles: the fitted constants a kernel is built with. */
  private val genConst: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(doubleEdges.filter(d => !d.isNaN && !d.isInfinite)),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity),
    6 -> Gen.choose(-3.0, 3.0))

  /** Vectors of `dim` elements, plus null, empty and wrong-length arrays. */
  private def genVec(dim: Int): Gen[Seq[java.lang.Double]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[java.lang.Double]),
    1 -> Gen.choose(1, dim + 2).suchThat(_ != dim).flatMap(n => Gen.listOfN(n, genEdgeDouble)),
    12 -> Gen.listOfN(dim, genEdgeDouble))

  private val VecDim = 4

  /** Dots within a rounding step of zero, half-way cases included. */
  private val nearZero: Seq[Double] =
    Seq(5e-5, 4.9999e-5, 5.0001e-5, 2.5e-5, 1.5e-4, 1e-9).flatMap(x => Seq(x, -x))

  /** Generated vectors as (k, v), with every edge at every position and
    * the near-zero values on the first two axes.
    */
  private lazy val vecCases: DataFrame = {
    val edges = for (e <- doubleEdges; j <- 0 until VecDim)
      yield Seq.tabulate[java.lang.Double](VecDim)(i => if (i == j) e else 0.5 * (i + 1))
    val small = for (x <- nearZero; y <- nearZero.take(4))
      yield Seq[java.lang.Double](x, y, 0.0, 0.0)
    (samples(genVec(VecDim), 600) ++ edges ++ small).zipWithIndex
      .map { case (v, k) => (k.toLong, v) }.toDF("k", "v")
  }

  private def consts(rows: Int, seed: Long): Array[Array[Double]] =
    Gen.listOfN(rows, Gen.listOfN(VecDim, genConst)).apply(Gen.Parameters.default, Seed(seed))
      .get.map(_.toArray).toArray

  /** Doubles as their bits, NaN collapsed to one pattern. */
  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def collected[A](d: DataFrame, c: Column)(read: (Row, Int) => A): Map[Long, Option[A]] =
    d.select($"k", c).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(read(r, 1)))).toMap

  private def doubleBits(r: Row, i: Int): Seq[Long] = r.getSeq[Double](i).map(bits)

  /** Kernel and spelling agree on every row of `cases`; a mismatch
    * names its rows and their inputs.
    */
  private def assertSameRows[A](
      cases: DataFrame, native: Map[Long, A], spelled: Map[Long, A], clue: String): Unit = {
    val bad = spelled.keys.toSeq.sorted.filter(k => native.get(k) != spelled.get(k))
    lazy val input = cases.collect().map(r => r.getLong(0) -> r.toSeq.tail.mkString(", ")).toMap
    assert(native.size === spelled.size && bad.isEmpty, s"$clue: ${bad.size} rows differ, e.g. " +
      bad.take(3).map(k => s"row $k (${input(k)}): kernel ${native.getOrElse(k, "no row")} spelling ${spelled(k)}")
        .mkString("; "))
  }

  test("DotProduct == Similarity.dot bit for bit (generated IEEE-edge vectors)") {
    val rows = (samples(Gen.zip(genVec(VecDim), genVec(VecDim)), 600) ++
      doubleEdges.flatMap(a => doubleEdges.map(b => (Seq[java.lang.Double](a, 1.0), Seq[java.lang.Double](b, 1.0)))))
      .zipWithIndex.map { case ((a, b), k) => (k.toLong, a, b) }.toDF("k", "a", "b")
    for (d <- bothPaths(rows)) {
      val native = collected(d, Native(es => DotProduct(es(0), es(1)), $"a", $"b"))((r, i) => bits(r.getDouble(i)))
      val spelled = collected(d, graft.sim.Similarity.dot($"a", $"b"))((r, i) => bits(r.getDouble(i)))
      assertSameRows(rows, native, spelled, "dot")
      assert(spelled.values.exists(_.isEmpty) && spelled.values.exists(_.contains(bits(Double.NaN))))
    }
  }

  test("NearestCell == argmin of -2·Similarity.dot + |c|², ties to the lowest cell (generated)") {
    for (seed <- 0L until 4L) {
      val cents = consts(5, seed) ++ consts(1, seed).map(_.clone()) // a duplicate cell ties
      val cn2 = NearestCell.cn2Of(cents)
      val scores = cents.indices.map(i =>
        lit(-2.0) * graft.sim.Similarity.dot($"v", typedLit(cents(i).toSeq)) + lit(cn2(i)))
      val spelled = array_min(array(cents.indices.map(i =>
        when(scores(i).isNotNull, struct(scores(i).as("s"), lit(i).as("cell")))): _*))
        .getField("cell")
      for (d <- bothPaths(vecCases)) {
        val native = collected(d, Native(es => NearestCell(es.head, cents), $"v"))(_.getInt(_))
        assertSameRows(vecCases, native, collected(d, spelled)(_.getInt(_)), s"seed $seed")
        assert(native.values.exists(_.isEmpty) && native.values.flatten.toSet.size > 1)
      }
    }
  }

  test("QuantCode == 2·(1 + #{b : v >= b}) − (B+1) comparison bucketing (generated)") {
    for (seed <- 0L until 4L) {
      val bounds = consts(VecDim, 100 + seed).map(_ ++ consts(1, 200 + seed).head)
      val b1 = bounds.head.length + 1
      val spelled = when(size($"v") === VecDim, transform($"v", (x, j) =>
        (lit(2) * (lit(1) + size(filter(element_at(typedLit(bounds.map(_.toSeq).toSeq), j + 1),
          b => x >= b))) - lit(b1 + 1)).cast("double")))
      for (d <- bothPaths(vecCases)) {
        val native = collected(d, Native(es => QuantCode(es.head, bounds), $"v"))(doubleBits)
        assertSameRows(vecCases, native, collected(d, spelled)(doubleBits), s"seed $seed")
        assert(native.values.flatten.flatten.toSet.size > 2)
      }
    }
  }

  test("LshBuckets == round-before-sign bucket sums (generated)") {
    val perTable = 3
    // table 0's planes read the near-zero coordinates straight through
    val axes = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, -1.0, 0.0, 0.0), Array(1.0, 1.0, 0.0, 0.0))
    for (seed <- 0L until 4L) {
      val planes = axes ++ consts(perTable, 300 + seed)
      val spelled = when(size($"v") === VecDim, array((0 until 2).map { t =>
        (0 until perTable).map { i =>
          val dot = graft.sim.Similarity.dot($"v", typedLit(planes(t * perTable + i).toSeq))
          when(round(dot, 4) >= 0, lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ + _)
      }: _*))
      for (d <- bothPaths(vecCases)) {
        val native = collected(d, Native(es => LshBuckets(es.head, planes, perTable), $"v"))(
          (r, i) => r.getSeq[Long](i))
        assertSameRows(vecCases, native, collected(d, spelled)((r, i) => r.getSeq[Long](i)), s"seed $seed")
        assert(native.values.flatten.flatten.toSet.size > 2)
      }
    }
  }
}
