package graft

import graft.functions.{BpeMerge, BpeMergeSeq, DistinctGramHashes, RepetitionStats,
  WinnowFps}
import graft.text.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native

/** The r13 native gram expressions pinned bit-for-bit against the SQL
  * spellings they replaced (the formulations the DuckDB oracle still
  * replays): distinct 3-gram md5-prefix hashes (containment), winnowing
  * fingerprints, the Gopher repetition per-doc gram stats, and the BPE
  * merge-table pass vs the nested single-merge fold. Inputs include the
  * adversarial shapes: empty docs, docs shorter than the gram width,
  * multi-byte UTF-8 tokens (charlen ≠ bytelen), and repeated grams.
  */
class NativeGramExprSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a a a a a a a a"),                       // one gram repeated
    (3L, "x y"),                                   // shorter than 3-gram
    (4L, ""),                                      // empty
    (5L, "héllo wörld héllo wörld héllo wörld über tokens"), // multi-byte
    (6L, "one two three four five six seven eight nine ten"),
    (7L, "p q r p q r p q r p q r s t u v w x y z a b c d e")
  ).toDF("doc_id", "text")

  private val toksDf =
    docs.select($"doc_id", TextAnalysis.toks($"text").as("t"))

  test("DistinctGramHashes == distinct conv(substring(md5(gram),1,15),16,10)") {
    val native = toksDf
      .select($"doc_id", explode(Native(es => DistinctGramHashes(es.head, Dedup.ContainK), $"t")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val k = Dedup.ContainK
    val sql = toksDf
      .select($"doc_id", explode(expr(
        s"""CASE WHEN size(t) >= $k THEN
           |  transform(sequence(1, size(t) - ${k - 1}),
           |            i -> concat_ws(' ', slice(t, i, $k)))
           |ELSE array() END""".stripMargin)).as("g"))
      .select($"doc_id",
        conv(substring(md5($"g"), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native === sql)
    // and the in-row set size equals the old windowed distinct count
    val sizes = toksDf
      .select($"doc_id", size(Native(es => DistinctGramHashes(es.head, Dedup.ContainK), $"t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sqlSizes = sql.groupBy(_._1).map { case (d, g) => d -> g.size }
    sqlSizes.foreach { case (d, n) => assert(sizes(d) === n, s"doc $d") }
  }

  test("WinnowFps == chained transform/array_min/array_distinct spelling") {
    val native = toksDf
      .select($"doc_id", Native(es => WinnowFps(es.head, Dedup.WinnowK, Dedup.WinnowW), $"t").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kgrams = when(size($"t") >= Dedup.WinnowK,
      transform(sequence(lit(0), size($"t") - Dedup.WinnowK),
        i => Dedup.md5Prefix32(
          array_join(slice($"t", i + 1, lit(Dedup.WinnowK)), " "), 1)))
      .otherwise(array().cast("array<bigint>"))
    val minima = when(size($"kh") >= Dedup.WinnowW,
      array_distinct(transform(sequence(lit(0), size($"kh") - Dedup.WinnowW),
        j => array_min(slice($"kh", j + 1, lit(Dedup.WinnowW))))))
      .otherwise(array().cast("array<bigint>"))
    val sql = toksDf.withColumn("kh", kgrams)
      .select($"doc_id", minima.as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native === sql) // including first-occurrence order
    assert(native(2L).nonEmpty && native(3L).isEmpty && native(4L).isEmpty)
  }

  test("RepetitionStats == explode/groupBy gram-stats spelling (incl NULLs)") {
    val native = toksDf
      .select($"doc_id", Native(es => RepetitionStats(es.head), $"t").as("rs"))
      .select($"doc_id", $"rs.top2_chars", $"rs.dup5_chars")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    def grams(n: Int) =
      when(size($"t") >= n,
        expr(s"transform(sequence(1, size(t) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(t, i, $n)))"))
        .otherwise(expr("array()").cast("array<string>"))
    val sql = toksDf
      .select($"doc_id", explode(concat(
        transform(grams(2), g => struct(lit(2L).as("sz"), g.as("g"))),
        transform(grams(5), g => struct(lit(5L).as("sz"), g.as("g"))))).as("x"))
      .groupBy($"doc_id", $"x.sz".as("sz"), $"x.g".as("g"))
      .agg(count(lit(1)).as("f"))
      .groupBy($"doc_id")
      .agg(
        (max(when($"sz" === 2L,
          $"f" * lit(1000000000000L) + $"f" * length($"g").cast("long")))
          % 1000000000000L).as("top2_chars"),
        sum(when($"sz" === 5L && $"f" > 1L,
          ($"f" - 1L) * length($"g").cast("long"))).as("dup5_chars"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // docs absent from the SQL side (no grams at all) must be all-NULL
    native.foreach { case (d, v) =>
      assert(v === sql.getOrElse(d, (None, None)), s"doc $d")
    }
    // multi-byte doc: charlen must count CHARACTERS (length() semantics)
    val (top2_5, _) = native(5L)
    // "héllo wörld" ×3 wins the packed arg-max: f=3, charlen("héllo wörld")
    // = 11 CHARACTERS (13 bytes — a bytelen bug would read 3·13)
    assert(top2_5 === Some(3L * 11L), s"doc 5 top2 was $top2_5")
  }

  test("Grams / DistinctGrams / PosGramHashes == the SQL spellings") {
    // Grams(2) == transform(sequence, concat_ws(slice)) in order
    val g2n = toksDf.select($"doc_id", Native(es => graft.functions.Grams(es.head, 2), $"t").as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val g2s = toksDf.select($"doc_id",
      when(size($"t") >= 2, expr(
        "transform(sequence(1, size(t) - 1), i -> concat_ws(' ', slice(t, i, 2)))"))
        .otherwise(expr("array()").cast("array<string>")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(g2n === g2s)
    // DistinctGrams(3) == array_distinct of the transform spelling
    val d3n = toksDf.select($"doc_id", Native(es => graft.functions.DistinctGrams(es.head, 3), $"t").as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val d3s = toksDf.select($"doc_id",
      when(size($"t") >= 3, array_distinct(expr(
        "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))")))
        .otherwise(expr("array()").cast("array<string>")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(d3n === d3s)
    // PosGramHashes(6) == positional conv(substring(md5(gram),1,15),16,10)
    val p6n = toksDf.select($"doc_id",
      posexplode(Native(es => graft.functions.PosGramHashes(es.head, 6), $"t")).as(Seq("pos", "h")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val p6s = toksDf
      .select($"doc_id", posexplode(when(size($"t") >= 6, expr(
        "transform(sequence(1, size(t) - 5), i -> concat_ws(' ', slice(t, i, 6)))"))
        .otherwise(expr("array()").cast("array<string>"))).as(Seq("pos", "g")))
      .select($"doc_id", $"pos",
        conv(substring(md5($"g"), 1, 15), 16, 10).cast("long").as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(p6n === p6s)
    assert(p6n.nonEmpty) // docs 1/6/7 are >= 6 tokens
  }

  test("MinHashSig == posexplode/lead-window/MinHashAgg pipeline (bit-for-bit)") {
    import org.apache.spark.sql.expressions.Window
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
      .union(docs.filter(length($"text") > 0)
        .select(($"doc_id" + 900000L).as("doc_id"), $"text")) // no id collision
    val inRow = {
      val toksD = corpus.withColumn("t", TextAnalysis.toks($"text"))
        .filter(size($"t") >= 3)
      val sig = Native(
        es => graft.functions.MinHashSig(es.head,
          Dedup.permConstants.map(_._1).toArray,
          Dedup.permConstants.map(_._2).toArray, Dedup.MinhashPrime),
        $"t")
      toksD.select($"doc_id", sig.as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    val viaAgg = {
      val wd = Window.partitionBy($"doc_id").orderBy($"pos")
      val agg = Native(
        es => graft.functions.MinHashAgg(es.head,
          Dedup.permConstants.map(_._1).toArray,
          Dedup.permConstants.map(_._2).toArray, Dedup.MinhashPrime)
          .toAggregateExpression(),
        $"h")
      corpus.withColumn("t", TextAnalysis.toks($"text"))
        .filter(size($"t") >= 3)
        .select($"doc_id", posexplode($"t").as(Seq("pos", "tok")))
        .withColumn("t1", lead($"tok", 1).over(wd))
        .withColumn("t2", lead($"tok", 2).over(wd))
        .filter($"t2".isNotNull)
        .withColumn("s", concat_ws(" ", $"tok", $"t1", $"t2"))
        .withColumn("h", Dedup.md5Prefix32($"s", 1))
        .groupBy($"doc_id").agg(agg.as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    assert(inRow.keySet === viaAgg.keySet)
    inRow.foreach { case (d, s) => assert(s === viaAgg(d), s"doc $d") }
  }

  test("SimHashSig == explode(array_distinct)/SimHashAgg pipeline (bit-for-bit)") {
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
      .union(docs.filter(length($"text") > 0)
        .select(($"doc_id" + 900000L).as("doc_id"), $"text")) // no id collision
      .withColumn("t", TextAnalysis.toks($"text"))
      .filter(size($"t") >= 1)
    val inRow = corpus.select($"doc_id", Native(es => graft.functions.SimHashSig(es.head), $"t").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = corpus
      .select($"doc_id", explode(array_distinct($"t")).as("tok"))
      .withColumn("h",
        shiftleft(Dedup.md5Prefix32($"tok", 9), 32)
          .bitwiseOR(Dedup.md5Prefix32($"tok", 1)))
      .groupBy($"doc_id")
      .agg(Native(es => graft.functions.SimHashAgg(es.head).toAggregateExpression(), $"h").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inRow === viaAgg)
  }

  test("BpeMergeSeq == folded nested BpeMerge (overlap chains, multi-round)") {
    val arrs = Seq(
      Seq("a", "a", "a", "a"),
      Seq("a", "a", "a"),
      Seq("l", "o", "w", "e", "r"),
      Seq("h", "é", "l", "l", "o"),
      Seq.empty[String],
      Seq("aa", "a", "a", "aa")
    ).toDF("s")
    val merges = Seq(("a", "a"), ("aa", "aa"), ("l", "o"), ("lo", "w"))
    val nested = arrs.select(
      merges.foldLeft(col("s")) { case (c, (l, r)) =>
        Native(es => BpeMerge(es.head, l, r), c)
      }.as("m")).collect().map(_.getSeq[String](0))
    val table = arrs.select(Native(
      es => BpeMergeSeq(es.head, merges), $"s").as("m"))
      .collect().map(_.getSeq[String](0))
    assert(table.toSeq === nested.toSeq)
    assert(table(0) === Seq("aaaa"))          // "a a a a" → "aa aa" → "aaaa"
    assert(table(1) === Seq("aa", "a"))       // leftmost non-overlapping
  }
}
