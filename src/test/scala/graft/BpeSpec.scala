package graft

import graft.functions.BpeMerge
import graft.text.Bpe
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native

/** Semantics of the BPE vocabulary learner independent of the DuckDB
  * oracle (which value-checks the fixture corpus end-to-end): the native
  * greedy-merge expression's leftmost non-overlap scan, parity with a
  * reference driver-side implementation on random symbol streams, and
  * the full learn loop against a hand-computable corpus.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Reference greedy leftmost non-overlapping merge. */
  private def mergeRef(s: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { out += (l + r); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** Reference BPE learner over a word-frequency table (positional pair
    * counts — overlapping occurrences both count, matching the engine
    * and oracle convention).
    */
  private def learnRef(words0: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var words = words0.map { case (w, f) => (w.map(_.toString): Seq[String], f) }.toSeq
    val merges = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, f) <- words; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((l, r, c))
        words = words.map { case (s, f) => (mergeRef(s, l, r), f) }
      }
    }
    merges.result()
  }

  private def mergeViaExpr(s: Seq[String], l: String, r: String): Seq[String] =
    Seq(Tuple1(s)).toDF("s")
      .select(Native(
        es => BpeMerge(es.head, l, r), $"s").as("m"))
      .collect().head.getSeq[String](0)

  test("bpe_merge: greedy leftmost non-overlap resolves chains like a tokenizer") {
    // "a a a a" -> "aa aa" (pairs at 0 and 2), "a a a" -> "aa a" (leftmost wins)
    assert(mergeViaExpr(Seq("a", "a", "a", "a"), "a", "a") === Seq("aa", "aa"))
    assert(mergeViaExpr(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    // interior + trailing matches, multi-char symbols, no-match passthrough
    assert(mergeViaExpr(Seq("x", "a", "b", "a", "b"), "a", "b") === Seq("x", "ab", "ab"))
    assert(mergeViaExpr(Seq("ab", "c", "d"), "ab", "c") === Seq("abc", "d"))
    assert(mergeViaExpr(Seq("q"), "a", "b") === Seq("q"))
    assert(mergeViaExpr(Seq.empty[String], "a", "b") === Seq.empty[String])
  }

  test("bpe_merge parity with the reference scan on random symbol streams") {
    val rnd = new scala.util.Random(11)
    val alphabet = Seq("a", "b", "ab", "c")
    for (_ <- 1 to 50) {
      val s = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length)))
      val (l, r) = (alphabet(rnd.nextInt(alphabet.length)),
        alphabet(rnd.nextInt(alphabet.length)))
      assert(mergeViaExpr(s, l, r) === mergeRef(s, l, r), s"s=$s merge=($l,$r)")
    }
  }

  test("learned merges and vocab match the reference learner on a planted corpus") {
    // Word mix engineered so every round has a strict-majority pair AND
    // later rounds merge already-merged symbols (hugs/hugging share hug;
    // overlap chain in 'aaaa' exercises positional counting).
    val docs = Seq(
      (1L, "hug hug hug hugs hugs hugging"),
      (2L, "pug pug pugs bug bugs hug"),
      (3L, "aaaa aaaa hug pug"),
      (4L, "hugging bugging mugs hug hugs"))
    val dir = java.nio.file.Files.createTempDirectory("graftbpe").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.parquet(s"$dir/documents.parquet")

    val wordFreq = docs.flatMap(_._2.split("\\s+")).groupBy(identity)
      .map { case (w, ws) => (w, ws.size.toLong) }
    val want = learnRef(wordFreq, Bpe.Rounds)
    val got = Bpe.bpeMerges(spark, dir).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === want)

    // the distributed vocab equals re-segmenting every word by the merges
    val vocab = Bpe.bpeVocab(spark, dir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getString(2)))).toMap
    for ((w, f) <- wordFreq) {
      val seg = want.foldLeft(w.map(_.toString): Seq[String]) {
        case (s, (l, r, _)) => mergeRef(s, l, r)
      }.mkString(" ")
      assert(vocab(w) === ((f, seg)), s"word=$w")
    }

    // the tokenizer application: per-doc BPE token counts from the vocab
    val segLen = vocab.map { case (w, (_, seg)) => (w, seg.split(" ").length.toLong) }
    val gotEnc = Bpe.bpeEncodeStats(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    for ((docId, text) <- docs) {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val wantTokens = toks.map(segLen).sum
      assert(gotEnc(docId) === ((wantTokens, text.length.toLong)), s"doc=$docId")
    }
  }
}
