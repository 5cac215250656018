package graft

import graft.functions.JaroWinkler
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.Native
import org.apache.spark.unsafe.types.UTF8String

/** The native Jaro-Winkler expression: bit-exactness against values
  * pinned from DuckDB's `jaro_winkler_similarity` (the oracle engine),
  * algebraic properties, and codegen-path parity. The cross-engine
  * contract is IDENTICAL DOUBLES (same integer inputs, same FP op
  * order), not tolerance — entity_match_jw's e4 grid then rounds the
  * same double the same way on both sides.
  */
class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinkler.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  test("pinned DuckDB values reproduce bit-for-bit") {
    // each expected literal captured from duckdb jaro_winkler_similarity
    assert(jw("martha", "marhta") == 0.9611111111111111)     // classic Winkler example
    assert(jw("dwayne", "duane") == 0.8400000000000001)      // prefix 1 boost
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)    // prefix 2 boost
    assert(jw("abcdef", "bcadef") == 0.9444444444444445)     // ODD mismatch count -> floor halving
    assert(jw("abcdxxxx", "abcdyyyyzzzz") == 0.611111111111111) // jaro < 0.7: NO boost
    assert(jw("aabbcc", "ccbbaa") == 0.5555555555555555)     // window-limited matching
    assert(jw("abcdefgh", "abcdefhg") == 0.975)              // even mismatches + max boost
    assert(jw("a", "a") == 1.0 && jw("abcdefgh", "abcdefgh") == 1.0)
    assert(jw("ab", "ba") == 0.0)                            // window 0: no cross match
    assert(jw("", "abc") == 0.0 && jw("", "") == 0.0)        // DuckDB's empty convention
  }

  test("properties: symmetric, in [0,1], boost only above the 0.7 threshold") {
    val rnd = new scala.util.Random(12021)
    val alpha = "abcde"
    (1 to 3000).foreach { _ =>
      val s1 = Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(5))).mkString
      val s2 = Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(5))).mkString
      val v = jw(s1, s2)
      assert(v >= 0.0 && v <= 1.0, s"range: '$s1' '$s2' -> $v")
      assert(v == jw(s2, s1), s"symmetry: '$s1' '$s2'")
    }
    // a sub-threshold jaro must pass through unboosted even with a
    // long common prefix (the documented 0.7 gate)
    assert(jw("abcdxxxx", "abcdyyyyzzzz") < 0.7)
  }

  test("codegen path == compute(): registered function over a DataFrame") {
    val pairs = Seq(
      ("martha", "marhta"), ("dixon", "dicksonx"), ("cold bolt", "old bolt"),
      ("", "x"), ("same", "same"), ("abcdef", "bcadef"))
    val fromPlan = pairs.toDF("a", "b")
      .select(Native(es => JaroWinkler(es(0), es(1)), $"a", $"b").as("v"))
      .collect().map(_.getDouble(0)).toSeq
    assert(fromPlan == pairs.map { case (a, b) => jw(a, b) })
    // null propagation through the binary expression
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(Native(es => JaroWinkler(es(0), es(1)), $"a", $"b")).collect().head
    assert(withNull.isNullAt(0))
  }

  test("entity_match_jw: every emitted pair clears the e4 gate inside its block") {
    val rows = relational.Analytics.entityMatchJw(spark, sf).collect()
    rows.foreach { r =>
      val (a, b, e4) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(e4 >= relational.Analytics.MinJwE4)
      assert(math.round(jw(a, b) * 10000) == e4, s"grid mismatch on ($a,$b)")
      assert(a.split(" ").last == b.split(" ").last, "blocking key violated")
      assert(a < b, "canonical pair order")
    }
  }
}
