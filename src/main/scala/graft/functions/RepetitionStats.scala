package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Gopher repetition battery's per-document gram statistics
  * ([[graft.pipeline.QualityRules.gopherRepetitionOf]]) computed IN-ROW:
  * `struct(top2_chars, dup5_chars)` from the token array, where
  *
  *   - top2_chars = (max over distinct 2-grams of f·10¹² + f·charlen(g))
  *     % 10¹², NULL when the doc has no 2-gram — the paper's
  *     top-2-gram character coverage with the packed-key arg-max;
  *   - dup5_chars = Σ over distinct 5-grams with f>1 of
  *     (f−1)·charlen(g), NULL when no 5-gram repeats — duplicate-5-gram
  *     character mass;
  *   - charlen(g) = length of the space-joined gram in CHARACTERS
  *     (`length()` semantics), f = the gram's in-doc frequency.
  *
  * The SQL spelling shipped every gram occurrence through a tagged
  * explode → (doc_id, sz, gram) aggregate → per-doc aggregate → join
  * back: a corpus-scale exchange of the token stream ×7 (2-gram + 5-gram
  * occurrences) whose ONLY consumer is these two per-doc numbers. Gram
  * frequencies never cross documents, so the aggregate is per-row by
  * construction — this expression computes it in one pass over the
  * token array and the query keeps a single |sources|-row shuffle.
  * Per-row state is two hash maps bounded by the doc's token count (the
  * same bound the explode's shuffle rows carried).
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects array<string>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("top2_chars", LongType, nullable = true),
    StructField("dup5_chars", LongType, nullable = true)))
  override def nullable: Boolean = true

  /** Count space-joined n-gram frequencies: gram → f. Keys are the
    * joined UTF8Strings, so charlen is `key.numChars` at readout.
    */
  private def gramCounts(
      toks: Array[UTF8String], n: Int): java.util.HashMap[UTF8String, Long] = {
    val m = toks.length - n + 1
    val counts = new java.util.HashMap[UTF8String, Long](if (m > 0) m * 2 else 4)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = toks(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      val g = UTF8String.concat(parts: _*)
      counts.merge(g, 1L, (a, b) => a + b)
      i += 1
    }
    counts
  }

  def compute(arr: ArrayData): InternalRow = {
    val toks = GramMd5.toArray(arr)
    // top 2-gram coverage via the packed integer arg-max
    var top2: Any = null
    if (toks.length >= 2) {
      val c2 = gramCounts(toks, 2)
      var maxPacked = Long.MinValue
      val it = c2.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val f = e.getValue
        val packed = f * 1000000000000L + f * e.getKey.numChars().toLong
        if (packed > maxPacked) maxPacked = packed
      }
      top2 = java.lang.Long.valueOf(maxPacked % 1000000000000L)
    }
    // duplicate 5-gram character mass
    var dup5: Any = null
    if (toks.length >= 5) {
      val c5 = gramCounts(toks, 5)
      var sum = 0L
      var any = false
      val it = c5.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val f = e.getValue
        if (f > 1L) {
          sum += (f - 1L) * e.getKey.numChars().toLong
          any = true
        }
      }
      if (any) dup5 = java.lang.Long.valueOf(sum)
    }
    new GenericInternalRow(Array[Any](top2, dup5))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("repStats", this, classOf[RepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $self.compute($v);")
  }

  override def prettyName: String = "repetition_stats"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
