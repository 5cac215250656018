package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** RAKE candidate-phrase segmentation in one in-row pass: for a token
  * array, emits every NON-stopword token as struct(pos, tok, grp, plen)
  * where
  *
  *   - pos  = the token's 0-based position (posexplode numbering),
  *   - grp  = the running count of stopwords at positions <= pos — the
  *            value `sum(is_stop) OVER (PARTITION BY doc_id ORDER BY
  *            pos)` assigns, so phrase-group identities match the
  *            window spelling EXACTLY (the DuckDB oracle still replays
  *            that spelling),
  *   - plen = the token count of its maximal stopword-free run — the
  *            `count(*) GROUP BY (doc_id, grp)` value, precomputed
  *            because the run is contiguous within the row.
  *
  * Replaces the corpus-scale doc_id exchange + per-doc sort the window
  * needed, AND the plens aggregate + its two join-backs (plen now rides
  * in-row) — guide §2.4, the same discipline as the r13 Grams /
  * DistinctGramHashes rewrites.
  */
case class RakePhrases(child: Expression, stop: Seq[String])
    extends UnaryExpression {

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stop.length * 2)
    stop.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rake_phrases expects array<string>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("tok", StringType, nullable = false),
      StructField("grp", LongType, nullable = false),
      StructField("plen", LongType, nullable = false))),
    containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](n)
    var grp = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null && stopSet.contains(t)) {
        grp += 1L
        i += 1
      } else {
        // maximal stopword-free run starting at i
        var j = i
        while (j < n && {
          val u = arr.getUTF8String(j)
          u == null || !stopSet.contains(u)
        }) j += 1
        val plen = (j - i).toLong
        var k = i
        while (k < j) {
          out += InternalRow(k, arr.getUTF8String(k), grp, plen)
          k += 1
        }
        i = j
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rakePhrases", this, classOf[RakePhrases].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = "rake_phrases"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
