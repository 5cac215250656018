package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one greedy leftmost non-overlapping BPE
  * merge pass — every adjacent (lhs, rhs) symbol pair in the input
  * sequence is replaced by the concatenated symbol, scanning left to
  * right so an overlap chain resolves the way a BPE tokenizer does
  * ("a a a a" merging (a,a) → "aa aa", "a a a" → "aa a").
  *
  * The merge pair is fitted state (the argmax of the corpus pair count
  * for its round), so call sites build it straight into a Column with
  * `org.apache.spark.sql.graftnative.Native` — the symbols never
  * round-trip through SQL string literals, which would need escaping
  * for arbitrary corpus tokens. The scan is a single
  * forward pass, evaluated inside whole-stage codegen via a reference
  * object, the MaxCosine/HotWeight discipline.
  */
case class BpeMerge(child: Expression, lhs: String, rhs: String)
    extends UnaryExpression {

  @transient private lazy val lhsU = UTF8String.fromString(lhs)
  @transient private lazy val rhsU = UTF8String.fromString(rhs)
  @transient private lazy val mergedU =
    UTF8String.concat(UTF8String.fromString(lhs), UTF8String.fromString(rhs))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_merge expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && lhsU.equals(arr.getUTF8String(i)) &&
          rhsU.equals(arr.getUTF8String(i + 1))) {
        out.add(mergedU)
        i += 2
      } else {
        out.add(arr.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeMerge", this, classOf[BpeMerge].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = "bpe_merge"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** K BPE merge passes as ONE expression carrying the merge table: merge
  * i runs as a full greedy leftmost non-overlapping pass before merge
  * i+1 starts — by construction identical to folding [[BpeMerge]] K
  * times ([[BpeMergeSeqSpec]] pins the equality). The fold spelling made
  * round k's plan hold k nested expression nodes, so every BPE round
  * compiled a DIFFERENT whole-stage-codegen class (the generated source
  * grows with k, defeating Spark's codegen cache). With the table inside
  * one reference object the per-round plan — and its generated source —
  * is byte-stable across rounds: round 2+ of [[graft.text.Bpe.learn]]
  * and every [[graft.text.Bpe.bpeVocab]] consumer reuse the round-1
  * compiled class. Like [[BpeMerge]], fitted state — built into a
  * Column with `Native`.
  */
case class BpeMergeSeq(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  @transient private lazy val lhsU =
    merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val rhsU =
    merges.map(m => UTF8String.fromString(m._2)).toArray
  @transient private lazy val mergedU =
    merges.map(m => UTF8String.concat(
      UTF8String.fromString(m._1), UTF8String.fromString(m._2))).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_merge_seq expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n0 = arr.numElements()
    var cur = new Array[UTF8String](n0)
    var len = n0
    var i = 0
    while (i < n0) { cur(i) = arr.getUTF8String(i); i += 1 }
    var k = 0
    while (k < lhsU.length) {
      val l = lhsU(k); val r = rhsU(k); val m = mergedU(k)
      var out = 0
      var j = 0
      while (j < len) {
        if (j + 1 < len && l.equals(cur(j)) && r.equals(cur(j + 1))) {
          cur(out) = m
          j += 2
        } else {
          cur(out) = cur(j)
          j += 1
        }
        out += 1
      }
      len = out
      k += 1
    }
    if (len < cur.length) cur = java.util.Arrays.copyOf(cur, len)
    new GenericArrayData(cur.asInstanceOf[Array[AnyRef]])
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("bpeMergeSeq", this, classOf[BpeMergeSeq].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = "bpe_merge_seq"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
