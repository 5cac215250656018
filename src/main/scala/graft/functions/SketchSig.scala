package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The full 64-permutation MinHash signature of a token array, IN-ROW:
  * 3-token shingle → 32-bit md5-prefix hash → per-permutation
  * (a·h + b) mod P minima, one fused pass. Bit-identical to the
  * explode → posexplode/lead window → `MinHashAgg` pipeline it
  * replaces (a permutation minimum is order-free, and the shingle
  * multiset is the same), but the signature is a per-document value, so
  * computing it inside the scan projection removes the pipeline's ONE
  * corpus-scale exchange — the whole (pos, tok, lead, lead) token
  * stream rode a doc_id shuffle and a per-doc sort just to reassemble
  * consecutive triples this expression reads off the array directly
  * (guide §2.4: the shuffle's only purpose was per-row-computable
  * state). At 100 TB that exchange is the pipeline's dominant term;
  * in-row it is zero bytes.
  *
  * Constants are case-class fields (the discipline of `MinHashAgg`,
  * the aggregate kept in the test tree as this expression's parity
  * reference), so the expression serializes with the plan.
  */
case class MinHashSig(
    child: Expression, as: Array[Long], bs: Array[Long], prime: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val toks = GramMd5.toArray(arr)
    val n = as.length
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val m = toks.length - 2
    var i = 0
    while (i < m) {
      val h = GramMd5.hash32(toks, i, 3)
      var k = 0
      while (k < n) {
        val v = (h * as(k) + bs(k)) % prime
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = "minhash_sig"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The 64-bit SimHash of a token array, IN-ROW: distinct tokens →
  * packed 64-bit md5-prefix hash (hex chars [9,16] << 32 | hex chars
  * [1,8] — one digest yields both words; the SQL spelling ran md5
  * twice) → signed bit balances → sign vector, exactly
  * [[SimHashAgg]]'s update/eval over `explode(array_distinct(t))`.
  * Same §2.4 argument as [[MinHashSig]]: the doc_id exchange under the
  * aggregate carried the distinct-token stream only to compute a
  * per-document value; in-row it vanishes. Returns the packed long —
  * call sites split sim_lo/sim_hi with the same bit ops as before.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType

  def compute(arr: ArrayData): Long = {
    val toks = GramMd5.toArray(arr)
    val seen = new java.util.HashSet[UTF8String](toks.length * 2)
    val bal = new Array[Long](64)
    var i = 0
    while (i < toks.length) {
      if (seen.add(toks(i))) {
        val h = GramMd5.packedHash64(toks(i))
        var b = 0
        while (b < 64) {
          bal(b) += ((h >>> b) & 1L) * 2L - 1L
          b += 1
        }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) {
      if (bal(b) > 0) r |= (1L << b)
      b += 1
    }
    r
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simHashSig", this, classOf[SimHashSig].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (long) $self.compute($v);")
  }

  override def prettyName: String = "simhash_sig"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
