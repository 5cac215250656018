package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression: all L sign-hash bucket ids of a vector
  * against a fixed hyperplane matrix, in one pass.
  *
  * Why (SURVEY.md §4.3 extension ladder, tier b): the composable
  * formulation — one dot-product column per plane (96 of them, each a
  * 64-double literal array) — generates thousands of lines of projection
  * code, which costs ~2 s of cold codegen/JIT per query and still walks
  * the input array 96 times. This expression holds the plane matrix as a
  * referenced object and walks the input once per plane inside a single
  * fused loop; the generated code is ~20 lines regardless of L·k.
  *
  * Bucket b of table t sets bit i iff dot(v, planes(t·k+i)) >= 0, with
  * left-to-right summation — bit-identical to the per-column dot_f64
  * formulation it replaces.
  *
  * Null handling: a null input yields null; mismatched vector/plane
  * dimensionality yields null (same stance as [[DotProduct]]).
  */
case class LshBuckets(
    child: Expression,
    planes: Array[Array[Double]],
    planesPerTable: Int)
    extends UnaryExpression {

  private val numTables = planes.length / planesPerTable
  private val dim = if (planes.nonEmpty) planes(0).length else 0

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  /** Shared by eval and the generated code via addReferenceObj.
    *
    * The sign test quantizes the dot to 4 decimals first (HALF_UP, the
    * semantics of SQL round() on both engines) — the repo's
    * round-before-compare discipline: a dot within 5e-5 of zero
    * collapses to ±0.0 identically everywhere, so a future change in
    * either engine's summation order (last-ulp noise) cannot flip a
    * bucket bit. The DuckDB oracle applies round(dot, 4) >= 0, in SQL
    * order: a NaN or +Infinity dot sets the bit, -Infinity clears it,
    * and a vector with a null element has null dots, so no bit is set.
    */
  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() != dim) return null
    val out = new Array[Long](numTables)
    if (NearestCell.hasNull(v)) return new GenericArrayData(out)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var i = 0
      while (i < planesPerTable) {
        val p = planes(t * planesPerTable + i)
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += v.getDouble(j) * p(j); j += 1 }
        val nonNegative =
          if (java.lang.Double.isNaN(acc) || java.lang.Double.isInfinite(acc)) !(acc < 0)
          else java.math.BigDecimal.valueOf(acc)
            .setScale(4, java.math.RoundingMode.HALF_UP).signum() >= 0
        if (nonNegative) bucket |= (1L << i)
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("lshBuckets", this, classOf[LshBuckets].getName)
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |${ev.value} = $self.compute($v);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
