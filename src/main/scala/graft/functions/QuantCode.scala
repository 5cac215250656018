package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: per-dimension scalar-quantization codes of
  * a vector against fitted quantile-boundary vectors, in one pass.
  *
  * Dimension j's code is the comparison-bucketed rank of v(j) against
  * `bounds(j)` (the fitted (B-1)-quantile boundaries of that dimension):
  * raw = 1 + #{k : v(j) >= bounds(j)(k)} ∈ 1..B, emitted CENTERED as
  * 2·raw - (B+1) (odd grid ±(B-1); raw codes share a large positive mean
  * whose cross-terms swamp the dot-product correlation signal — measured
  * recall@5 0.06 raw vs 0.62 centered). Codes are exact small ints in
  * double, so the downstream ranking dot stays FP-free.
  *
  * This replaces the ntile-per-dimension window formulation: an ntile
  * over `Window.partitionBy(dim)` puts the WHOLE corpus into each of the
  * 64 dim-partitions — unbounded window state at scale — where this
  * expression is a narrow codegen'd scan with no shuffle at all; the
  * boundary fit upstream is a bounded-sketch aggregate
  * (approx_percentile) instead of a window. Boundaries are a referenced
  * object, set at plan time from the driver-collected fit.
  *
  * Null handling: a null input or a wrong-dimensionality vector yields
  * null (same stance as [[DotProduct]]/[[LshBuckets]]). `v >= b` is the
  * SQL comparison the twin replays: NaN counts as above every boundary,
  * and a null element, which compares to nothing, takes the lowest code.
  */
case class QuantCode(child: Expression, bounds: Array[Array[Double]])
    extends UnaryExpression {

  private val dim = bounds.length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quant_code expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  /** Shared by eval and the generated code via addReferenceObj. */
  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() != dim) return null
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      val bs = bounds(j)
      var raw = 1
      if (!v.isNullAt(j)) {
        val x = v.getDouble(j)
        var k = 0
        while (k < bs.length) {
          if (SQLOrderingUtil.compareDoubles(x, bs(k)) >= 0) raw += 1
          k += 1
        }
      }
      // centered: 2*raw - (B+1) where B = bs.length + 1 buckets
      out(j) = (2 * raw - (bs.length + 2)).toDouble
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("quantCode", this, classOf[QuantCode].getName)
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
