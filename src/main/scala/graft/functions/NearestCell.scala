package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: index of the nearest centroid (squared
  * L2, ties to the lowest index) for a vector column — the IVF coarse
  * assignment as ONE fused scan instead of a 16-way cross join + window
  * rank (which re-ran per consumer and shuffled for the rank).
  * Centroids are a referenced object, set at plan time from the
  * driver-side quantizer fit.
  *
  * Distance is evaluated as -2·v·c + |c|² (the |v|² term is constant
  * per row); dots accumulate left-to-right, so the argmin is
  * bit-identical to the dot_f64-column formulation it replaces. Scores
  * compare in SQL order (NaN above every number, -0.0 equal to 0.0), the
  * order the twins' `ORDER BY score, cell` argmin uses; a vector with a
  * null element has no score, so no cell (null).
  */
case class NearestCell(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {

  private val dim = if (cents.nonEmpty) cents(0).length else 0
  private val cn2: Array[Double] = NearestCell.cn2Of(cents)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell expects array<double>, got ${other.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  def compute(v: ArrayData): Any = {
    if (v.numElements() != dim || NearestCell.hasNull(v)) return null
    val scores = NearestCell.scores(v.toDoubleArray(), cents, cn2)
    var best = 0
    var c = 1
    while (c < scores.length) {
      if (SQLOrderingUtil.compareDoubles(scores(c), scores(best)) < 0) { best = c }
      c += 1
    }
    best
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCell", this, classOf[NearestCell].getName)
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("cell")
      s"""
         |Object $tmp = $self.compute($v);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Integer) $tmp).intValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCell {
  /** The ONE scoring loop (-2·v·c + |c|², left-to-right dot) — used by
    * the expression's per-row argmin AND by the driver-side probe-cell
    * ranking in Similarity, so both sides agree bit for bit by
    * construction.
    */
  def scores(v: Array[Double], cents: Array[Array[Double]], cn2: Array[Double]): Array[Double] = {
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val p = cents(c)
      var acc = 0.0
      var j = 0
      while (j < p.length) { acc += v(j) * p(j); j += 1 }
      out(c) = -2.0 * acc + cn2(c)
      c += 1
    }
    out
  }

  def cn2Of(cents: Array[Array[Double]]): Array[Double] =
    cents.map(_.foldLeft(0.0)((a, x) => a + x * x))

  def hasNull(v: ArrayData): Boolean = {
    var j = 0
    while (j < v.numElements()) { if (v.isNullAt(j)) return true; j += 1 }
    false
  }
}
