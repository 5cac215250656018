package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: dot product of two `array<double>` columns.
  *
  * Why a custom Expression (SURVEY.md §4.3 "optional tier"): Spark's
  * composable alternative — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * runs through the interpreted higher-order-function path (lambda
  * variables are boxed per element and whole-stage codegen is disabled
  * for the enclosing stage). For a 64-dim embedding scored against every
  * row this is the hot path, so it earns the (b) tier of the extension
  * preference order: a scalar Expression with `doGenCode`, before ever
  * considering a custom operator. Summation order is left-to-right,
  * matching both the interpreted formulation and DuckDB's
  * `list_dot_product`, so oracle parity is unchanged.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f64 expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = DoubleType

  /** Always nullable: mismatched-length inputs yield null (a silent
    * min-length truncation would produce a plausible-but-wrong similarity;
    * DuckDB's list_dot_product would not silently agree). Null ELEMENTS
    * also yield null, matching the interpreted zip_with/aggregate
    * formulation (null propagates through the fold) — so the DotFusion
    * rewrite is semantics-preserving even on containsNull=true arrays.
    * The element null-scan is emitted only when either input's type
    * admits nulls; containsNull=false inputs keep the branch-free loop.
    */
  override def nullable: Boolean = true

  /** Whether either input's TYPE admits null elements (drives the
    * null-scan). Lazy so children are resolved by first use (they are
    * unresolved at copy time) AND the per-row interpreted path doesn't
    * re-walk the types on every evaluation.
    */
  @transient private lazy val mayHaveNullElements: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => false
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    if (mayHaveNullElements) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
    }
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val nullScan =
        if (mayHaveNullElements)
          s"""for (int $j = 0; $j < $n && !${ev.isNull}; $j++) {
             |  if ($x.isNullAt($j) || $y.isNullAt($j)) { ${ev.isNull} = true; }
             |}""".stripMargin
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |}
         |$nullScan
         |if (!${ev.isNull}) {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
