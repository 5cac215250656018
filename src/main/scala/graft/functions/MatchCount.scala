package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Number of positions at which two `array<bigint>` columns hold equal,
  * non-null elements — exactly `aggregate(zip_with(a, b, (u, v) ->
  * IF(u = v, 1L, 0L)), 0L, (acc, w) -> acc + w)`, the MinHash signature
  * match count, without the interpreted lambdas (higher-order functions
  * are CodegenFallback: every element walks an interpreted tree and the
  * zip_with allocates a struct array per row). zip_with pads the shorter
  * side with nulls and `null = v` takes the IF's else branch, so only
  * positions below the shorter length with both sides non-null can
  * count. A null array yields null, as zip_with does.
  */
case class MatchCount(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"match_count expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = LongType

  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var m = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) m += 1
      i += 1
    }
    m
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |long $m = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i) && $x.getLong($i) == $y.getLong($i)) {
         |    $m++;
         |  }
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override def prettyName: String = "match_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
