package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** All ordered index pairs (i < j) of a BIGINT array as
  * struct(part_a, part_b) rows, in one codegen'd pass — exactly
  * `flatten(transform(basket, (x, i) -> transform(slice(basket, i + 2,
  * size(basket) - i - 1), y -> struct(x, y))))` without the nested
  * interpreted lambdas (higher-order functions are CodegenFallback:
  * every element walks an interpreted expression tree, and the
  * flatten/slice spelling allocates a sub-array per element). The
  * basket explode is the corpus-scale inner loop of basket_pairs and
  * basket_rules; inputs are MaxBasket-capped, so the output stays
  * <= C(cap, 2) rows per basket by construction.
  */
case class PairStructs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pair_structs expects array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("part_a", LongType, nullable = false),
      StructField("part_b", LongType, nullable = false))),
    containsNull = false)

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(a, arr.getLong(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pairStructs", this, classOf[PairStructs].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($v);")
  }

  override def prettyName: String = "pair_structs"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
