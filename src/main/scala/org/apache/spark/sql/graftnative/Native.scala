package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionUtils}

/** Builds a native Catalyst expression straight into a Column: `args`
  * become the expression's children and `build` (any per-call fitted
  * state in its closure) makes the node. No name is registered, so
  * frames built for different inputs can never resolve to each other's
  * expression, and concurrent sessions share no state. Lives under
  * `org.apache.spark.sql` solely to reach the `private[sql]`
  * `ExpressionUtils.column`.
  */
object Native {
  def apply(build: Seq[Expression] => Expression, args: Column*): Column =
    ExpressionUtils.column(build(args.map(ColumnConversions.expression)))
}
