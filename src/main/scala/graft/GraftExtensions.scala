package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: installs graft's native functions at
  * session build time, so a user enables the whole engine with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions        // conf, or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * and `dot_f64` / `simhash_agg` / `jaro_winkler` resolve in SQL text.
  * This is the SQL-user surface only: the engine's own queries never
  * reach a native by name — they build each expression straight into a
  * Column with `org.apache.spark.sql.graftnative.Native`, fitted
  * constants (plane matrices, centroids, eval matrices) included, so
  * they run the same on sessions built without this extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[functions.DotProduct].getName, "dot_f64"),
      (exprs: Seq[Expression]) => functions.DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[functions.SimHashAgg].getName, "simhash_agg"),
      (exprs: Seq[Expression]) => functions.SimHashAgg(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[functions.JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => functions.JaroWinkler(exprs.head, exprs(1))))
    // Rewrite the portable aggregate(zip_with(...)) dot-product spelling
    // to the native codegen'd DotProduct (see functions.DotFusion).
    ext.injectOptimizerRule(_ => functions.DotFusion)
  }
}
