package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster deployment entry point: `--conf spark.sql.extensions=graft.GraftExtensions`
  * installs the engine's custom Catalyst expressions into every session on
  * the cluster — no driver-side registration call needed. This is the
  * conventional way a Spark library ships SQL-callable extensions, and it
  * composes with other extensions (the conf takes a comma-separated list).
  *
  * Injected surface, all expression-level (no custom physical operator or
  * planner strategy):
  *   - `array_dot(a, b)` — native whole-stage-codegen dot product over
  *     float/double arrays (the similarity-search hot path; see
  *     [[graft.functions.ArrayDotProduct]]), its integer twin
  *     `array_dot_long`, and the sorted-set merge counter
  *     `sorted_intersect_count`;
  *   - optimizer rules [[graft.plans.RewriteDotProduct]] and
  *     [[graft.plans.PruneJaroWinkler]].
  * The `product_agg` UDAF is not injectable this way; see
  * [[GraftSession.registerFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: composable HOF dot products become the native
    // codegen'd expression (semantics preserved — see RewriteDotProduct)
    ext.injectOptimizerRule(_ => graft.plans.RewriteDotProduct)
    // jw >= t implies a length-ratio bound — inject the cheap guard
    ext.injectOptimizerRule(_ => graft.plans.PruneJaroWinkler)
    ext.injectFunction((
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[graft.functions.ArrayDotProduct].getName,
        "array_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"array_dot requires exactly 2 arguments, got ${exprs.length}")
        graft.functions.ArrayDotProduct(exprs(0), exprs(1))
      }))
    // the integer twin (int8/SQ codes) and the sorted-set merge counter —
    // the other two codegen expressions the DataFrame tier uses; SQL-text
    // users get the identical surface
    ext.injectFunction((
      new FunctionIdentifier("array_dot_long"),
      new ExpressionInfo(classOf[graft.functions.ArrayDotLong].getName,
        "array_dot_long"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"array_dot_long requires exactly 2 arguments, got ${exprs.length}")
        graft.functions.ArrayDotLong(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(
        classOf[graft.functions.SortedArrayIntersectCount].getName,
        "sorted_intersect_count"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2,
          s"sorted_intersect_count requires exactly 2 arguments, got ${exprs.length}")
        graft.functions.SortedArrayIntersectCount(exprs(0), exprs(1))
      }))
  }
}
