package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProduct

/** SparkSessionExtensions entry point: registers graft's native
  * expressions under SQL names so `spark.sql("SELECT dot_product(a, b)")`
  * works session-wide, and the planner strategy for the as-of join
  * (`AsOf.join` has no other registration). `GraftSession` wires it up
  * with `withExtensions`. A cluster caller that builds its own session
  * passes the extensions together with the two parquet confs that
  * `GraftSession` sets (see its scaladoc for why):
  * {{{
  * --conf spark.sql.extensions=graft.GraftExtensions
  * --conf spark.sql.legacy.parquet.nanosAsLong=true
  * --conf spark.sql.parquet.inferTimestampNTZ.enabled=false
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
