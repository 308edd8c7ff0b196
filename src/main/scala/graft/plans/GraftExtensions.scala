package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, SquaredDistance}

/** Catalyst extension points (SparkSessionExtensions), registered via
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`:
  *
  *   - SQL surface: `graft_sqdist(a, b)` and `graft_dot(a, b)` — the codegen
  *     [[graft.functions.SquaredDistance]] / [[graft.functions.DotProduct]]
  *     kernels callable from `spark.sql(...)` text. DataFrame code reaches
  *     the same kernels through [[graft.core.Vec]].
  *   - [[AsOfJoinStrategy]], the planner strategy for the native as-of join.
  *
  * This is the engine's whole custom-Catalyst inventory by design
  * (SURVEY.md §4): everything else is expressible in built-in operators,
  * where Catalyst's own rules (pushdown, pruning, AQE) do the work.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "graft_sqdist"),
      (args: Seq[Expression]) => SquaredDistance(args(0), args(1))))
    e.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
