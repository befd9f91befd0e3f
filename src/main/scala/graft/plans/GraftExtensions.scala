package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native functions
  * for SQL use. The contract `graft.Session` wires it through
  * `spark.sql.extensions=graft.plans.GraftExtensions`; a builder's
  * `withExtensions(new GraftExtensions)` works too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteBoundedIntervalJoin)
    e.injectFunction((
      FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_f"),
      (children: Seq[Expression]) => {
        // explicit arity check: children(1) on a 1-arg call would throw a
        // bare IndexOutOfBoundsException from inside resolution
        require(children.length == 2,
          s"dot_f(a, b) expects exactly 2 arguments, got ${children.length}")
        DotProductF(children(0), children(1))
      }))
    // the integer sibling (quantized-embedding dot products, k-means
    // assignment) gets the same SQL surface as dot_f
    e.injectFunction((
      FunctionIdentifier("dot_l"),
      new ExpressionInfo(classOf[DotProductL].getName, "dot_l"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"dot_l(a, b) expects exactly 2 arguments, got ${children.length}")
        DotProductL(children(0), children(1))
      }))
  }
}
