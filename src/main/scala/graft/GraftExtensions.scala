package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point, the cluster-wide twin of
  * `GraftSession.local`: `--conf spark.sql.extensions=graft.GraftExtensions`
  * injects every `graft_*` native kernel from `NativeFunctions.builders`,
  * the same list `NativeFunctions.register` uses, so the two cannot drift
  * (FunctionsSpec pins the builder list against the Column API). It also
  * injects [[graft.plans.RewriteDotProduct]], which turns user-written
  * HOF dot products into the native loop.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.NativeFunctions.builders.foreach { case (name, cls, builder) =>
      // the concrete Expression class per function, so DESCRIBE FUNCTION
      // EXTENDED names the real implementation (not a shared registry label)
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls, name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RewriteDotProduct)
  }
}
