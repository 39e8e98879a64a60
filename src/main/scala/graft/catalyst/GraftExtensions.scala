package graft.catalyst

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point — the idiomatic install route for
  * the engine's Catalyst extensions:
  *
  * {{{
  *   spark.sql.extensions=graft.catalyst.GraftExtensions
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * Injects [[AggRewriteRule]] into the optimizer; the rule stays inert
  * until [[AggRewriteRule.configure]] points it at a prepared layout
  * (extensions are applied at session build time, before any layout
  * exists — the per-session registry bridges that gap).
  * [[AggRewriteRule.install]] remains available for sessions built
  * without extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule(AggRewriteRule(_))
    // SQL surface for the native codegen cosine: any front-end (spark.sql,
    // JDBC, views) can call cosine_sim(a, b) and get the fused loop
    extensions.injectFunction(GraftExtensions.cosineSimDescriptor)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  val cosineSimDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
      null, "cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float arrays " +
        "(native codegen, double accumulation in index order)", ""),
    (args: Seq[Expression]) => {
      require(args.length == 2, s"cosine_sim takes 2 arguments, got ${args.length}")
      graft.functions.CosineSimilarity(args(0), args(1))
    })
}
