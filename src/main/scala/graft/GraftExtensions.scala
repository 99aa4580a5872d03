package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Standard Spark extensions entry point: installs graft's native
  * expressions into ANY session via
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * so a cluster user gets every function of
  * [[functions.GraftFunctions.builtins]] (`cosine_sim`, `word_profile`,
  * …) in SQL without calling [[functions.GraftFunctions.register]]
  * programmatically. (GraftSession still registers eagerly for the
  * embedded mains — same table, same expressions either way.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.builtins.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, "", "", "", "", "", "", "", "built-in"),
        build))
    }
    // custom-operator tier (c): the AS-OF and INTERVAL join strategies
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => plans.IntervalJoinStrategy)
  }
}
