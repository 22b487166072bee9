package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook: injects graft's native functions into
  * the session's FunctionRegistry so they're available to pure-SQL
  * users (`spark.sql("SELECT parse_sqdata_ts(...)")`). The functions
  * are [[GraftFunctions.natives]], the table [[GraftFunctions.register]]
  * installs too.
  *
  * Wire up with:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.natives.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}
