package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * SparkSessionExtensions injector for the graft native functions — the
 * spark-submit route:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
 * }}}
 *
 * makes every `graft_*` function available in pure SQL on any session of
 * the application, with no code call needed. It injects the same
 * [[GraftFunctions.table]] that [[GraftFunctions.register]] adds to a
 * session at run time.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "4.1.0", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}
