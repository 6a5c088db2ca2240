package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.Registration

/** Session extensions entry point — the library's Catalyst
  * integration in one switch:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or, on a session builder
  *   .withExtensions(new GraftExtensions)
  * }}}
  *
  * Installs the native functions ([[Registration.all]]: `dot_f`,
  * `norm2_f`, `jaro_winkler`, `nfc_normalize`) into the SQL function
  * registry — what `FunctionBridge.registerAll` does for an
  * already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    Registration.all.foreach { f =>
      ext.injectFunction(
        (FunctionIdentifier(f.name), new ExpressionInfo(f.exprClass.getName, f.name), f.build))
    }
}
