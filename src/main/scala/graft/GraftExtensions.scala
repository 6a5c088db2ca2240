package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions entry point — the library's Catalyst
  * integration in one switch:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Installs the native functions (`dot_f`, `norm2_f`,
  * `jaro_winkler`, `nfc_normalize`) into the SQL function registry —
  * what `FunctionBridge.registerAll` does for an already-built
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // builders come from Registration so a wrong-arity SQL call gets
    // the standard WRONG_NUM_ARGS analysis error, not an
    // IndexOutOfBoundsException from exprs(1)
    ext.injectFunction((
      FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[graft.functions.VectorExpressions.DotProductF].getName, "dot_f"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.Registration.dotF(exprs)))
    ext.injectFunction((
      FunctionIdentifier("norm2_f"),
      new ExpressionInfo(classOf[graft.functions.VectorExpressions.Norm2F].getName, "norm2_f"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.Registration.norm2F(exprs)))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.StringSimilarity.JaroWinklerSim].getName,
        "jaro_winkler"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.Registration.jaroWinkler(exprs)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.TextNormalize.NfcNormalize].getName,
        "nfc_normalize"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.Registration.nfcNormalize(exprs)))
  }
}
