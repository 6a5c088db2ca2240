package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryCompilationErrors

import graft.functions.StringSimilarity.JaroWinklerSim
import graft.functions.TextNormalize.NfcNormalize
import graft.functions.VectorExpressions.{DotProductF, Norm2F}

/** The native SQL functions, declared once for both registration
  * paths ([[graft.GraftExtensions]] for `spark.sql.extensions`,
  * [[FunctionBridge.registerAll]] for an already-built session). Each
  * builder is arity-checked: a SQL call with the wrong argument count
  * gets the standard WRONG_NUM_ARGS analysis error naming the
  * function — not an `IndexOutOfBoundsException` out of `exprs(1)`.
  * Lives in the bridge namespace because `QueryCompilationErrors` is
  * `private[sql]` (same rationale as [[FunctionBridge]]).
  */
object Registration {

  /** One SQL function: its name, the expression class it builds
    * (for `ExpressionInfo`) and its arity-checked builder. */
  final case class NativeFunction(
      name: String, exprClass: Class[_ <: Expression], build: Seq[Expression] => Expression)

  private def native(name: String, exprClass: Class[_ <: Expression], arity: Int)(
      make: Seq[Expression] => Expression): NativeFunction =
    NativeFunction(name, exprClass, exprs => {
      if (exprs.length != arity)
        throw QueryCompilationErrors.wrongNumArgsError(name, Seq(arity), exprs.length)
      make(exprs)
    })

  val all: Seq[NativeFunction] = Seq(
    native("dot_f", classOf[DotProductF], 2)(e => DotProductF(e(0), e(1))),
    native("norm2_f", classOf[Norm2F], 1)(e => Norm2F(e.head)),
    native("jaro_winkler", classOf[JaroWinklerSim], 2)(e => JaroWinklerSim(e(0), e(1))),
    native("nfc_normalize", classOf[NfcNormalize], 1)(e => NfcNormalize(e.head)))
}
