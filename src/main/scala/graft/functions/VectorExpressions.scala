package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding arithmetic.
  *
  * Why custom expressions (SURVEY.md guidance: compose built-ins
  * first, custom `Expression` second): the built-in higher-order
  * route — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — materializes
  * an intermediate array per row and evaluates the lambdas
  * interpreted, outside whole-stage codegen. A dot product over a
  * float vector is exactly the kind of tight loop `doGenCode` is
  * for: the generated Java indexes the columnar `ArrayData`
  * directly, no intermediate allocation, stays inside the codegen
  * stage.
  *
  * Semantics match the fold formulation bit-for-bit: left-to-right
  * accumulation, each term `(double) a(i) * (double) b(i)` — so
  * swapping implementations cannot change oracle-checked results
  * (asserted in `VectorExpressionsSpec`).
  */
object VectorExpressions {

  private def checkFloatArray(dt: DataType, side: String): TypeCheckResult = dt match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$side must be array<float>, got ${other.simpleString}")
  }

  /** Σ a(i)·b(i) accumulated in double; NULL when the lengths differ
    * — exactly the higher-order fold's semantics (`zip_with` pads the
    * short side with nulls, which null the whole sum), so the native
    * and fold formulations agree on ragged inputs. */
  // deliberately NOT ImplicitCastInputTypes: implicit function-arg
  // coercion would accept array<double> and silently DOWNCAST every
  // element to float — a precision loss the strict check surfaces
  // instead (the fold formulation remains the double-exact path)
  case class DotProductF(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArray(left.dataType, "left") match {
        case TypeCheckResult.TypeCheckSuccess => checkFloatArray(right.dataType, "right")
        case f => f
      }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      if (x.numElements() != y.numElements()) null
      else {
        val n = x.numElements()
        var s = 0.0
        var i = 0
        while (i < n) {
          // a null ELEMENT nulls the whole sum — the fold's
          // semantics; silently reading it as 0.0f would let the
          // two advertised-equivalent paths disagree
          if (x.isNullAt(i) || y.isNullAt(i)) return null
          s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
          i += 1
        }
        s
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val bad = ctx.freshName("hasNullElem")
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $s = 0.0;
           |  boolean $bad = false;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
           |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
           |  }
           |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Σ a(i)² in double — the squared L2 norm. NULL if any element is
    * null (fold semantics, same contract as [[DotProductF]]). */
  case class Norm2F(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArray(child.dataType, "input")

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var s = 0.0
      var i = 0
      while (i < x.numElements()) {
        if (x.isNullAt(i)) return null
        val v = x.getFloat(i).toDouble
        s += v * v
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val v = ctx.freshName("v")
        val bad = ctx.freshName("hasNullElem")
        s"""
           |int $n = $a.numElements();
           |double $s = 0.0;
           |boolean $bad = false;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i)) { $bad = true; break; }
           |  double $v = (double) $a.getFloat($i);
           |  $s += $v * $v;
           |}
           |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  import org.apache.spark.sql.graft.ColumnBridge.{toCol, toExpr}

  def dot_f(a: Column, b: Column): Column = toCol(DotProductF(toExpr(a), toExpr(b)))
  def norm2_f(a: Column): Column = toCol(Norm2F(toExpr(a)))
}
