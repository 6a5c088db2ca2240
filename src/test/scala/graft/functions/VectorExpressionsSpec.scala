package graft.functions

import scala.util.Random
import graft.SparkSpec
import graft.text.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The native codegen'd vector expressions must be bit-identical to
  * the higher-order-fold formulation (same accumulation order), and
  * robust to nulls/length mismatch.
  */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  /** The reference formulation via built-in higher-order functions:
    * left-to-right accumulation, per-term double cast. */
  private def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  private def norm2Fold(a: Column): Column =
    aggregate(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  private def randomVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "v")
  }

  test("dot_f / norm2_f are bit-identical to the fold formulation") {
    val df = randomVecs(500, 64, seed = 3)
    val paired = df.as("a").crossJoin(df.as("b")).filter(col("a.id") < col("b.id")).limit(2000)
    val cmp = paired.select(
      Similarity.dot(col("a.v"), col("b.v")).as("native"),
      dotFold(col("a.v"), col("b.v")).as("fold"),
      Similarity.norm2(col("a.v")).as("n_native"),
      norm2Fold(col("a.v")).as("n_fold"))
    val bad = cmp.filter(col("native") =!= col("fold") || col("n_native") =!= col("n_fold")).count()
    assert(bad == 0)
  }

  test("null input or mismatched lengths → null out (fold parity)") {
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f, 5.0f))),
      (None, Some(Array(1.0f))),
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f)))
    ).toDF("a", "b")
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("d"),
      dotFold(col("a"), col("b")).as("f")).collect()
    // ragged: the fold nulls the sum (zip_with pads with null) and
    // the native expression must agree, or the optimizer rewrite
    // would change results
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).getDouble(0) == 11.0 && rows(2).getDouble(1) == 11.0)
  }

  test("expression survives whole-stage codegen in an aggregate pipeline") {
    val df = randomVecs(1000, 32, seed = 9)
    val s = df.select(sum(Similarity.norm2(col("v"))).as("t")).head.getDouble(0)
    assert(s > 0.0 && !s.isNaN)
  }

  test("type check rejects non-float arrays") {
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    intercept[Exception] {
      df.select(Similarity.dot(col("a"), col("b"))).collect()
    }
  }

  test("a null ELEMENT nulls the sum — fold semantics on nullable arrays") {
    // parquet float arrays default to containsNull=true; the native
    // expressions must null the whole sum for a null element (the
    // fold's behavior), not silently read it as 0.0f
    val df = Seq(
      (Seq[java.lang.Float](1.0f, null, 3.0f), Seq[java.lang.Float](1.0f, 1.0f, 1.0f)),
      (Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](3.0f, 4.0f)))
      .toDF("a", "b")
    val rows = df.select(
      graft.functions.VectorExpressions.dot_f(col("a"), col("b")).as("d"),
      graft.functions.VectorExpressions.norm2_f(col("a")).as("n")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1),
      "null element must null both dot and norm")
    assert(rows(1).getDouble(0) == 11.0 && rows(1).getDouble(1) == 5.0)
    // and the interpreted (eval) path agrees with codegen: force it
    // through a non-codegen context via a literal filter + collect
    val interp = df.filter(
      graft.functions.VectorExpressions.dot_f(col("a"), col("b")).isNull).count()
    assert(interp == 1L)
  }
}
