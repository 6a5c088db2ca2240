package graft.core

import scala.util.Random
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The typed exact-fit Aggregator (SURVEY §2i fallback): must match
  * the closed-form normal equations bit-for-bit on any partitioning,
  * and track the built-in `regr_slope` within float tolerance.
  */
class AggregatorsSpec extends SparkSpec {
  import spark.implicits._

  private def fit(pts: Seq[(Double, Double)]): (Double, Double) = {
    // closed form on scaled decimals — the aggregator's contract.
    // new java.math.BigDecimal (exact binary expansion), NOT scala's
    // BigDecimal(v) (valueOf/shortest-repr): the production path
    // rounds the exact expansion, and on a .5-boundary double the two
    // representations can round HALF_UP differently — the oracle must
    // share the aggregator's rounding path, not approximate it
    def d(v: Double) = BigDecimal(new java.math.BigDecimal(v))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val n = BigDecimal(pts.size)
    val (sx, sy) = (pts.map(p => d(p._1)).sum, pts.map(p => d(p._2)).sum)
    val sxx = pts.map(p => d(p._1) * d(p._1)).sum
    val sxy = pts.map(p => d(p._1) * d(p._2)).sum
    val det = n * sxx - sx * sx
    val slope = ((n * sxy - sx * sy) / det).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val icept = ((sy - slope * sx) / n).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    (slope.toDouble, icept.toDouble)
  }

  test("regrFitExact == closed form; invariant under repartitioning; tracks regr_slope") {
    val rnd = new Random(5)
    val pts = (1 to 500).map { _ =>
      val x = rnd.nextDouble() * 50
      (x, 3.7 * x + 11.0 + rnd.nextGaussian())
    }
    val ds = pts.toDS()
    val one = ds.repartition(1).select(Aggregators.regrFitExact.toColumn).head()
    val many = ds.repartition(17).select(Aggregators.regrFitExact.toColumn).head()
    assert(one == many, "decimal partials must be partitioning-invariant")
    val (slope, icept) = fit(pts)
    assert(one.slope == slope && one.intercept == icept, "must equal the closed form")
    assert(one.n == 500L)
    // and it tracks the double-accumulating built-in within tolerance
    val builtin = pts.toDF("x", "y")
      .agg(regr_slope(col("y"), col("x")), regr_intercept(col("y"), col("x")))
      .head()
    assert(math.abs(one.slope - builtin.getDouble(0)) < 1e-6)
    assert(math.abs(one.intercept - builtin.getDouble(1)) < 1e-6)
  }

  test("regrFitExact: survives large magnitudes and non-finite rows") {
    // |x| ~ 1e10: sxx ~ 1e20 — overflows a Decimal(38,18) product
    // encoder (the bug the kryo buffer fixes); exact y = 2x + 5
    val big = Seq((1.0e10, 2.0e10 + 5), (2.0e10, 4.0e10 + 5), (3.0e10, 6.0e10 + 5))
    val r = big.toDS().repartition(3).select(Aggregators.regrFitExact.toColumn).head()
    assert(r.slope == 2.0 && r.intercept == 5.0 && r.n == 3L)
    // non-finite pairs are skipped (the SQL null-pair convention),
    // never a job-killing NumberFormatException
    val dirty = Seq((1.0, 2.0), (Double.NaN, 9.0), (3.0, Double.PositiveInfinity),
      (2.0, 4.0), (3.0, 6.0))
    val d = dirty.toDS().select(Aggregators.regrFitExact.toColumn).head()
    assert(d.slope == 2.0 && d.intercept == 0.0 && d.n == 3L)
  }

  test("regrFitExact: grouped usage and degenerate groups") {
    val ds = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0), // exact y = 2x
      ("b", 5.0, 9.9),                                    // n < 2
      ("c", 4.0, 1.0), ("c", 4.0, 7.0)                    // zero x-variance
    ).toDS()
    val got = ds.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(Aggregators.regrFitExact.toColumn)
      .collect().map(kv => kv._1 -> kv._2).toMap
    assert(got("a").slope == 2.0 && got("a").intercept == 0.0 && got("a").n == 3L)
    assert(got("b").slope.isNaN && got("b").n == 1L)
    assert(got("c").slope.isNaN && got("c").n == 2L)
  }
}
