package graft.core

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator` UDAFs — the §2i fallback surface (SURVEY.md
  * §2i: "custom `Aggregator[(Double,Double), Buf, (Double,Double)]`
  * if exactness demands") for the cases the built-in aggregates
  * cannot serve. An `Aggregator` is the RIGHT custom-aggregation
  * extension point on Spark: it is partial-aggregable (reduce runs
  * map-side, merge combines partials — the same two-phase shape
  * HashAggregate gives the built-ins), so a custom aggregate keeps
  * map-side combine at 100 TB instead of shuffling raw rows.
  */
object Aggregators {

  /** Exact-decimal accumulation state for a degree-1 least-squares
    * fit: Σx, Σy, Σx², Σxy as scaled BigDecimal (inputs rounded to
    * `Scale` decimals first), n as long. Decimal partials make the
    * fit ORDER- AND PARTITIONING-INDEPENDENT — the built-in
    * `regr_slope` accumulates doubles, so its low bits depend on the
    * merge order (fine under a round-4 contract, but the exactness
    * fallback exists for when it is not). */
  final case class RegrBuf(n: Long, sx: java.math.BigDecimal, sy: java.math.BigDecimal,
                           sxx: java.math.BigDecimal, sxy: java.math.BigDecimal)

  /** (slope, intercept, n) with the normal equations evaluated in
    * BigDecimal and ONE final rounding to `outScale` decimals —
    * bit-reproducible on any partitioning. Degenerate inputs
    * (n < 2 or zero x-variance) yield NaN slope/intercept, matching
    * `regr_slope`'s null-ish convention without widening the type. */
  final case class RegrFit(slope: Double, intercept: Double, n: Long)

  private val Scale = 6
  private val Zero = java.math.BigDecimal.ZERO

  /** Exact degree-1 fit aggregator over (x, y) pairs. */
  object regrFitExact extends Aggregator[(Double, Double), RegrBuf, RegrFit] {
    private def d(v: Double) =
      new java.math.BigDecimal(v).setScale(Scale, java.math.RoundingMode.HALF_UP)

    override def zero: RegrBuf = RegrBuf(0L, Zero, Zero, Zero, Zero)

    override def reduce(b: RegrBuf, a: (Double, Double)): RegrBuf = {
      // non-finite pairs are IGNORED (the null-pair convention of the
      // SQL regr_* family) — new BigDecimal(NaN/Inf) would throw and
      // kill the job, which is strictly worse than skipping the row
      if (java.lang.Double.isFinite(a._1) && java.lang.Double.isFinite(a._2)) {
        val (x, y) = (d(a._1), d(a._2))
        RegrBuf(b.n + 1L, b.sx.add(x), b.sy.add(y),
          b.sxx.add(x.multiply(x)), b.sxy.add(x.multiply(y)))
      } else b
    }

    override def merge(a: RegrBuf, b: RegrBuf): RegrBuf =
      RegrBuf(a.n + b.n, a.sx.add(b.sx), a.sy.add(b.sy),
        a.sxx.add(b.sxx), a.sxy.add(b.sxy))

    override def finish(r: RegrBuf): RegrFit = {
      if (r.n < 2L) return RegrFit(Double.NaN, Double.NaN, r.n)
      val n = new java.math.BigDecimal(r.n)
      val det = n.multiply(r.sxx).subtract(r.sx.multiply(r.sx))
      if (det.signum() == 0) return RegrFit(Double.NaN, Double.NaN, r.n)
      val sNum = n.multiply(r.sxy).subtract(r.sx.multiply(r.sy))
      // one BigDecimal division each, explicitly scaled — the only
      // rounding in the whole fit, applied once at the end
      val slope = sNum.divide(det, 12, java.math.RoundingMode.HALF_UP)
      val icept = r.sy.subtract(slope.multiply(r.sx))
        .divide(n, 12, java.math.RoundingMode.HALF_UP)
      RegrFit(slope.doubleValue(), icept.doubleValue(), r.n)
    }

    // kryo, NOT Encoders.product: the product encoder maps
    // java.math.BigDecimal to Spark's Decimal(38,18) (20 integer
    // digits), which a single |x| ≥ ~1e10 overflows through sxx =
    // x² — the buffer would throw on serialization between partial
    // and final aggregation. Kryo round-trips arbitrary-precision
    // BigDecimal losslessly, which is the whole point of the exact
    // fallback.
    override def bufferEncoder: Encoder[RegrBuf] = Encoders.kryo[RegrBuf]
    override def outputEncoder: Encoder[RegrFit] = Encoders.product[RegrFit]
  }
}
