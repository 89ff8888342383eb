package graft

import java.lang.Double.doubleToRawLongBits
import java.util.SplittableRandom

import graft.functions.Centroids
import org.scalatest.funsuite.AnyFunSuite

/** The in-row rounding, [[Centroids.roundHalfUp]], against the
  * BigDecimal form of Spark's `round` that it stands in for
  * ([[Centroids.roundHalfUpDecimal]]), bit for bit: the Lloyd means, the
  * in-row cosines and L2 distances at scale 6, and the ADC table's
  * micro-units at scale 0. */
class RoundSpec extends AnyFunSuite {

  /** Asserts that every value of `xs` rounds to the same bits both ways;
    * returns how many were checked. */
  private def check(xs: IterableOnce[Double], scale: Int, what: String): Int = {
    var n = 0
    xs.iterator.foreach { x =>
      val (got, want) = (Centroids.roundHalfUp(x, scale), Centroids.roundHalfUpDecimal(x, scale))
      if (doubleToRawLongBits(got) != doubleToRawLongBits(want))
        fail(s"$what: round($x, $scale) = $got, BigDecimal gives $want")
      n += 1
    }
    n
  }

  private def uniform(seed: Long, lo: Double, hi: Double, n: Int): Iterator[Double] = {
    val r = new SplittableRandom(seed)
    Iterator.fill(n)(r.nextDouble(lo, hi))
  }

  /** `x` and its three neighbours on each side, of both signs. */
  private def ulps(x: Double): Iterator[Double] =
    (Iterator.iterate(x)(Math.nextDown).slice(1, 4) ++ Iterator.iterate(x)(Math.nextUp).take(4))
      .flatMap(v => Iterator(v, -v))

  test("10 M random values in [-8, 8] and [0, 1e-5] round as BigDecimal does") {
    val n = check(uniform(1, -8, 8, 7000000), 6, "[-8, 8]") +
      check(uniform(2, 0, 1e-5, 3000000), 6, "[0, 1e-5]")
    assert(n == 10000000)
  }

  test("near-ties (k + 0.5)·1e-6 ± 3 ulps, of both signs, round as BigDecimal does") {
    val r = new SplittableRandom(3)
    val ks = (0L until 1000L).iterator ++ Iterator.fill(200000)(r.nextLong(0, 8000000))
    check(ks.flatMap(k => ulps((k + 0.5) * 1e-6)), 6, "near-tie")
  }

  test("±0.0, NaN, ±Inf and |x| ≥ 1e3 round as BigDecimal does") {
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue)
    for (scale <- Seq(0, 6)) check(specials, scale, "special")
    // 1e3 at scale 6 and 1e9 at scale 0 are where the BigDecimal path takes over
    check(Iterator(1e3, 999.9999995, 1e9, 999999999.5).flatMap(ulps), 6, "bound")
    check(Iterator(1e9, 999999999.5).flatMap(ulps), 0, "bound")
    for (scale <- Seq(0, 6)) {
      check(uniform(4, 1e3, 1e12, 500000).flatMap(x => Iterator(x, -x)), scale, "|x| >= 1e3")
      check(uniform(5, 1e12, 1e300, 100000).flatMap(x => Iterator(x, -x)), scale, "huge")
    }
  }

  test("the ADC table's scale-0 rounding of d²·1e6 rounds as BigDecimal does") {
    check(uniform(6, 0, 32, 3000000).map(_ * 1e6), 0, "d²·1e6")
    val r = new SplittableRandom(7)
    check(Iterator.fill(200000)(r.nextLong(0, 32000000)).flatMap(k => ulps(k + 0.5)), 0,
      "near-tie at scale 0")
  }
}
