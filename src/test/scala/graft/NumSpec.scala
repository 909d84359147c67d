package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Num

/** The driver-side numeric helpers every iterative operator shares:
  * 12-significant-digit rounding (the reproducibility convention) and
  * the left-to-right dot product.
  */
class NumSpec extends AnyFunSuite {

  test("roundSig passes zero and non-finite values through unchanged") {
    assert(Num.roundSig(0.0) === 0.0)
    assert(Num.roundSig(Double.PositiveInfinity) === Double.PositiveInfinity)
    assert(Num.roundSig(Double.NegativeInfinity) === Double.NegativeInfinity)
    assert(Num.roundSig(Double.NaN).isNaN)
  }

  test("roundSig keeps exactly 12 significant digits, half-up") {
    assert(Num.roundSig(1.23456789012345) === 1.23456789012)
    assert(Num.roundSig(1.234567890125) === 1.23456789013)
    assert(Num.roundSig(2.0 / 3.0) === 0.666666666667)
    assert(Num.roundSig(-2.0 / 3.0) === -0.666666666667)
    assert(Num.roundSig(12345.0) === 12345.0, "short values are already exact")
  }

  test("roundSig scales with magnitude, huge and tiny alike") {
    assert(Num.roundSig(1e300 / 3.0) === 3.33333333333e299)
    assert(Num.roundSig(1e-300 / 3.0) === 3.33333333333e-301)
  }

  test("roundSig erases reduction-order jitter") {
    val leftFirst = (0.1 + 0.2) + 0.3
    val rightFirst = 0.1 + (0.2 + 0.3)
    assert(leftFirst != rightFirst, "the two orders must differ before rounding")
    assert(Num.roundSig(leftFirst) === Num.roundSig(rightFirst))
    assert(Num.roundSig(leftFirst) === 0.6)
  }

  test("dot accumulates left to right, bit-identical to a left fold") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { n =>
      val a = Vector.fill(n)(rnd.nextGaussian())
      val b = Vector.fill(n)(rnd.nextGaussian())
      val fold = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      assert(java.lang.Double.doubleToRawLongBits(Num.dot(a, b)) ===
        java.lang.Double.doubleToRawLongBits(fold))
    }
    // the order is observable: (1 + 1e100) - 1e100 is 0, not 1
    assert(Num.dot(Vector(1.0, 1e100, -1e100), Vector(1.0, 1.0, 1.0)) === 0.0)
  }

  test("dot of empty vectors is zero; the first vector sets the length") {
    assert(Num.dot(Vector.empty, Vector.empty) === 0.0)
    assert(Num.dot(Vector(2.0, 3.0), Vector(5.0, 7.0, 11.0)) === 31.0)
  }
}
