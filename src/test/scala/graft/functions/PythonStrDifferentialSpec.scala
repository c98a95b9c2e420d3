package graft.functions

import java.math.{BigDecimal, MathContext, RoundingMode}
import org.scalatest.funsuite.AnyFunSuite

/** Python `str(float)` by definition, slowly: the smallest precision p in
  * [1, 17] whose correct rounding of the EXACT binary value parses back to
  * the same double, then CPython's placement (positional for
  * 1e-4 <= |v| < 1e16, else `d.ddde+XX`). Rounding `new BigDecimal(v)`
  * avoids the double rounding of `String.format("%.{p-1}e")`, which rounds
  * the Formatter's own digit string instead.
  */
object PythonStrOracle {
  private val contexts = (1 to 17).map(new MathContext(_, RoundingMode.HALF_EVEN))

  def render(v: Double): String = {
    if (v.isNaN) return "nan"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0.0" else "0.0"
    val exact = new BigDecimal(v)
    var p = 1
    var d: BigDecimal = null
    while (d == null) {
      require(p <= 17, s"no round-trip at 17 digits for $v")
      val r = exact.round(contexts(p - 1))
      if (java.lang.Double.parseDouble(r.toString) == v) d = r.stripTrailingZeros
      p += 1
    }
    val exp = d.precision - d.scale - 1
    if (exp >= -4 && exp < 16) {
      val s = d.toPlainString
      if (s.indexOf('.') >= 0) s else s + ".0"
    } else {
      val u = d.unscaledValue.abs.toString
      val mant = if (u.length == 1) u else u.substring(0, 1) + "." + u.substring(1)
      f"${if (v < 0) "-" else ""}${mant}e${if (exp < 0) '-' else '+'}${math.abs(exp)}%02d"
    }
  }
}

/** `PythonStr.render` against [[PythonStrOracle]] on seeded random bit
  * patterns: 10^6 uniform ones, 10^5 at the binary exponents where the
  * Formatter-based renderer went wrong (59, 60, 62, 84), and the small
  * subnormals.
  */
class PythonStrDifferentialSpec extends AnyFunSuite {

  private def check(name: String, n: Int, seed: Long)(draw: (java.util.SplittableRandom, Int) => Long): Unit = {
    val chunks = 16
    val misses = new java.util.concurrent.ConcurrentLinkedQueue[String]
    java.util.stream.IntStream.range(0, chunks).parallel().forEach { c =>
      val rng = new java.util.SplittableRandom(seed * 1000 + c)
      var i = c
      while (i < n) {
        val v = java.lang.Double.longBitsToDouble(draw(rng, i))
        val got = PythonStr.render(v)
        val want = PythonStrOracle.render(v)
        if (got != want) misses.add(f"${java.lang.Double.doubleToRawLongBits(v)}%016x: $got != $want")
        i += chunks
      }
    }
    assert(misses.isEmpty,
      s"$name: ${misses.size} of $n differ, first: ${misses.toArray.take(10).mkString("; ")}")
  }

  test("render equals the exact oracle on 10^6 uniform random bit patterns") {
    check("uniform", 1000000, 17L)((rng, _) => rng.nextLong())
  }

  test("render equals the exact oracle at binary exponents 59, 60, 62 and 84") {
    val exps = Array(59, 60, 62, 84)
    check("exponents", 100000, 23L) { (rng, _) =>
      val e = exps(rng.nextInt(exps.length)) + 1023L
      (rng.nextLong() & 0x800fffffffffffffL) | (e << 52)
    }
  }

  test("render equals the exact oracle on every subnormal with mantissa below 2^16") {
    // where a 1- and a 2-digit decimal can both round-trip
    check("subnormals", 1 << 16, 29L)((_, i) => i.toLong)
  }
}
