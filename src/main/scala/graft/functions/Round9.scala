package graft.functions

/** The engine's per-pair score quantizer: round a double HALF_UP to 9
  * decimals, returning exactly what `BigDecimal(x).setScale(9, HALF_UP)
  * .toDouble` returns (Scala's `BigDecimal(x)` and Java's
  * `BigDecimal.valueOf(x)` both start from `Double.toString(x)`), which
  * is also what Spark's `round(x, 9)` returns for a finite double.
  *
  * The decimal route costs a `Double.toString` and a decimal parse per
  * call. Only the rounding decision needs them, and only near a tie:
  *
  *  - y = x·1e9 and n = the HALF_UP integer of y. For |n| < 2^52,
  *    n / 1e9 is one correctly rounded division of two exact doubles: the
  *    double nearest n·10⁻⁹, which is what `BigDecimal.doubleValue`
  *    returns for it.
  *  - `Double.toString(x)` reads back as x, so it lies within ulp(x)/2
  *    of x: scaled, within 0.94·ulp(y) of x·1e9, and the product y is
  *    within ulp(y)/2 of that. The decimal and y therefore round alike
  *    unless y's fractional part lies within 1.44·ulp(y) of one half;
  *    inside [[Band]]·ulp(y) the exact route decides.
  *  - |y| ≥ 2^52 (no fraction left to decide on) and non-finite inputs
  *    take the exact route too, so NaN and ±∞ throw
  *    `NumberFormatException` as the decimal route always did. Callers
  *    that must pass them through (Spark's `Round` semantics) test first.
  *  - Anything that rounds to zero, ±0.0 included, returns +0.0: a
  *    decimal zero has no sign. */
object Round9 {

  /** Guard band around one half, in ulps of y (1.44 is the bound). */
  private val Band = 4.0
  private val TwoTo52 = 4503599627370496.0

  def apply(x: Double): Double = {
    val a = math.abs(x * 1e9)
    if (a < TwoTo52) { // false for NaN and ±∞
      val t = math.floor(a)
      val d = (a - t) - 0.5 // a - t is exact below 2^52
      if (math.abs(d) > Band * math.ulp(a)) {
        val m = if (d > 0) t + 1 else t
        return if (m == 0.0) 0.0 else if (x < 0) -(m / 1e9) else m / 1e9
      }
    }
    exact(x)
  }

  /** The decimal route, for ties and large or non-finite inputs. */
  private def exact(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
}
