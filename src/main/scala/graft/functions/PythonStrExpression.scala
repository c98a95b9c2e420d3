package graft.functions

import com.fasterxml.jackson.core.io.NumberOutput
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `python_str(double)` -> STRING: Python's `str(float)` rendering, for
  * bit-parity with the reference's `str(element)` coercion before hashing
  * (HLL/HyperLogLog.py:110).
  *
  * Spark's `CAST(d AS STRING)` follows Java conventions, which diverge from
  * Python in exactly the ways that change SHA-1 inputs:
  *  - exponent thresholds: Java switches to scientific at >= 1e7 / < 1e-3,
  *    Python at >= 1e16 / < 1e-4 (`12345678.0` vs `1.2345678E7`);
  *  - exponent spelling: Python `1e+16` / `5e-324`, Java `1.0E16` / `4.9E-324`;
  *  - specials: Python `inf` / `-inf` / `nan`, Java `Infinity` / `NaN`;
  *  - digit selection: Python repr is the SHORTEST decimal that round-trips
  *    (correctly rounded); Java 17's historical algorithm occasionally emits
  *    a different digit string (e.g. subnormals).
  *
  * Digits come from Schubfach (Giulietti 2020, the algorithm of JDK 19's
  * `Double.toString`) as shipped in jackson-core's `NumberOutput`: the
  * shortest decimal that round-trips, nearest to the exact binary value.
  * Java's spec differs from CPython's in one rule, added here: where a
  * 1-digit decimal round-trips, Java still picks the nearest of the 1- and
  * 2-digit ones (`4.9E-324`), CPython the nearest 1-digit one (`5e-324`);
  * only small subnormals are affected. The digits are then placed with
  * Python's rules.
  */
object PythonStr {

  /** Python `str(double)`. */
  def render(v: Double): String = {
    if (java.lang.Double.isNaN(v)) return "nan"
    if (v == Double.PositiveInfinity) return "inf"
    if (v == Double.NegativeInfinity) return "-inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0.0" else "0.0"
    val neg = v < 0
    val a = math.abs(v)
    // shortest digits in Java's spelling: "123.45", "0.00123", "1.2345E-5"
    // (`true` selects jackson's Schubfach writer over JDK 17's toString)
    val s = NumberOutput.toString(a, true)
    val ei = s.indexOf('E')
    val mantEnd = if (ei < 0) s.length else ei
    val sig = new java.lang.StringBuilder(17)
    var lead = 0 // zeros ahead of the first significant digit
    var j = 0
    while (j < mantEnd) {
      val c = s.charAt(j)
      if (c != '.') { if (c == '0' && sig.length == 0) lead += 1 else sig.append(c) }
      j += 1
    }
    var end = sig.length
    while (end > 1 && sig.charAt(end - 1) == '0') end -= 1
    sig.setLength(end)
    // decimal exponent of the first significant digit
    var exp = s.indexOf('.') - 1 - lead +
      (if (ei < 0) 0 else Integer.parseInt(s, ei + 1, s.length, 10))
    var digits = sig.toString
    if (end == 2 && a < java.lang.Double.MIN_NORMAL) {
      // CPython's 1-digit rule: Java chose the nearest 1- or 2-digit decimal,
      // CPython the nearest 1-digit one if it round-trips. A normal double's
      // rounding interval is too narrow to hold both kinds; a subnormal's is
      // symmetric, so only the nearest 1-digit decimal can round-trip alone.
      val one = new java.math.BigDecimal(a).round(new java.math.MathContext(1))
      if (java.lang.Double.parseDouble(one.toString) == a) {
        digits = one.unscaledValue.toString
        exp = -one.scale
      }
    }
    val sb = new java.lang.StringBuilder(32)
    if (neg) sb.append('-')
    if (exp >= -4 && exp < 16) {
      // positional notation
      if (exp >= digits.length - 1) {
        sb.append(digits)
        var i = digits.length - 1
        while (i < exp) { sb.append('0'); i += 1 }
        sb.append(".0")
      } else if (exp >= 0) {
        sb.append(digits, 0, exp + 1).append('.').append(digits, exp + 1, digits.length)
      } else {
        sb.append("0.")
        var i = -1
        while (i > exp) { sb.append('0'); i -= 1 }
        sb.append(digits)
      }
    } else {
      // scientific notation: 1e+16, 1.5e+20, 5e-324 (>= 2 exponent digits)
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
      sb.append('e').append(if (exp < 0) '-' else '+')
      val ae = math.abs(exp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    }
    sb.toString
  }
}

/** Type-dispatching coercion used by every hash-input wrapper: DOUBLE/FLOAT
  * render via [[PythonStr]] (Python `str()` parity, the reference's
  * semantics); every other type keeps Spark's `CAST(x AS STRING)`, which
  * already matches Python for integers and strings (the reference's fixture
  * types). Resolved after analysis, when the input type is known.
  */
case class PyStrCoerce(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case DoubleType => PythonStr(child)
    case FloatType  => PythonStr(org.apache.spark.sql.catalyst.expressions.Cast(child, DoubleType))
    case _          => org.apache.spark.sql.catalyst.expressions.Cast(child, StringType)
  }

  override protected def withNewChildInternal(c: Expression): PyStrCoerce = copy(child = c)
  override def prettyName: String = "py_str_coerce"
}

case class PythonStr(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires DOUBLE (cast floats up first), got ${child.dataType.sql}")

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(PythonStr.render(v.asInstanceOf[Double]))

  override protected def withNewChildInternal(c: Expression): PythonStr = copy(child = c)
  override def prettyName: String = "python_str"
}
