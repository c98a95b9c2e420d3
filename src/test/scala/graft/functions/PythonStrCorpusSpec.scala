package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** CPython `str()` of 22k doubles, `src/test/resources/pystr_corpus.tsv`
  * (bit pattern, TAB, Python's rendering). Regenerate with
  * `python3 tools/gen_pystr_corpus.py`.
  */
object PythonStrCorpus {
  /** IEEE-754 bits -> CPython `str()`, in file order. */
  lazy val rows: Array[(Long, String)] = {
    val in = getClass.getResourceAsStream("/pystr_corpus.tsv")
    require(in != null, "missing resource pystr_corpus.tsv")
    try Source.fromInputStream(in, "UTF-8").getLines().map { line =>
      val tab = line.indexOf('\t')
      (java.lang.Long.parseUnsignedLong(line.substring(0, tab), 16), line.substring(tab + 1))
    }.toArray
    finally in.close()
  }

  lazy val pyStr: Map[Long, String] = rows.toMap

  /** The generator's FORMATTER_MISSES: doubles in about 6e17-9e18 and
    * 2e25-4e25 that `String.format("%.{p-1}e")` probing spelled otherwise
    * than CPython.
    */
  val formatterMisses: Seq[Double] = Seq(
    0xc3de5618e4f17210L, 0x43d6f04149e0dc50L, 0x43bd8a1f8c6ac0edL, 0xc3bbb2ae93712becL,
    0x43afd11b92705eacL, 0xc53494f0afe25ee4L, 0xc534e76cb81c58abL, 0x4530bd60de8e7bf1L,
    0xc530c89bbf35ce80L, 0x43af80179b65f779L, 0xc3ded5ddb8111476L, 0xc3b7c7ba7db42cddL,
    0x4537379ca408de7eL, 0xc3baeab428e72d57L, 0x43a23d9e1c26a481L, 0xc3d407ea99e50849L,
    0xc3b540b0ac552607L, 0xc3dc3f74cf8ef8f0L, 0x43b3935fff030072L, 0xc53661b07a670c9dL,
    0xc5340d8be70a842aL, 0x43dd601070a23dcfL, 0x43b7d8835f2a6573L, 0x43ae00985e8374e4L,
    0xc3ab8dee798ecbaeL, 0x43de55ee9c5c7e55L).map(java.lang.Double.longBitsToDouble)
}

/** `PythonStr.render` against CPython on every corpus row: subnormals
  * 1..4096 (the 1-digit rule), 10k random bit patterns, values a
  * Formatter-based renderer spelled wrongly, powers of 10 and 2 with
  * neighbours, the 1e-4 / 1e16 notation switches and FLOAT-widened values.
  */
class PythonStrCorpusSpec extends AnyFunSuite {

  test("render equals CPython str() on every corpus row") {
    val rows = PythonStrCorpus.rows
    assert(rows.length > 20000)
    val misses = rows.flatMap { case (bits, want) =>
      val got = PythonStr.render(java.lang.Double.longBitsToDouble(bits))
      if (got == want) None else Some(f"$bits%016x: $got != Python '$want'")
    }
    assert(misses.isEmpty, s"${misses.length} mismatches, first: ${misses.take(10).mkString("; ")}")
  }

  test("corpus covers the 1-digit rule, both notation switches and widened floats") {
    def py(d: Double): String = PythonStrCorpus.pyStr(java.lang.Double.doubleToRawLongBits(d))
    assert(py(java.lang.Double.MIN_VALUE) == "5e-324")
    assert(py(2 * java.lang.Double.MIN_VALUE) == "1e-323")
    assert(py(1e16) == "1e+16")
    assert(py(9999999999999998.0) == "9999999999999998.0")
    assert(py(1e-4) == "0.0001")
    assert(py(java.lang.Math.nextDown(1e-4)) == "9.999999999999999e-05")
    assert(py(0.1f.toDouble) == "0.10000000149011612")
    assert(py(-9.927526082972116e17) == "-9.927526082972116e+17")
    assert(py(8.743662197969343e18) == "8.743662197969343e+18")
    assert(PythonStrCorpus.formatterMisses.forall(d => PythonStrCorpus.pyStr.contains(
      java.lang.Double.doubleToRawLongBits(d))))
  }
}
