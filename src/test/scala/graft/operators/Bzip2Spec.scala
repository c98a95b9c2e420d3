package graft.operators

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** bzip2 stream walk: round-trips (incl. property sweep), CRC gates,
  * bounds, named rejects.
  */
class Bzip2Spec extends AnyFunSuite {

  // scalatestplus isn't in the offline dep cache; drive ScalaCheck Gens
  // directly with deterministic seeds (the HllPropertiesSpec pattern)
  private def forAllSeeded[A](gen: Gen[A], n: Int = 50)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def rt(data: Array[Byte], level: Int = 1): Unit = {
    val packed = Bzip2.compress(data, level)
    assert(Bzip2.isBzip2(packed))
    assert(Bzip2.decompress(packed).sameElements(data))
  }

  test("round-trips: text, runs, binary, empty, single byte") {
    rt("hello block-sorting world — café\n".getBytes(StandardCharsets.UTF_8))
    rt(Array.fill(1000)('a'.toByte)) // long runs exercise RLE1 + RUNA/RUNB
    rt(Array.tabulate(4096)(i => (i * 131 % 251).toByte)) // all-byte alphabet
    rt(Array.emptyByteArray)
    rt(Array[Byte](0))
    rt("abab".getBytes(StandardCharsets.US_ASCII)) // periodic: BWT tie rows
  }

  test("multi-block streams round-trip (block cut under the level cap)") {
    val big = Array.tabulate(250000)(i => ((i / 7) % 200).toByte)
    rt(big, level = 1) // 100k blocks -> 3 blocks
  }

  test("property: arbitrary byte arrays round-trip") {
    forAllSeeded(Gen.containerOf[Array, Byte](
      Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { data =>
      rt(data)
    }
  }

  test("block CRC and stream CRC are verified, not decorative") {
    val packed = Bzip2.compress("verify me please".getBytes(StandardCharsets.US_ASCII))
    // flip one bit inside the block payload (past the 4-byte header +
    // 6-byte magic + 4-byte crc)
    val broken = packed.clone()
    broken(20) = (broken(20) ^ 0x10).toByte
    val e = intercept[IllegalArgumentException](Bzip2.decompress(broken))
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("bzip2:"))
  }

  test("named rejects: bad header, truncation, output cap") {
    intercept[IllegalArgumentException](Bzip2.decompress("not bzip".getBytes))
    val packed = Bzip2.compress("truncate me after the header".getBytes)
    val e = intercept[IllegalArgumentException](
      Bzip2.decompress(packed.take(8)))
    assert(e.getMessage.contains("Unexpected end of stream"))
    val big = Bzip2.compress(Array.fill(10000)('x'.toByte))
    val e2 = intercept[IllegalArgumentException](
      Bzip2.decompress(big, maxOut = 100))
    assert(e2.getMessage.contains("cap"))
  }

  private def res(n: String): Array[Byte] = {
    val in = getClass.getResourceAsStream("/" + n)
    assert(in != null, s"missing resource $n")
    try in.readAllBytes() finally in.close()
  }

  test("decodes CANONICAL bzip2 output (golden interop, text + binary)") {
    for (base <- Seq("bzip2_golden_text", "bzip2_golden_binary")) {
      val packed = res(s"$base.bz2")
      val plain = res(s"$base.plain")
      assert(Bzip2.decompress(packed).sameElements(plain), base)
    }
  }

  test("decodes CANONICAL multistream concatenation (the Wikipedia dump layout)") {
    // three canonical-bzip2 streams at levels 1/9/5 concatenated byte-to-byte
    // — exactly what `bzip2 -dc` emits in full and what
    // pages-articles-multistream.xml.bz2 ships as.
    val packed = res("bzip2_golden_multistream.bz2")
    val plain = res("bzip2_golden_multistream.plain")
    assert(Bzip2.decompress(packed).sameElements(plain))
  }

  test("multistream: self-compressed concatenations round-trip, CRCs per stream") {
    val parts = Seq(
      "alpha stream".getBytes(StandardCharsets.US_ASCII),
      Array.fill(3000)('z'.toByte),
      "omega".getBytes(StandardCharsets.US_ASCII))
    val packed = parts.map(p => Bzip2.compress(p)).reduce(_ ++ _)
    assert(Bzip2.decompress(packed).sameElements(parts.reduce(_ ++ _)))
    // corrupting the SECOND stream still fails loudly
    val firstLen = Bzip2.compress(parts.head).length
    val broken = packed.clone()
    broken(firstLen + 20) = (broken(firstLen + 20) ^ 0x10).toByte
    intercept[IllegalArgumentException](Bzip2.decompress(broken))
  }

  test("multistream: maxOut caps TOTAL output across streams") {
    val packed = Bzip2.compress(Array.fill(5000)('a'.toByte)) ++
      Bzip2.compress(Array.fill(5000)('b'.toByte))
    val e = intercept[IllegalArgumentException](Bzip2.decompress(packed, maxOut = 6000))
    assert(e.getMessage.contains("cap"))
  }

  test("multistream fuzz: mutations never decode silently wrong") {
    // a seeded sample of larger sweeps: every single-byte
    // mutation either rejects by name (both CRCs have teeth) or decodes
    // to the EXACT original; a truncation that still decodes can only
    // be a stream-boundary cut yielding the exact plain PREFIX — the
    // same semantics canonical `bzip2 -dc` has on a truncated pipe.
    val rnd = new java.util.Random(5)
    val want = ("fuzz corpus — café " * 200).getBytes(StandardCharsets.UTF_8)
    val packed = Bzip2.compress(want.take(1500)) ++ Bzip2.compress(want.drop(1500))
    (0 until 400).foreach { _ =>
      val b = packed.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try assert(Bzip2.decompress(b, maxOut = 1 << 20).sameElements(want),
        "mutated archive decoded to DIFFERENT bytes")
      catch { case _: IllegalArgumentException => () }
    }
    (0 until 150).foreach { _ =>
      val n = rnd.nextInt(packed.length)
      try {
        val got = Bzip2.decompress(java.util.Arrays.copyOf(packed, n), maxOut = 1 << 20)
        assert(got.length <= want.length &&
          got.sameElements(java.util.Arrays.copyOf(want, got.length)),
          s"truncation at $n decoded to a non-prefix")
      } catch { case _: IllegalArgumentException => () }
    }
  }

  test("multistream: trailing non-BZh bytes are a NAMED reject, not silence") {
    val packed = Bzip2.compress("clean stream".getBytes(StandardCharsets.US_ASCII))
    val e = intercept[IllegalArgumentException](
      Bzip2.decompress(packed ++ "junk after the footer".getBytes))
    assert(e.getMessage.contains("Unexpected data after a valid BZip2 stream"))
    // a short (<4 byte) tail is equally rejected by name
    val e2 = intercept[IllegalArgumentException](
      Bzip2.decompress(packed ++ Array[Byte]('B', 'Z')))
    assert(e2.getMessage.contains("Unexpected data after a valid BZip2 stream"))
  }
}
