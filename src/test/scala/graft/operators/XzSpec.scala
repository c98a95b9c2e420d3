package graft.operators

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

/** xz / LZMA2 walk: canonical interop goldens (presets 0/6/9e, all four
  * check types, non-default lc/lp/pb, multistream), writer round-trips,
  * CRC gates, bounds, named rejects.
  */
class XzSpec extends AnyFunSuite {

  private def res(n: String): Array[Byte] = {
    val in = getClass.getResourceAsStream("/" + n)
    assert(in != null, s"missing resource $n")
    try in.readAllBytes() finally in.close()
  }

  test("decodes CANONICAL xz output (goldens: text -6 crc32, binary -9e " +
    "sha256, runs -0 crc64, non-default lc=3 lp=1 pb=2)") {
    for (base <- Seq("xz_golden_text", "xz_golden_binary", "xz_golden_runs",
      "xz_golden_lcmix")) {
      assert(Xz.decompress(res(s"$base.xz")).sameElements(res(s"$base.plain")), base)
    }
  }

  test("decodes CANONICAL multistream concatenation (three streams, mixed checks)") {
    assert(Xz.decompress(res("xz_golden_multistream.xz"))
      .sameElements(res("xz_golden_multistream.plain")))
  }

  test("multistream: 4-aligned null stream padding between streams decodes") {
    val a = Xz.compress("first".getBytes(StandardCharsets.US_ASCII))
    val b = Xz.compress("second".getBytes(StandardCharsets.US_ASCII), "crc64")
    val glued = a ++ Array.fill(8)(0.toByte) ++ b
    assert(new String(Xz.decompress(glued), StandardCharsets.US_ASCII) == "firstsecond")
    // misaligned padding is a named reject
    val bad = a ++ Array.fill(3)(0.toByte) ++ b
    val e = intercept[IllegalArgumentException](Xz.decompress(bad))
    assert(e.getMessage.contains("Garbage after a valid XZ Stream"))
  }

  test("writer round-trips every check type and both modes, incl. empty") {
    val data = ("stored xz — café 漢字 " * 500).getBytes(StandardCharsets.UTF_8)
    for (chk <- Seq("none", "crc32", "crc64", "sha256");
         mode <- Seq("fast", "store")) {
      val packed = Xz.compress(data, chk, mode)
      assert(Xz.isXz(packed))
      assert(Xz.decompress(packed).sameElements(data), s"$chk/$mode")
    }
    assert(Xz.decompress(Xz.compress(Array.emptyByteArray)).isEmpty)
    // payloads past one chunk split and rejoin in both modes
    val big = Array.tabulate(200000)(i => (i * 31).toByte)
    assert(Xz.decompress(Xz.compress(big, "crc64")).sameElements(big))
    assert(Xz.decompress(Xz.compress(big, "crc64", "store")).sameElements(big))
  }

  test("the LZMA encoder genuinely compresses (and rep0 carries runs)") {
    val text = ("line of shared prefix content with tokens\n" * 2000)
      .getBytes(StandardCharsets.UTF_8)
    val packed = Xz.compress(text)
    assert(packed.length < text.length / 20, s"ratio ${packed.length}/${text.length}")
    assert(Xz.decompress(packed).sameElements(text))
    val runs = Array.fill(100000)('a'.toByte)
    assert(Xz.compress(runs).length < 1000)
  }

  test("incompressible segments fall back to stored chunks and stay in sync") {
    // deterministic pseudo-random bytes defeat the greedy matcher; the
    // compressible tail after the stored fallback exercises the
    // state-reset-after-uncompressed rule in BOTH the writer and reader
    val rnd = new java.util.Random(7)
    val noise = new Array[Byte](61000)
    rnd.nextBytes(noise)
    val data = noise ++ ("then a compressible tail " * 4000)
      .getBytes(StandardCharsets.UTF_8)
    val packed = Xz.compress(data, "crc64")
    assert(Xz.decompress(packed).sameElements(data))
    assert(packed.length < data.length) // the tail still shrinks
  }

  test("the system xz (when present) decodes OUR writer's files") {
    val bin = Seq("/root/miniconda/bin/xz", "/usr/bin/xz", "/bin/xz")
      .find(p => new java.io.File(p).canExecute)
    assume(bin.isDefined, "no xz binary on this host")
    val rnd = new java.util.Random(3)
    val noise = new Array[Byte](61000)
    rnd.nextBytes(noise)
    val payloads = Seq(
      ("round-trip via canonical xz " * 300).getBytes(StandardCharsets.UTF_8),
      noise ++ ("stored-then-lzma tail " * 2000).getBytes(StandardCharsets.UTF_8))
    for (data <- payloads; chk <- Seq("crc32", "crc64", "sha256");
         mode <- Seq("fast", "store")) {
      val f = java.io.File.createTempFile("graft", ".xz")
      try {
        java.nio.file.Files.write(f.toPath, Xz.compress(data, chk, mode))
        val p = new ProcessBuilder(bin.get, "-dc", f.getAbsolutePath).start()
        val got = p.getInputStream.readAllBytes()
        assert(p.waitFor() == 0, s"xz -dc exit for $chk/$mode")
        assert(got.sameElements(data), s"$chk/$mode")
      } finally f.delete()
    }
  }

  test("every check is verified, not decorative (flip a payload bit)") {
    for (chk <- Seq("crc32", "crc64", "sha256")) {
      val packed = Xz.compress("verify me please, every byte".getBytes, chk, "store")
      // corrupt one byte inside the stored chunk (past header+block header)
      val broken = packed.clone()
      broken(30) = (broken(30) ^ 0x10).toByte
      val e = intercept[IllegalArgumentException](Xz.decompress(broken))
      assert(e.getMessage.contains("does not match"), chk)
    }
  }

  test("header/index/footer CRCs and the backward pointer are gated") {
    val packed = Xz.compress("structural integrity".getBytes, "crc32", "store")
    // stream-header CRC
    val h = packed.clone(); h(8) = (h(8) ^ 1).toByte
    assert(intercept[IllegalArgumentException](Xz.decompress(h))
      .getMessage.contains("Stream Header is corrupt"))
    // footer magic
    val f = packed.clone(); f(f.length - 1) = 'Q'.toByte
    assert(intercept[IllegalArgumentException](Xz.decompress(f))
      .getMessage.contains("Stream Footer is corrupt"))
  }

  test("named rejects: magic, truncation, trailing garbage, output cap") {
    intercept[IllegalArgumentException](Xz.decompress("not xz at all".getBytes))
    val packed = Xz.compress(("x" * 1000).getBytes)
    intercept[IllegalArgumentException](Xz.decompress(packed.take(40)))
    val e = intercept[IllegalArgumentException](
      Xz.decompress(packed ++ "junk".getBytes))
    // four bytes are too short for a next stream header
    assert(e.getMessage.contains("unexpected end of input"))
    val e2 = intercept[IllegalArgumentException](Xz.decompress(packed, maxOut = 10))
    assert(e2.getMessage.contains("cap"))
  }

  test("unsupported filter chains reject by name (delta+lzma2)") {
    // canonical xz with a delta filter prepended would carry two filters;
    // emulate by patching OUR block header's filter id and re-CRCing
    val packed = Xz.compress("filter probe".getBytes, "crc32", "store")
    val broken = packed.clone()
    broken(14) = 0x03 // filter id: delta
    // fix the block-header CRC so the filter check itself is what fires
    val c = new java.util.zip.CRC32()
    c.update(broken, 12, 8)
    val v = c.getValue
    (0 until 4).foreach(i => broken(20 + i) = ((v >>> (8 * i)) & 0xff).toByte)
    val e = intercept[IllegalArgumentException](Xz.decompress(broken))
    assert(e.getMessage.contains("Unsupported XZ filter chain"))
  }

  /** "dict probe" stored, its block header's dictionary byte patched to
    * `v` and re-CRC'd — the same patch-and-re-CRC shape as the filter-id
    * test: the dict byte is the props byte at offset 16 of our 12-byte
    * block header.
    */
  private def withDictByte(v: Int): Array[Byte] = {
    val packed = Xz.compress("dict probe".getBytes, "crc32", "store")
    val out = packed.clone()
    out(16) = v.toByte
    val c = new java.util.zip.CRC32()
    c.update(out, 12, 8)
    val crc = c.getValue
    (0 until 4).foreach(i => out(20 + i) = ((crc >>> (8 * i)) & 0xff).toByte)
    out
  }

  test("LZMA2 dictionary-size byte > 40 rejects by name (spec §5.3.1)") {
    val e = intercept[IllegalArgumentException](Xz.decompress(withDictByte(41)))
    assert(e.getMessage.contains("Unsupported LZMA2 properties"))
    // 38-40 (2-4 GiB, valid per spec) are past the largest dictionary
    // xz-java can allocate (byte 37, 1.5 GiB): a named reject as well
    val e40 = intercept[IllegalArgumentException](Xz.decompress(withDictByte(40)))
    assert(e40.getMessage.contains("Unsupported LZMA2 properties"))
  }

  /** Runs `body` and returns what it threw, asserting that this thread
    * allocated less than 64 MiB meanwhile — a dictionary the header
    * merely declares must not be allocated.
    */
  private def rejectedCheaply(body: => Any): IllegalArgumentException = {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    val before = threads.getThreadAllocatedBytes(tid)
    val e = intercept[IllegalArgumentException](body)
    val allocated = threads.getThreadAllocatedBytes(tid) - before
    assert(allocated < (64L << 20), s"allocated $allocated bytes")
    e
  }

  test("hostile dictionaries: a declared 1 GiB dictionary is a named reject, not an allocation") {
    // .xz: block header dictionary byte 36 (1 GiB) over a 10-byte payload;
    // the default 256 MiB output cap bounds the memory xz-java may take
    val xz = rejectedCheaply(Xz.decompress(withDictByte(36)))
    assert(xz.getMessage.startsWith("xz:") && xz.getMessage.contains("memory"), xz.getMessage)
    // 7z: an LZMA1 coder whose props declare a 1 GiB dictionary over a
    // garbage payload; the raw coder's dictionary is the declared unpack size
    val data = ("seven zip payload " * 40).getBytes(StandardCharsets.UTF_8)
    val archive = Sevenz.write(Seq("a.txt" -> data), coder = "lzma")
    def u32le(b: Array[Byte], at: Int, v: Long): Unit =
      (0 until 4).foreach(i => b(at + i) = ((v >>> (8 * i)) & 0xff).toByte)
    def crc(b: Array[Byte], from: Int, until: Int): Long = {
      val c = new java.util.zip.CRC32(); c.update(b, from, until - from); c.getValue
    }
    val hostile = archive.clone()
    // coder record: flags 0x23 (3-byte id + props), id 03 01 01, 5 props
    // bytes (props byte, LE32 dictionary); then re-CRC the next header
    // and the start header that covers its CRC
    val nextHeader = 32 + (0 until 8).map(i => (archive(12 + i) & 0xffL) << (8 * i)).sum.toInt
    val coderAt = archive.indexOfSlice(Seq[Byte](0x23, 3, 1, 1, 5), nextHeader)
    assert(coderAt > 0, "LZMA1 coder record not found")
    u32le(hostile, coderAt + 6, 1L << 30)
    u32le(hostile, 28, crc(hostile, nextHeader, hostile.length))
    u32le(hostile, 8, crc(hostile, 12, 32))
    // the props alone change nothing: the payload still decodes exactly
    assert(Sevenz.readEntries(hostile).head.payload.sameElements(data))
    val rnd = new java.util.Random(10)
    val garbage = new Array[Byte](10)
    rnd.nextBytes(garbage)
    garbage(0) = 0 // past the range coder's leading zero byte
    System.arraycopy(garbage, 0, hostile, 32, garbage.length)
    val sz = rejectedCheaply(Sevenz.readEntries(hostile))
    assert(sz.getMessage.startsWith("lzma:") || sz.getMessage.startsWith("7z:"), sz.getMessage)
  }

  test("LZMA chunk without a state reset after an uncompressed chunk " +
      "rejects by name (liblzma parity)") {
    val data = "reset probe".getBytes
    val packed = Xz.compress(data, "crc32", "store")
    // store mode emits ONE uncompressed chunk (0x01 hi lo data) at the
    // payload start (offset 24); splice a reset=0 LZMA chunk header right
    // after it, before the end marker — invalid per spec, and the decoder
    // must not silently repair the state continuity
    val insertAt = 24 + 3 + data.length
    val broken = packed.take(insertAt) ++
      Array[Byte](0x80.toByte, 0, 0, 0, 0) ++ packed.drop(insertAt)
    val e = intercept[IllegalArgumentException](Xz.decompress(broken))
    assert(e.getMessage.contains("Compressed data is corrupt"))
  }

  test("fuzz: mutations reject BY NAME or decode to the exact original") {
    // a seeded slice of a 16k-case sweep: single-byte mutations,
    // truncations, and magic-prefixed garbage must throw
    // IllegalArgumentException (named) or — when the mutated
    // byte is semantically dead — decode to the ORIGINAL payload. Any
    // other exception is an unguarded read; any other output is a
    // silently-wrong acceptance.
    val rnd = new java.util.Random(99)
    val want = ("fuzz payload — café " * 200).getBytes(StandardCharsets.UTF_8)
    val seed = Xz.compress(want, "crc32")
    def hit(b: Array[Byte]): Unit =
      try {
        val got = Xz.decompress(b, maxOut = 1 << 20)
        assert(got.sameElements(want), "mutated file decoded to DIFFERENT bytes")
      } catch { case _: IllegalArgumentException => () }
    (0 until 400).foreach { _ =>
      val b = seed.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      hit(b)
    }
    (0 until 100).foreach(_ => hit(java.util.Arrays.copyOf(seed, rnd.nextInt(seed.length))))
    (0 until 100).foreach { _ =>
      val b = new Array[Byte](16 + rnd.nextInt(200))
      rnd.nextBytes(b)
      System.arraycopy(Xz.Magic, 0, b, 0, 6)
      hit(b)
    }
  }

  test("CRC-64/XZ matches the published check vector") {
    // the standard CRC-64/XZ test vector: "123456789" -> 0x995DC9BBDF1939FA
    val got = Xz.crc64("123456789".getBytes(StandardCharsets.US_ASCII), 0, 9)
    assert(got == 0x995DC9BBDF1939FAL)
  }
}

/** Legacy .lzma (LZMA_ALONE): canonical goldens both producers, writer
  * interop, named rejects.
  */
class LzmaAloneSpec extends AnyFunSuite {
  private def res(n: String): Array[Byte] = {
    val in = getClass.getResourceAsStream("/" + n)
    assert(in != null, s"missing resource $n")
    try in.readAllBytes() finally in.close()
  }

  test("decodes CANONICAL .lzma (xz --format=lzma, liblzma one-shot, " +
    "and non-default lc=0 lp=2 pb=0)") {
    for (base <- Seq("lzma_golden_xz", "lzma_golden_py", "lzma_golden_wide")) {
      assert(Xz.decompressLzmaAlone(res(s"$base.lzma"))
        .sameElements(res(s"$base.plain")), base)
    }
  }

  test("writer round-trips and the system xz (when present) decodes it") {
    val data = ("alone round-trip — café 漢字 " * 800).getBytes("UTF-8")
    val packed = Xz.compressLzmaAlone(data)
    assert(packed.length < data.length / 5)
    assert(Xz.decompressLzmaAlone(packed).sameElements(data))
    val bin = Seq("/root/miniconda/bin/xz", "/usr/bin/xz", "/bin/xz")
      .find(p => new java.io.File(p).canExecute)
    assume(bin.isDefined, "no xz binary on this host")
    val f = java.io.File.createTempFile("graft", ".lzma")
    try {
      java.nio.file.Files.write(f.toPath, packed)
      val p = new ProcessBuilder(bin.get, "-dc", "--format=lzma",
        f.getAbsolutePath).start()
      val got = p.getInputStream.readAllBytes()
      assert(p.waitFor() == 0, "xz -dc --format=lzma exit")
      assert(got.sameElements(data))
    } finally f.delete()
  }

  test("named rejects: truncation, trailing garbage, size cap, bad props") {
    val packed = Xz.compressLzmaAlone("reject lanes".getBytes)
    intercept[IllegalArgumentException](Xz.decompressLzmaAlone(packed.take(16)))
    val e = intercept[IllegalArgumentException](
      Xz.decompressLzmaAlone(packed ++ Array[Byte](1, 2, 3)))
    assert(e.getMessage.contains("trailing garbage"))
    val big = Xz.compressLzmaAlone(Array.fill(50000)('q'.toByte))
    val e2 = intercept[IllegalArgumentException](
      Xz.decompressLzmaAlone(big, maxOut = 100))
    assert(e2.getMessage.contains("cap"))
    val bad = packed.clone(); bad(0) = 0xE1.toByte // 225: out of range
    intercept[IllegalArgumentException](Xz.decompressLzmaAlone(bad))
  }
}
