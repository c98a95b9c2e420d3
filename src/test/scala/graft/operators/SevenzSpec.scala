package graft.operators

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

/** 7z container walk. No canonical 7z producer exists in this sandbox
  * (no 7z/7za/7zr, no py7zr — see the Sevenz scaladoc caveat), so the
  * framing is pinned two independent ways: a HAND-ASSEMBLED byte-literal
  * archive written directly from 7zFormat.txt (no writer involvement),
  * and writer round-trips across every coder × layout. The compressed
  * payloads ride the LZMA encoder and decoder that XzSpec interops
  * against the system `xz` both directions, and the bzip2/deflate
  * coders with their own canonical gates.
  */
class SevenzSpec extends AnyFunSuite {

  private def docs(n: Int): Seq[(String, Array[Byte])] =
    (0 until n).map(i => (s"src/$i.txt",
      (s"document $i — " + ("seven zip archive body " * (1 + i % 5)))
        .getBytes(StandardCharsets.UTF_8)))

  private def crc(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32; c.update(b); c.getValue
  }

  // ---- the spec-literal fixture: built by hand, byte by byte ----------

  /** One file "a.txt" = "seven zip!", Copy coder, plain header — every
    * byte below is written straight from 7zFormat.txt, independently of
    * Sevenz.write.
    */
  private def handBuilt(corruptStartCrc: Boolean = false,
      corruptHeaderCrc: Boolean = false,
      corruptPayload: Boolean = false): Array[Byte] = {
    val payload = "seven zip!".getBytes(StandardCharsets.US_ASCII) // 10 bytes
    val pc = crc(payload)
    val hdr = new java.io.ByteArrayOutputStream()
    def w(vs: Int*): Unit = vs.foreach(v => hdr.write(v & 0xff))
    w(0x01) // kHeader
    w(0x04) // kMainStreamsInfo
    w(0x06, 0x00, 0x01) // kPackInfo, packPos=0, numPackStreams=1
    w(0x09, payload.length) // kSize, 10
    w(0x00) // kEnd(PackInfo)
    w(0x07) // kUnpackInfo
    w(0x0B, 0x01, 0x00) // kFolder, numFolders=1, external=0
    w(0x01, 0x01, 0x00) // 1 coder; flag idSize=1; id=00 (Copy)
    w(0x0C, payload.length) // kCodersUnpackSize, 10
    w(0x0A, 0x01) // kCRC, allAreDefined=1
    (0 until 4).foreach(i => w(((pc >>> (8 * i)) & 0xff).toInt))
    w(0x00) // kEnd(UnpackInfo)
    w(0x00) // kEnd(StreamsInfo)
    w(0x05, 0x01) // kFilesInfo, numFiles=1
    // kName: size = 1 (external byte) + 6 UTF-16 units ("a.txt" + NUL)
    w(0x11, 13, 0x00)
    "a.txt".foreach(c => w(c & 0xff, (c >> 8) & 0xff))
    w(0x00, 0x00) // name terminator
    w(0x00) // kEnd(FilesInfo)
    w(0x00) // kEnd(Header)
    val header = hdr.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
    out.write(0); out.write(4)
    val start = new Array[Byte](20)
    start(0) = payload.length.toByte // NextHeaderOffset = 10
    start(8) = header.length.toByte // NextHeaderSize
    val hc = crc(header) ^ (if (corruptHeaderCrc) 1L else 0L)
    (0 until 4).foreach(i => start(16 + i) = ((hc >>> (8 * i)) & 0xff).toByte)
    val sc = crc(start) ^ (if (corruptStartCrc) 1L else 0L)
    (0 until 4).foreach(i => out.write(((sc >>> (8 * i)) & 0xff).toInt))
    out.write(start)
    if (corruptPayload) payload(3) = (payload(3) ^ 1).toByte
    out.write(payload)
    out.write(header)
    out.toByteArray
  }

  test("decodes the hand-assembled spec-literal archive") {
    val es = Sevenz.readEntries(handBuilt())
    assert(es.map(e => (e.name, e.size)) == Seq(("a.txt", 10L)))
    assert(new String(es.head.payload, StandardCharsets.US_ASCII) == "seven zip!")
    assert(Sevenz.coderNames(handBuilt()) == "copy")
  }

  test("hand-built fixture: every declared CRC is actually checked") {
    val e1 = intercept[IllegalArgumentException](Sevenz.readEntries(handBuilt(corruptStartCrc = true)))
    assert(e1.getMessage.contains("start header CRC"))
    val e2 = intercept[IllegalArgumentException](Sevenz.readEntries(handBuilt(corruptHeaderCrc = true)))
    assert(e2.getMessage.contains("next header CRC"))
    val e3 = intercept[IllegalArgumentException](Sevenz.readEntries(handBuilt(corruptPayload = true)))
    assert(e3.getMessage.contains("folder CRC"))
  }

  // ---- canonical interop: libarchive bsdtar, both directions ----------

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/$name")
    require(in != null, s"missing test resource $name")
    try in.readAllBytes() finally in.close()
  }

  for (comp <- Seq("copy", "deflate", "bzip2", "lzma1", "lzma2", "zstd")) {
    test(s"decodes the canonical bsdtar 7z golden ($comp)") {
      // built by `bsdtar --format 7zip --options 7zip:compression=$comp`;
      // all but copy carry an LZMA1-ENCODED header (libarchive's default)
      val es = Sevenz.readEntries(res(s"sz_golden_$comp.7z"))
      assert(es.map(_.name) == Seq("one.txt", "noise.bin", "runs.txt"))
      assert(es(0).payload.sameElements(res("sz_member_one.txt")))
      assert(es(1).payload.sameElements(res("sz_member_noise.bin")))
      assert(es(2).payload.sameElements(res("sz_member_runs.txt")))
    }
  }

  test("bsdtar lists and extracts our writer's archives (live interop)") {
    val bin = new java.io.File("/root/miniconda/bin/bsdtar")
    assume(bin.canExecute, "bsdtar not present")
    val in = docs(5)
    for (coder <- Seq("copy", "lzma", "lzma2", "deflate", "bzip2", "zstd");
         enc <- Seq(false, true)) {
      val tmp = java.nio.file.Files.createTempFile("szspec", ".7z")
      java.nio.file.Files.write(tmp,
        Sevenz.write(in, coder = coder, solid = true, encodedHeader = enc))
      val t = new ProcessBuilder(bin.getPath, "-tf", tmp.toString).start()
      val listing = new String(t.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      val terr = new String(t.getErrorStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(t.waitFor() == 0, s"bsdtar -tf failed for $coder/enc=$enc: $terr")
      assert(listing.linesIterator.toSeq == in.map(_._1),
        s"listing drift for $coder/enc=$enc")
      // extract one member to stdout and compare bytes
      val x = new ProcessBuilder(bin.getPath, "-xOf", tmp.toString, in(3)._1).start()
      val body = x.getInputStream.readAllBytes()
      assert(x.waitFor() == 0 && body.sameElements(in(3)._2),
        s"extraction drift for $coder/enc=$enc")
      java.nio.file.Files.delete(tmp)
    }
  }

  // ---- writer round-trips across the coder × layout matrix ------------

  for (coder <- Seq("copy", "lzma", "lzma2", "deflate", "bzip2", "zstd");
       solid <- Seq(true, false);
       enc <- Seq(false, true)) {
    test(s"round-trip: coder=$coder solid=$solid encodedHeader=$enc") {
      val in = docs(7)
      val bytes = Sevenz.write(in, coder = coder, solid = solid, encodedHeader = enc)
      assert(Sevenz.isSevenz(bytes))
      val out = Sevenz.readEntries(bytes)
      assert(out.map(_.name) == in.map(_._1))
      out.zip(in).foreach { case (got, (_, want)) =>
        assert(got.payload.sameElements(want), s"payload drift in ${got.name}")
      }
      assert(Sevenz.coderNames(bytes) ==
        (if (coder == "lzma") "lzma" else coder))
    }
  }

  test("solid archives really are one folder; non-solid one per member") {
    val in = docs(5)
    // solid: a flipped byte ANYWHERE in the single folder breaks extraction
    val solidBytes = Sevenz.write(in, coder = "copy", solid = true)
    val nonSolid = Sevenz.write(in, coder = "copy", solid = false)
    // the solid archive stores the concatenation once → smaller header side
    assert(Sevenz.readEntries(solidBytes).length == 5)
    assert(Sevenz.readEntries(nonSolid).length == 5)
    // corrupt the LAST member's payload region in both
    def corruptTail(b: Array[Byte]): Array[Byte] = {
      val c = b.clone()
      val at = 32 + in.map(_._2.length).sum - 2 // inside the last member
      c(at) = (c(at) ^ 1).toByte
      c
    }
    val e1 = intercept[IllegalArgumentException](Sevenz.readEntries(corruptTail(solidBytes)))
    assert(e1.getMessage.contains("CRC"))
    val e2 = intercept[IllegalArgumentException](Sevenz.readEntries(corruptTail(nonSolid)))
    assert(e2.getMessage.contains("CRC"))
  }

  test("substream CRCs pin every member of a solid LZMA2 archive") {
    val in = docs(6)
    val bytes = Sevenz.write(in, coder = "lzma2", solid = true)
    val out = Sevenz.readEntries(bytes)
    assert(out.length == 6 && out.zip(in).forall { case (g, (_, w)) => g.payload.sameElements(w) })
  }

  test("encoded header decodes through the LZMA2 core and verifies its CRC") {
    val in = docs(40) // enough names that compressing the header pays
    val bytes = Sevenz.write(in, coder = "lzma2", solid = true, encodedHeader = true)
    val want = Sevenz.readEntries(bytes)
    assert(want.length == 40)
    // the packed header blob ends right before the kEncodedHeader stub
    // (at 32 + NextHeaderOffset). Flip each of its last 64 bytes: every
    // flip must either reject by name or — when it lands in the range
    // coder's unread flush tail — decode to the EXACT same archive (the
    // header CRC makes silent-wrong impossible).
    val stubAt = 32 + {
      var v = 0L; (0 until 8).foreach(i => v |= (bytes(12 + i) & 0xffL) << (8 * i)); v.toInt
    }
    var threw = 0
    (1 to 64).foreach { off =>
      val c = bytes.clone()
      c(stubAt - off) = (c(stubAt - off) ^ 0x40).toByte
      try {
        val got = Sevenz.readEntries(c)
        assert(got.map(_.name) == want.map(_.name) &&
          got.zip(want).forall { case (g, w) => g.payload.sameElements(w.payload) },
          s"silent-wrong decode with packed-header byte -$off flipped")
      } catch { case _: IllegalArgumentException => threw += 1 }
    }
    assert(threw >= 32, s"only $threw/64 packed-header flips were detected")
  }

  // ---- named rejects ---------------------------------------------------

  test("AES-encrypted archives reject by NAME") {
    // splice the 7zAES coder id (06 F1 07 01) into a hand-built header
    val payload = "x".getBytes
    val hdr = new java.io.ByteArrayOutputStream()
    def w(vs: Int*): Unit = vs.foreach(v => hdr.write(v & 0xff))
    w(0x01, 0x04, 0x06, 0x00, 0x01, 0x09, 0x01, 0x00)
    w(0x07, 0x0B, 0x01, 0x00)
    w(0x01, 0x04, 0x06, 0xF1, 0x07, 0x01) // 1 coder, idSize=4, 7zAES
    w(0x0C, 0x01, 0x00, 0x00)
    w(0x05, 0x01, 0x11, 5, 0x00, 'x', 0, 0, 0, 0x00, 0x00)
    val header = hdr.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
    out.write(0); out.write(4)
    val start = new Array[Byte](20)
    start(0) = 1; start(8) = header.length.toByte
    val hc = crc(header)
    (0 until 4).foreach(i => start(16 + i) = ((hc >>> (8 * i)) & 0xff).toByte)
    val sc = crc(start)
    (0 until 4).foreach(i => out.write(((sc >>> (8 * i)) & 0xff).toInt))
    out.write(start); out.write(payload); out.write(header)
    val e = intercept[IllegalArgumentException](Sevenz.readEntries(out.toByteArray))
    assert(e.getMessage.contains("encrypted archive (AES-256)"), e.getMessage)
  }

  test("truncation anywhere is a named reject — never silent-wrong output") {
    // the header lives at the END of a 7z file, so EVERY truncation must
    // reject: the start-header ranges or the next-header CRC cannot hold
    val full = Sevenz.write(docs(4), coder = "lzma2", solid = true)
    for (cut <- Seq(0, 5, 20, 31, 32, full.length / 2, full.length - 1)) {
      val t = java.util.Arrays.copyOf(full, cut)
      val e = intercept[IllegalArgumentException](Sevenz.readEntries(t))
      assert(e.getMessage.contains("7z"), s"cut=$cut: ${e.getMessage}")
    }
  }

  test("a bit flipped ANYWHERE in a solid lzma2 archive never decodes silently wrong") {
    val full = Sevenz.write(docs(3), coder = "lzma2", solid = true)
    val want = Sevenz.readEntries(full).map(_.payload.toSeq)
    val rnd = new scala.util.Random(7)
    var checked = 0
    (0 until 200).foreach { _ =>
      val at = rnd.nextInt(full.length)
      val bit = 1 << rnd.nextInt(8)
      val c = full.clone()
      c(at) = (c(at) ^ bit).toByte
      try {
        val got = Sevenz.readEntries(c)
        // a flip in skipped metadata (e.g. a name char) may legitimately
        // succeed — but payloads must still be EXACTLY right
        assert(got.map(_.payload.toSeq) == want, s"silent-wrong at byte $at")
        checked += 1
      } catch { case _: IllegalArgumentException => () }
    }
    assert(checked < 200, "corruption was never detected at all")
  }

  test("empty archive (zero-length next header) yields zero entries") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C))
    out.write(0); out.write(4)
    val start = new Array[Byte](20) // offset 0, size 0, crc 0
    val sc = crc(start)
    (0 until 4).foreach(i => out.write(((sc >>> (8 * i)) & 0xff).toInt))
    out.write(start)
    assert(Sevenz.readEntries(out.toByteArray).isEmpty)
  }

  test("the variable-length number codec round-trips the full range") {
    // exercised indirectly through headers whose counts/sizes span byte
    // widths: names long enough to push property sizes past one byte
    val big = (0 until 300).map(i =>
      (s"deep/nested/path/segment/$i/name-$i.txt", s"body $i".getBytes(StandardCharsets.UTF_8)))
    val bytes = Sevenz.write(big, coder = "copy", solid = true)
    val back = Sevenz.readEntries(bytes)
    assert(back.length == 300)
    assert(back.map(_.name) == big.map(_._1))
    assert(back.zip(big).forall { case (g, (_, w)) => g.payload.sameElements(w) })
  }
}
