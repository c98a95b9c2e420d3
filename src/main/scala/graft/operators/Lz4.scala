package graft.operators

/** LZ4 — the byte-oriented LZ77 family member the Hadoop ecosystem and
  * kernel-adjacent tooling ship (`.tar.lz4`, parquet/orc codec pages,
  * container images). From-scratch structural implementation of the
  * PUBLIC formats (lz4.org frame spec v1.6.x + block spec):
  *
  *  - **Block format**: sequences of `token | literal-length ext |
  *    literals | offset(2 LE) | match-length ext`, matches copied from
  *    the already-decoded window (overlap allowed, offset 0 invalid);
  *    the last sequence is literals-only.
  *  - **Frame format** (magic `04 22 4D 18`): FLG/BD descriptor with an
  *    xxHash32 header checksum, 4-byte-LE-size blocks (high bit =
  *    stored), optional per-block checksums, EndMark, optional content
  *    checksum — all verified, never decorative. Skippable frames
  *    (`5x 2A 4D 18`) are skipped by their declared size; dictionaries
  *    are out of profile (named reject).
  *  - **Legacy frame** (magic `02 21 4C 18`, `lz4 -l`): headerless
  *    8 MiB-block stream, terminated by EOF or a next frame magic.
  *
  * xxHash32 (the frame spec's designated checksum) is lz4-java's, which
  * ships with Spark.
  *
  * Every stage is BOUNDED: block sizes are capped by the descriptor's
  * BD code, the caller passes a total output cap, and a crafted stream
  * costs one bounded pass, never a hang or the heap.
  *
  * The [[compress]] half is a real greedy encoder (hash-chain-free
  * single-probe table, spec end-of-block restrictions respected) whose
  * output the canonical `lz4` CLI reads back — `Lz4Spec` shells out to
  * it when present, and the committed goldens were produced by it.
  *
  * Scale shape: per-record scalar decode inside the archive explode,
  * like gzip/zstd/xz.
  */
object Lz4 {

  final val FrameMagic = 0x184D2204
  final val LegacyMagic = 0x184C2102
  final val LegacyBlockSize = 8 << 20

  def isLz4(b: Array[Byte]): Boolean =
    b.length >= 4 && (leU32(b, 0) == FrameMagic.toLong ||
      leU32(b, 0) == (LegacyMagic & 0xFFFFFFFFL) || isSkippable(b, 0))

  private def isSkippable(b: Array[Byte], p: Int): Boolean =
    p + 4 <= b.length && (leU32(b, p) & 0xFFFFFFF0L) == 0x184D2A50L

  private def leU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  // ------------------------------------------------------------- xxHash32

  private val xxHash32 = net.jpountz.xxhash.XXHashFactory.safeInstance().hash32()

  /** xxHash32 over `b[from, until)` — the frame format's checksum. */
  def xxh32(b: Array[Byte], from: Int, until: Int, seed: Int = 0): Int =
    xxHash32.hash(b, from, until - from, seed)

  // ------------------------------------------------------- block decoder

  /** Decode one LZ4 block into `out` (growable window shared across
    * blocks of a frame — linked blocks match into prior output). Returns
    * the decoded byte count. `blockStart` is where THIS frame's window
    * begins (block-independent frames reset it per block).
    */
  private def decodeBlock(b: Array[Byte], from: Int, until: Int,
      window: Grow, windowStart: Int, maxOut: Int): Unit = {
    var p = from
    while (p < until) {
      val token = b(p) & 0xff
      p += 1
      // ---- literals
      var litLen = token >>> 4
      if (litLen == 15) {
        var ext = 255
        while (ext == 255) {
          require(p < until, "lz4: literal-length run past the block")
          ext = b(p) & 0xff
          litLen += ext
          p += 1
        }
      }
      require(p + litLen <= until, "lz4: literals past the block")
      require(window.size + litLen <= maxOut, "lz4: output past the cap")
      window.put(b, p, litLen)
      p += litLen
      if (p == until) {
        // last sequence: literals only — the token's match nibble is
        // ignored by the format here
        return
      }
      // ---- match
      require(p + 2 <= until, "lz4: match offset truncated")
      val offset = ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
      p += 2
      require(offset > 0, "lz4: zero match offset")
      require(offset <= window.size - windowStart,
        "lz4: match offset reaches before the window")
      var matchLen = (token & 0x0f) + 4
      if ((token & 0x0f) == 15) {
        var ext = 255
        while (ext == 255) {
          require(p < until, "lz4: match-length run past the block")
          ext = b(p) & 0xff
          matchLen += ext
          p += 1
        }
      }
      require(window.size + matchLen <= maxOut, "lz4: output past the cap")
      window.copyBack(offset, matchLen)
    }
  }

  /** Growable output window — matches need random access to decoded
    * bytes, so a plain ByteArrayOutputStream cannot serve.
    */
  private final class Grow(hint: Int) {
    var buf = new Array[Byte](math.max(64, hint))
    var size = 0
    private def ensure(n: Int): Unit = {
      if (size + n > buf.length) {
        var cap = buf.length
        while (cap < size + n) cap = cap << 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    }
    def put(b: Array[Byte], from: Int, len: Int): Unit = {
      ensure(len)
      System.arraycopy(b, from, buf, size, len)
      size += len
    }
    def copyBack(offset: Int, len: Int): Unit = {
      ensure(len)
      // overlap is the format's RLE idiom — byte-at-a-time when needed
      if (offset >= len) {
        System.arraycopy(buf, size - offset, buf, size, len)
        size += len
      } else {
        var i = 0
        var src = size - offset
        while (i < len) { buf(size) = buf(src); size += 1; src += 1; i += 1 }
      }
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, size)
  }

  // ------------------------------------------------------- frame decoder

  private final val BlockMaxByCode =
    Map(4 -> (64 << 10), 5 -> (256 << 10), 6 -> (1 << 20), 7 -> (4 << 20))

  /** Decode a `.lz4` file: modern frames, legacy frames, and skippable
    * frames in any concatenation (the CLI's own append semantics).
    * Every declared checksum is verified; `maxOut` bounds the TOTAL
    * output across all frames.
    */
  def decompress(b: Array[Byte], maxOut: Int = 256 << 20): Array[Byte] = {
    require(b.length >= 4, "lz4: truncated before the frame magic")
    val window = new Grow(math.min(maxOut, math.max(64, b.length * 3)))
    var p = 0
    var frames = 0
    while (p < b.length) {
      require(p + 4 <= b.length, "lz4: truncated frame magic")
      val magic = leU32(b, p)
      if (magic == FrameMagic.toLong) p = decodeFrame(b, p, window, maxOut)
      else if (magic == (LegacyMagic & 0xFFFFFFFFL)) p = decodeLegacy(b, p, window, maxOut)
      else if (isSkippable(b, p)) {
        require(p + 8 <= b.length, "lz4: skippable frame size truncated")
        val size = leU32(b, p + 4)
        require(p + 8 + size <= b.length, "lz4: skippable frame truncated")
        p += 8 + size.toInt
      } else throw new IllegalArgumentException(
        f"lz4: bad frame magic 0x$magic%08X at offset $p")
      frames += 1
    }
    require(frames > 0, "lz4: no frames")
    window.result()
  }

  /** One modern frame starting at `p`; returns the offset past it. */
  private def decodeFrame(b: Array[Byte], start: Int, window: Grow,
      maxOut: Int): Int = {
    var p = start + 4
    require(p + 3 <= b.length, "lz4: frame descriptor truncated")
    val flg = b(p) & 0xff
    val bd = b(p + 1) & 0xff
    require((flg >>> 6) == 1, s"lz4: unsupported frame version ${flg >>> 6}")
    require((flg & 0x02) == 0, "lz4: reserved FLG bit set")
    val blockIndep = (flg & 0x20) != 0
    val blockChecksum = (flg & 0x10) != 0
    val hasContentSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    require((flg & 0x01) == 0, "lz4: dictionaries are out of profile")
    require((bd & 0x8f) == 0, "lz4: reserved BD bits set")
    val blockMax = BlockMaxByCode.getOrElse((bd >>> 4) & 0x7,
      throw new IllegalArgumentException(
        s"lz4: bad block-max-size code ${(bd >>> 4) & 0x7}"))
    val descEnd = p + 2 + (if (hasContentSize) 8 else 0)
    require(descEnd + 1 <= b.length, "lz4: frame descriptor truncated")
    val declaredSize =
      if (hasContentSize)
        (0 until 8).map(i => (b(p + 2 + i) & 0xffL) << (8 * i)).sum
      else -1L
    val hc = (xxh32(b, p, descEnd) >>> 8) & 0xff
    require((b(descEnd) & 0xff) == hc, "lz4: header checksum mismatch")
    p = descEnd + 1
    val frameStart = window.size
    var done = false
    while (!done) {
      require(p + 4 <= b.length, "lz4: block size truncated")
      val sizeWord = leU32(b, p)
      p += 4
      if (sizeWord == 0) done = true
      else {
        val stored = (sizeWord & 0x80000000L) != 0
        val size = (sizeWord & 0x7FFFFFFFL).toInt
        require(size <= blockMax, "lz4: block larger than the declared maximum")
        require(p + size <= b.length, "lz4: block truncated")
        val blockStart = if (blockIndep) window.size else frameStart
        if (stored) {
          require(window.size + size <= maxOut, "lz4: output past the cap")
          window.put(b, p, size)
        } else decodeBlock(b, p, p + size, window, blockStart, maxOut)
        p += size
        if (blockChecksum) {
          require(p + 4 <= b.length, "lz4: block checksum truncated")
          require(leU32(b, p).toInt == xxh32(b, p - size, p),
            "lz4: block checksum mismatch")
          p += 4
        }
      }
    }
    if (declaredSize >= 0)
      require(window.size - frameStart == declaredSize,
        "lz4: content-size record drift")
    if (contentChecksum) {
      require(p + 4 <= b.length, "lz4: content checksum truncated")
      require(leU32(b, p).toInt == xxh32(window.buf, frameStart, window.size),
        "lz4: content checksum mismatch")
      p += 4
    }
    p
  }

  /** One legacy frame (`lz4 -l`): 4-byte block sizes, EOF- or
    * next-magic-terminated. A "block size" matching any frame magic ends
    * the legacy frame (the CLI's own concatenation rule).
    */
  private def decodeLegacy(b: Array[Byte], start: Int, window: Grow,
      maxOut: Int): Int = {
    var p = start + 4
    val frameStart = window.size
    var done = p >= b.length
    while (!done) {
      if (p + 4 > b.length) {
        require(p == b.length, "lz4: legacy block size truncated")
        done = true
      } else {
        val word = leU32(b, p)
        if (word == FrameMagic.toLong || word == (LegacyMagic & 0xFFFFFFFFL) ||
          isSkippable(b, p)) done = true
        else {
          val size = word.toInt
          require(size > 0 && p + 4 + size <= b.length, "lz4: legacy block truncated")
          p += 4
          val before = window.size
          decodeBlock(b, p, p + size, window, frameStart, maxOut)
          require(window.size - before <= LegacyBlockSize,
            "lz4: legacy block output past 8 MiB")
          p += size
        }
      }
    }
    p
  }

  // ------------------------------------------------------------- encoder

  /** Greedy LZ4 block encoder: single-probe hash table over 4-byte
    * windows, forward match extension, spec end-of-block restrictions
    * (last 5 bytes literal, no match starting within the last 12). The
    * canonical CLI decodes the output (`Lz4Spec` proves it when the
    * binary is present).
    */
  private def encodeBlock(src: Array[Byte], from: Int, until: Int,
      out: java.io.ByteArrayOutputStream): Unit = {
    val len = until - from
    val hashBits = 16
    val table = new Array[Int](1 << hashBits)
    java.util.Arrays.fill(table, -1)
    def hash(p: Int): Int = {
      val v = (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8) |
        ((src(p + 2) & 0xff) << 16) | ((src(p + 3) & 0xff) << 24)
      (v * -1640531535) >>> (32 - hashBits) // Knuth multiplicative
    }
    def writeLen(first: Int, rest: Int): Unit = {
      if (first == 15) {
        var r = rest
        while (r >= 255) { out.write(255); r -= 255 }
        out.write(r)
      }
    }
    var anchor = from
    var p = from
    val matchLimit = until - 5 // last 5 bytes must be literals
    val searchLimit = until - 12 // no match may start in the final 12
    while (p < searchLimit) {
      val h = hash(p)
      val cand = table(h)
      table(h) = p
      if (cand >= from && p - cand <= 65535 &&
        src(cand) == src(p) && src(cand + 1) == src(p + 1) &&
        src(cand + 2) == src(p + 2) && src(cand + 3) == src(p + 3)) {
        // extend
        var m = 4
        while (p + m < matchLimit && src(cand + m) == src(p + m)) m += 1
        val litLen = p - anchor
        val mlToken = math.min(15, m - 4)
        out.write((math.min(15, litLen) << 4) | mlToken)
        writeLen(math.min(15, litLen), litLen - 15)
        out.write(src, anchor, litLen)
        val offset = p - cand
        out.write(offset & 0xff)
        out.write((offset >>> 8) & 0xff)
        writeLen(mlToken, m - 4 - 15)
        p += m
        anchor = p
      } else p += 1
    }
    // trailing literals
    val litLen = until - anchor
    out.write(math.min(15, litLen) << 4)
    writeLen(math.min(15, litLen), litLen - 15)
    out.write(src, anchor, litLen)
  }

  /** Write a modern single-frame `.lz4` (64 KiB independent blocks,
    * content checksum on — the CLI's own defaults) the canonical tool
    * accepts. Blocks whose encoding does not shrink are stored, exactly
    * like `lz4` itself.
    */
  def compress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u32le(v: Int): Unit =
      (0 until 4).foreach(i => out.write((v >>> (8 * i)) & 0xff))
    u32le(FrameMagic)
    val desc = Array[Byte](0x64.toByte, 0x40.toByte) // v01 indep+ccheck, 64K
    out.write(desc)
    out.write((xxh32(desc, 0, 2) >>> 8) & 0xff)
    val blockMax = 64 << 10
    var off = 0
    while (off < data.length) {
      val take = math.min(blockMax, data.length - off)
      val enc = new java.io.ByteArrayOutputStream()
      if (take >= 13) encodeBlock(data, off, off + take, enc)
      val packed = enc.toByteArray
      if (packed.nonEmpty && packed.length < take) {
        u32le(packed.length)
        out.write(packed)
      } else {
        u32le(take | 0x80000000)
        out.write(data, off, take)
      }
      off += take
    }
    u32le(0) // EndMark
    u32le(xxh32(data, 0, data.length))
    out.toByteArray
  }

  /** Write a legacy frame (`lz4 -l`'s kernel flavor): magic + size-
    * prefixed compressed blocks, one per 8 MiB of input, no checksums —
    * exactly what the format offers. The canonical CLI reads it back.
    */
  def compressLegacy(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u32le(v: Int): Unit =
      (0 until 4).foreach(i => out.write((v >>> (8 * i)) & 0xff))
    u32le(LegacyMagic)
    var off = 0
    while (off < data.length) {
      val take = math.min(LegacyBlockSize, data.length - off)
      val enc = new java.io.ByteArrayOutputStream()
      encodeBlock(data, off, off + take, enc)
      val packed = enc.toByteArray
      u32le(packed.length)
      out.write(packed)
      off += take
    }
    out.toByteArray
  }

  /** Which container the payload leads with — "frame", "legacy", or
    * "skippable" — the triage twin of `Xz.checkName`.
    */
  def containerName(b: Array[Byte]): String = {
    require(b.length >= 4, "lz4: truncated before the frame magic")
    val magic = leU32(b, 0)
    if (magic == FrameMagic.toLong) "frame"
    else if (magic == (LegacyMagic & 0xFFFFFFFFL)) "legacy"
    else if (isSkippable(b, 0)) "skippable"
    else throw new IllegalArgumentException(
      f"lz4: bad frame magic 0x$magic%08X at offset 0")
  }
}
