package graft.operators

/** xz / LZMA — the OTHER compression the big public corpora ship in
  * (kernel/source tarballs as `.tar.xz`, Wikimedia mirrors, many dataset
  * mirrors), in three shapes:
  *
  *  - the .xz container ("The .xz File Format", tukaani.org spec): CRC'd
  *    stream header, blocks with an LZMA2 filter chain, a check of the
  *    UNCOMPRESSED bytes (none / CRC32 / CRC-64 / SHA-256), an index and
  *    a footer; MULTISTREAM concatenations with 4-aligned null padding;
  *  - the legacy `.lzma` (LZMA_ALONE) format;
  *  - the raw LZMA1 / LZMA2 streams 7z folders carry.
  *
  * Decoding is xz-java (`org.tukaani.xz`, shipped with Spark), which
  * verifies every CRC and check, the index against the blocks read and
  * the footer's backward pointer. This object adds what the library does
  * not enforce: the caller's output cap, exhausted input after a `.lzma`
  * end marker or a raw stream, the declared unpack sizes, and a memory
  * cap on the dictionary a header declares (xz-java allocates it before
  * reading any payload). Every failure is an `IllegalArgumentException`
  * named `xz:`, `lzma:` or `lzma2:`.
  *
  * The writers are our own and deterministic: a greedy LZMA1 encoder
  * (hash-chain matches, rep0 runs, matched-byte literals) behind the xz,
  * `.lzma` and raw 7z shapes, or stored LZMA2 chunks — fixtures any xz
  * implementation decodes, while canonical-tool goldens pin the decode
  * path (`XzSpec`).
  *
  * Scale shape: identical to gzip/zstd/bzip2 — one member per record,
  * bounded per-record decode inside the archive explode, no native
  * resources, nothing crosses an exchange.
  */
object Xz {

  final val Magic = Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0)

  def isXz(b: Array[Byte]): Boolean =
    b.length >= 12 && (0 until 6).forall(i => b(i) == Magic(i))

  /** CRC-64/XZ (ECMA-182 polynomial, reflected, init/final ~0). */
  private[operators] def crc64(b: Array[Byte], from: Int, until: Int): Long = {
    val c = new org.tukaani.xz.check.CRC64
    c.update(b, from, until - from)
    java.nio.ByteBuffer.wrap(c.finish()).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }

  private def crc32(b: Array[Byte], from: Int, until: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, from, until - from)
    c.getValue
  }

  private final val ProbInit: Short = 1024 // (1 << 11) / 2

  /** The encoder's LZMA model, kept across LZMA2 chunks until a state
    * reset: probability models, the 12-state machine, rep distances.
    */
  private final class LzmaState {
    var lc = 0
    var lp = 0
    var pb = 0
    var state = 0
    var rep0 = 0
    var rep1 = 0
    var rep2 = 0
    var rep3 = 0
    var lit: Array[Short] = null
    val isMatch = new Array[Short](12 << 4)
    val isRep = new Array[Short](12)
    val isRepG0 = new Array[Short](12)
    val isRepG1 = new Array[Short](12)
    val isRepG2 = new Array[Short](12)
    val isRep0Long = new Array[Short](12 << 4)
    val posSlot = new Array[Short](4 << 6)
    val specPos = new Array[Short](115)
    val align = new Array[Short](16)
    // len coders: [choice, choice2, low 16*8, mid 16*8, high 256]
    val len = new Array[Short](2 + 16 * 8 + 16 * 8 + 256)
    val repLen = new Array[Short](2 + 16 * 8 + 16 * 8 + 256)

    def setProps(prop: Int): Unit = {
      lc = prop % 9
      val rest = prop / 9
      lp = rest % 5
      pb = rest / 5
      lit = new Array[Short](0x300 << (lc + lp))
      resetState()
    }
    def resetState(): Unit = {
      state = 0
      rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      java.util.Arrays.fill(isMatch, ProbInit)
      java.util.Arrays.fill(isRep, ProbInit)
      java.util.Arrays.fill(isRepG0, ProbInit)
      java.util.Arrays.fill(isRepG1, ProbInit)
      java.util.Arrays.fill(isRepG2, ProbInit)
      java.util.Arrays.fill(isRep0Long, ProbInit)
      java.util.Arrays.fill(posSlot, ProbInit)
      java.util.Arrays.fill(specPos, ProbInit)
      java.util.Arrays.fill(align, ProbInit)
      java.util.Arrays.fill(len, ProbInit)
      java.util.Arrays.fill(repLen, ProbInit)
      if (lit != null) java.util.Arrays.fill(lit, ProbInit)
    }
  }

  // ------------------------------------------------------------- decoders

  private final val CheckNames = Map(0 -> "none", 1 -> "crc32", 4 -> "crc64", 10 -> "sha256")

  /** The stream's declared check type, read off the header flags — the
    * observable a listing query reports (and an oracle predicts).
    */
  def checkName(b: Array[Byte]): String = {
    require(isXz(b), "xz: missing stream header magic")
    CheckNames.getOrElse(b(7) & 0xff, f"0x${b(7) & 0xff}%02X")
  }

  /** The largest dictionary an xz preset declares (`xz -9`), allowed
    * under any output cap so that no canonical file is refused for it.
    */
  private final val PresetDictMax = 64 << 20

  /** xz-java's memory limit (KiB) for a decode capped at `maxOut`: a
    * dictionary larger than both the cap and [[PresetDictMax]] can only
    * serve a hostile header, so it costs a named reject, not the
    * allocation. The 8 MiB covers the decoder state next to the
    * dictionary (LZMA1 literal tables reach 6 MiB at lc+lp = 12).
    */
  private def memLimitKiB(maxOut: Int): Int = (math.max(maxOut, PresetDictMax) >> 10) + 8192

  /** Decompress a whole xz payload (multistream supported; total output
    * capped at `maxOut`; dictionaries capped by [[memLimitKiB]]).
    */
  def decompress(b: Array[Byte], maxOut: Int = 256 << 20): Array[Byte] = {
    require(isXz(b), "xz: missing stream header magic")
    Gunzip.decodeCapped("xz", maxOut)(new org.tukaani.xz.XZInputStream(
      new java.io.ByteArrayInputStream(b), memLimitKiB(maxOut)))
  }

  /** Decode the legacy LZMA_ALONE (.lzma) format: 1-byte props, LE32
    * dictionary size, LE64 uncompressed size (-1 = unknown, terminated
    * by the end marker — what both `xz --format=lzma` and liblzma
    * one-shot compression emit). The format has no integrity check;
    * truncation, size drift, an unfinished range coder and bytes after
    * the stream are still named rejects.
    */
  def decompressLzmaAlone(b: Array[Byte], maxOut: Int = 256 << 20): Array[Byte] = {
    val in = new java.io.ByteArrayInputStream(b)
    val out = Gunzip.decodeCapped("lzma", maxOut)(
      new org.tukaani.xz.LZMAInputStream(in, memLimitKiB(maxOut)))
    require(in.available() == 0,
      s"lzma: trailing garbage after stream end (offset ${b.length - in.available()})")
    out
  }

  /** Raw LZMA1 stream as 7z folders carry it: the props byte lives in
    * the coder attributes, the stream is bare and normally has NO end
    * marker (the container records both sizes). Decodes exactly
    * `unpackSize` bytes from `b[from, until)`; an end marker at exactly
    * the declared size is accepted. The dictionary is the declared
    * size, whatever the coder attributes claim — it never needs more.
    * The range-coder flush leaves up to 5 unread tail bytes — more is a
    * named reject.
    */
  private[operators] def decodeRawLzma1(b: Array[Byte], from: Int, until: Int,
      props: Int, unpackSize: Long, maxOut: Int): Array[Byte] = {
    require(unpackSize >= 0 && unpackSize <= maxOut,
      s"lzma: declared size $unpackSize past the cap")
    val in = new java.io.ByteArrayInputStream(b, from, until - from)
    val out = Gunzip.decodeCapped("lzma", maxOut) {
      val lz = new org.tukaani.xz.LZMAInputStream(in, unpackSize, props.toByte, unpackSize.toInt)
      lz.enableRelaxedEndCondition() // liblzma's raw/alone encoders may add the marker
      lz
    }
    require(out.length == unpackSize, "lzma: size drift")
    require(in.available() <= 5, "lzma: trailing garbage after the declared stream")
    out
  }

  /** Raw LZMA2 chunk stream (7z's LZMA2 coder payload — an xz block
    * body, 0x00 end marker included), with a dictionary of the declared
    * unpack size.
    */
  private[operators] def decodeRawLzma2(b: Array[Byte], from: Int, until: Int,
      unpackSize: Long, maxOut: Int): Array[Byte] = {
    require(unpackSize >= 0 && unpackSize <= maxOut,
      s"lzma2: declared size $unpackSize past the cap")
    val in = new java.io.ByteArrayInputStream(b, from, until - from)
    val out = Gunzip.decodeCapped("lzma2", maxOut)(
      new org.tukaani.xz.LZMA2InputStream(in, math.max(unpackSize, 4096L).toInt))
    require(in.available() == 0, "lzma2: trailing garbage after the end marker")
    require(out.length == unpackSize, "lzma2: size drift")
    out
  }

  // ------------------------------------------------------ LZMA1 encoder

  /** The carry-correct binary range ENCODER (LZMA SDK semantics): 33-bit
    * low with byte cache for carry propagation; the initial cache emits
    * the mandatory leading zero byte of every LZMA stream.
    */
  private final class RangeEnc(out: java.io.ByteArrayOutputStream) {
    private var low = 0L
    private var range = -1 // 0xFFFFFFFF
    private var cache = 0
    private var cacheSize = 1L
    private def shiftLow(): Unit = {
      if (low < 0xFF000000L || low > 0xFFFFFFFFL) {
        var c = cache
        var n = cacheSize
        while (n != 0) {
          out.write(((c + (low >>> 32)) & 0xff).toInt)
          c = 0xFF
          n -= 1
        }
        cacheSize = 0
        cache = ((low >>> 24) & 0xff).toInt
      }
      cacheSize += 1
      low = (low << 8) & 0xFFFFFFFFL
    }
    def encodeBit(probs: Array[Short], i: Int, bit: Int): Unit = {
      val p = probs(i)
      val bound = (range >>> 11) * p
      if (bit == 0) {
        range = bound
        probs(i) = (p + ((2048 - p) >>> 5)).toShort
      } else {
        low += bound & 0xFFFFFFFFL
        range -= bound
        probs(i) = (p - (p >>> 5)).toShort
      }
      while ((range & 0xFF000000) == 0) { range <<= 8; shiftLow() }
    }
    def encodeDirect(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        range = range >>> 1
        if (((v >>> i) & 1) != 0) low += range & 0xFFFFFFFFL
        while ((range & 0xFF000000) == 0) { range <<= 8; shiftLow() }
        i -= 1
      }
    }
    def bitTree(probs: Array[Short], off: Int, nBits: Int, sym: Int): Unit = {
      var m = 1
      var i = nBits - 1
      while (i >= 0) {
        val bit = (sym >>> i) & 1
        encodeBit(probs, off + m, bit)
        m = (m << 1) | bit
        i -= 1
      }
    }
    def bitTreeReverse(probs: Array[Short], off: Int, nBits: Int, sym: Int): Unit = {
      var m = 1
      var i = 0
      while (i < nBits) {
        val bit = (sym >>> i) & 1
        encodeBit(probs, off + m, bit)
        m = (m << 1) + bit
        i += 1
      }
    }
    def flush(): Unit = (0 until 5).foreach(_ => shiftLow())
  }

  private def encodeLen(re: RangeEnc, probs: Array[Short], posState: Int,
      rawLen: Int): Unit =
    if (rawLen < 8) {
      re.encodeBit(probs, 0, 0)
      re.bitTree(probs, 2 + posState * 8, 3, rawLen)
    } else if (rawLen < 16) {
      re.encodeBit(probs, 0, 1)
      re.encodeBit(probs, 1, 0)
      re.bitTree(probs, 2 + 128 + posState * 8, 3, rawLen - 8)
    } else {
      re.encodeBit(probs, 0, 1)
      re.encodeBit(probs, 1, 1)
      re.bitTree(probs, 2 + 256, 8, rawLen - 16)
    }

  /** Greedy LZMA1 encoder over one input segment, mutating the shared
    * probability/state model (LZMA2 chunks with reset=0 continue it).
    * Emits literals (matched-byte mode after matches, mirroring the
    * decoder), rep0 matches for runs, and hash-chain normal matches.
    */
  private final class LzmaEnc(data: Array[Byte]) {
    val st = new LzmaState
    st.setProps((2 * 5 + 0) * 9 + 3) // lc=3 lp=0 pb=2, the default profile
    private val pbMask = 3
    // hash-chain match finder over the WHOLE input (dict continuity
    // across chunks comes free: positions are absolute)
    private val hashBits = 16
    private val head = Array.fill(1 << hashBits)(-1)
    private val prev = new Array[Int](data.length)
    private final val MaxTries = 32
    private final val MaxLen = 273
    private def hash4(p: Int): Int = {
      val h = (data(p) & 0xff) * 506832829 + (data(p + 1) & 0xff) * 65599 +
        (data(p + 2) & 0xff) * 257 + (data(p + 3) & 0xff)
      (h ^ (h >>> 15)) & ((1 << hashBits) - 1)
    }
    private def matchLen(a: Int, b: Int, limit: Int): Int = {
      var l = 0
      while (l < limit && data(a + l) == data(b + l)) l += 1
      l
    }
    /** Encode data[from, until) as one LZMA chunk body; returns the
      * packed bytes (range coder flushed).
      */
    def encodeChunk(from: Int, until: Int, endMark: Boolean = false): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val re = new RangeEnc(out)
      var pos = from
      while (pos < until) {
        val posState = pos & pbMask
        val lenLimit = math.min(MaxLen, until - pos)
        // rep0 candidate (cheap, carries runs), then hash-chain search
        var repLen = 0
        if (pos > st.rep0 && lenLimit >= 2) {
          repLen = matchLen(pos - st.rep0 - 1, pos, lenLimit)
        }
        var bestLen = 0
        var bestDist = 0
        if (lenLimit >= 4 && pos + 4 <= data.length) {
          val h = hash4(pos)
          var cand = head(h)
          var tries = MaxTries
          while (cand >= 0 && tries > 0) {
            val l = matchLen(cand, pos, lenLimit)
            if (l > bestLen) { bestLen = l; bestDist = pos - cand - 1 }
            cand = prev(cand)
            tries -= 1
          }
          prev(pos) = head(h)
          head(h) = pos
        }
        // choose: rep0 wins ties (cheaper code), normal match needs len>=3
        if (repLen >= 2 && repLen + 1 >= bestLen) {
          // rep0 match
          re.encodeBit(st.isMatch, (st.state << 4) + posState, 1)
          re.encodeBit(st.isRep, st.state, 1)
          re.encodeBit(st.isRepG0, st.state, 0)
          re.encodeBit(st.isRep0Long, (st.state << 4) + posState, 1)
          encodeLen(re, st.repLen, posState, repLen - 2)
          st.state = if (st.state < 7) 8 else 11
          insertHashes(pos, repLen, until)
          pos += repLen
        } else if (bestLen >= 3) {
          re.encodeBit(st.isMatch, (st.state << 4) + posState, 1)
          re.encodeBit(st.isRep, st.state, 0)
          val rawLen = bestLen - 2
          encodeLen(re, st.len, posState, rawLen)
          st.state = if (st.state < 7) 7 else 10
          encodeDistance(re, math.min(rawLen, 3), bestDist)
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
          st.rep0 = bestDist
          insertHashes(pos, bestLen, until)
          pos += bestLen
        } else {
          // literal
          re.encodeBit(st.isMatch, (st.state << 4) + posState, 0)
          val prevByte = if (pos == 0) 0 else data(pos - 1) & 0xff
          val litState = prevByte >>> (8 - st.lc) // lp=0
          val off = 0x300 * litState
          val sym = data(pos) & 0xff
          if (st.state >= 7) {
            var matchByte = data(pos - st.rep0 - 1) & 0xff
            var m = 1
            var i = 7
            var matched = true
            while (i >= 0) {
              val bit = (sym >>> i) & 1
              if (matched) {
                val matchBit = (matchByte >> 7) & 1
                matchByte = (matchByte << 1) & 0xff
                re.encodeBit(st.lit, off + ((1 + matchBit) << 8) + m, bit)
                if (matchBit != bit) matched = false
              } else re.encodeBit(st.lit, off + m, bit)
              m = (m << 1) | bit
              i -= 1
            }
          } else re.bitTree(st.lit, off, 8, sym)
          st.state = if (st.state < 4) 0 else if (st.state < 10) st.state - 3
          else st.state - 6
          pos += 1
        }
      }
      if (endMark) {
        // the LZMA end marker: a normal match with dist 0xFFFFFFFF
        val posState = until & pbMask
        re.encodeBit(st.isMatch, (st.state << 4) + posState, 1)
        re.encodeBit(st.isRep, st.state, 0)
        encodeLen(re, st.len, posState, 0)
        st.state = if (st.state < 7) 7 else 10
        encodeDistance(re, 0, -1)
      }
      re.flush()
      out.toByteArray
    }
    /** Register match-finder hashes for the skipped positions of a match
      * (position 0 of the span was registered during the search).
      */
    private def insertHashes(pos: Int, len: Int, until: Int): Unit = {
      var p = pos + 1
      val end = math.min(pos + len, math.min(until, data.length - 3))
      while (p < end) {
        val h = hash4(p)
        prev(p) = head(h)
        head(h) = p
        p += 1
      }
    }
    private def encodeDistance(re: RangeEnc, lenState: Int, dist: Int): Unit = {
      // unsigned: the end marker encodes dist 0xFFFFFFFF through slot 63
      val slot =
        if (java.lang.Integer.compareUnsigned(dist, 4) < 0) dist
        else {
          val nb = 32 - java.lang.Integer.numberOfLeadingZeros(dist)
          ((nb - 1) << 1) | ((dist >>> (nb - 2)) & 1)
        }
      re.bitTree(st.posSlot, lenState << 6, 6, slot)
      if (slot >= 4) {
        val directBits = (slot >> 1) - 1
        val base = (2 | (slot & 1)) << directBits
        val rem = dist - base
        if (slot < 14) re.bitTreeReverse(st.specPos, base - slot, directBits, rem)
        else {
          re.encodeDirect(rem >>> 4, directBits - 4)
          re.bitTreeReverse(st.align, 0, 4, rem & 15)
        }
      }
    }
  }

  /** The dict-size prop byte: smallest spec size ≥ `need` (sizes are
    * 2^(b/2+12) and 3·2^(b/2+11), per the LZMA2 filter spec).
    */
  private def dictByteFor(need: Int): Int = {
    var b = 0
    while (b < 40 && {
      val size = (2L | (b & 1)) << (b / 2 + 11)
      size < need
    }) b += 1
    b
  }

  // ---------------------------------------------- writers: .lzma and raw 7z

  /** The ALONE writer: unknown-size header + end marker (the canonical
    * producers' shape), greedy-LZMA compressed.
    */
  def compressLzmaAlone(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write((2 * 5 + 0) * 9 + 3) // lc=3 lp=0 pb=2
    val dictSize = (2L | (dictByteFor(math.max(4096,
      math.min(data.length, 1 << 26))) & 1)) <<
      (dictByteFor(math.max(4096, math.min(data.length, 1 << 26))) / 2 + 11)
    (0 until 4).foreach(i => out.write(((dictSize >>> (8 * i)) & 0xff).toInt))
    (0 until 8).foreach(_ => out.write(0xFF)) // size unknown: end marker
    val enc = new LzmaEnc(data)
    out.write(enc.encodeChunk(0, data.length, endMark = true))
    out.toByteArray
  }

  /** Raw LZMA1 encode (the 7z coder shape): `(propsByte, packed)` with
    * lc=3 lp=0 pb=2 and no end marker — the container carries the sizes.
    */
  private[operators] def compressRawLzma1(data: Array[Byte]): (Int, Array[Byte]) = {
    val enc = new LzmaEnc(data)
    ((2 * 5 + 0) * 9 + 3, enc.encodeChunk(0, data.length))
  }

  /** One LZMA2 chunk stream over `data`, end marker included — an xz
    * block body, and byte-identically 7z's LZMA2 coder payload. `mode`
    * as in [[compress]]: `"fast"` greedy LZMA with stored fallback,
    * `"store"` uncompressed chunks only.
    */
  private[operators] def lzma2Payload(data: Array[Byte], mode: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (mode == "store") {
      // uncompressed chunks (dict reset on the first)
      var off = 0
      var first = true
      while (off < data.length) {
        val take = math.min(1 << 16, data.length - off)
        out.write(if (first) 0x01 else 0x02)
        out.write(((take - 1) >> 8) & 0xff)
        out.write((take - 1) & 0xff)
        out.write(data, off, take)
        off += take
        first = false
      }
    } else {
      // greedy LZMA, one model across the block, stored fallback
      val enc = new LzmaEnc(data)
      val Seg = 60000 // stored fallback must fit one uncompressed chunk
      var off = 0
      var first = true
      var propsSent = false
      var needStateReset = false
      while (off < data.length) {
        val until = math.min(off + Seg, data.length)
        if (needStateReset) enc.st.resetState()
        val packed = enc.encodeChunk(off, until)
        val usize = until - off
        if (packed.length < usize && packed.length <= (1 << 16)) {
          val reset =
            if (first) 3 // the block's first chunk resets the dictionary
            else if (!propsSent) 2 // stored chunks came first: send props
            else if (needStateReset) 1
            else 0
          out.write(0x80 | (reset << 5) | ((usize - 1) >>> 16))
          out.write(((usize - 1) >>> 8) & 0xff)
          out.write((usize - 1) & 0xff)
          out.write(((packed.length - 1) >>> 8) & 0xff)
          out.write((packed.length - 1) & 0xff)
          if (reset >= 2) out.write((2 * 5 + 0) * 9 + 3) // lc=3 lp=0 pb=2
          out.write(packed)
          propsSent = true
          needStateReset = false
        } else {
          // incompressible segment: store it; LZMA2 requires a state
          // reset on the next LZMA chunk (and the decoder's model never
          // saw this trial encoding, so resetting keeps both in sync)
          out.write(if (first) 0x01 else 0x02)
          out.write(((usize - 1) >>> 8) & 0xff)
          out.write((usize - 1) & 0xff)
          out.write(data, off, usize)
          needStateReset = true
        }
        off = until
        first = false
      }
    }
    out.write(0x00) // LZMA2 end
    out.toByteArray
  }

  /** The LZMA2 dictionary-size props byte the writers advertise for a
    * payload of `n` bytes (smallest spec dictionary covering it).
    */
  private[operators] def lzma2DictByte(n: Int): Int =
    dictByteFor(math.max(4096, math.min(n, 1 << 26)))

  // --------------------------------------------------------------- writer

  private final val CheckSizes = Map(0 -> 0, 1 -> 4, 4 -> 8, 10 -> 32)

  /** Deterministic xz writer any xz implementation decodes: one block,
    * a single LZMA2 filter, correct padding, the chosen check, a
    * faithful index and footer. `check` ∈ none | crc32 | crc64 | sha256.
    * `mode` picks the LZMA2 payload:
    *
    *   - `"fast"` (default): REAL greedy LZMA compression — hash-chain
    *     match finder, rep0 runs, matched-byte literals — chunked with
    *     reset=0 continuation (one model across the block); a segment
    *     the encoder cannot shrink falls back to an uncompressed chunk
    *     (with the state reset LZMA2 requires after one);
    *   - `"store"`: uncompressed chunks only — the trivially-inspectable
    *     fixture shape.
    */
  def compress(data: Array[Byte], check: String = "crc32",
      mode: String = "fast"): Array[Byte] = {
    require(mode == "fast" || mode == "store", s"xz write: unknown mode '$mode'")
    val checkType = check match {
      case "none" => 0
      case "crc32" => 1
      case "crc64" => 4
      case "sha256" => 10
      case other => throw new IllegalArgumentException(s"xz write: unknown check '$other'")
    }
    val out = new java.io.ByteArrayOutputStream()
    def u32le(v: Long): Unit =
      (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    // ---- stream header
    out.write(Magic)
    out.write(0)
    out.write(checkType)
    u32le(crc32(Array[Byte](0, checkType.toByte), 0, 2))
    // ---- one block (an EMPTY payload is a zero-block stream, like xz's)
    var unpadded = -1L
    if (data.nonEmpty) {
      val blockStart = out.size()
      // 12-byte block header: sizeByte=(12/4)-1, flags=one filter/no size
      // fields, LZMA2 id, 1-byte props (smallest spec dict covering the
      // payload — match distances never exceed it), 3 pad, CRC32
      val dictByte = dictByteFor(math.max(4096, math.min(data.length, 1 << 26)))
      val body = Array[Byte](2, 0, 0x21, 1, dictByte.toByte, 0, 0, 0)
      out.write(body)
      u32le(crc32(body, 0, body.length))
      val headerSize = body.length + 4
      val payload = lzma2Payload(data, mode)
      out.write(payload)
      val compressed = payload.length
      while ((out.size() - blockStart) % 4 != 0) out.write(0)
      checkType match {
        case 0 => ()
        case 1 => u32le(crc32(data, 0, data.length))
        case 4 =>
          val c = crc64(data, 0, data.length)
          (0 until 8).foreach(i => out.write(((c >>> (8 * i)) & 0xff).toInt))
        case 10 =>
          out.write(java.security.MessageDigest.getInstance("SHA-256").digest(data))
      }
      unpadded = headerSize.toLong + compressed + CheckSizes(checkType)
    }
    // ---- index
    def varintBytes(v: Long): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      var x = v
      while ({ val b7 = (x & 0x7f).toInt; x >>>= 7
        if (x != 0) o.write(b7 | 0x80) else o.write(b7); x != 0 }) ()
      o.toByteArray
    }
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0)
    if (data.nonEmpty) {
      idx.write(varintBytes(1L))
      idx.write(varintBytes(unpadded))
      idx.write(varintBytes(data.length.toLong))
    } else idx.write(varintBytes(0L))
    while (idx.size() % 4 != 0) idx.write(0)
    val idxb = idx.toByteArray
    out.write(idxb)
    u32le(crc32(idxb, 0, idxb.length))
    val indexSize = idxb.length + 4
    // ---- footer
    val tail = new Array[Byte](6)
    val bw = (indexSize / 4) - 1
    (0 until 4).foreach(i => tail(i) = ((bw >>> (8 * i)) & 0xff).toByte)
    tail(4) = 0
    tail(5) = checkType.toByte
    u32le(crc32(tail, 0, 6))
    out.write(tail)
    out.write('Y')
    out.write('Z')
    out.toByteArray
  }
}
