package graft.operators

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream

/** bzip2 — the block-sorting compressor two decades of public corpora
  * ship in (Wikipedia dumps are `.xml.bz2`; old crawls carry
  * `.tar.bz2`). Decoding is commons-compress's
  * `BZip2CompressorInputStream` (shipped with Spark): both CRCs
  * verified, legacy randomized blocks decoded as `bzip2 -dc` does. This
  * object adds the caller's total output cap and names every failure
  * `bzip2:` (an `IllegalArgumentException`) — a crafted stream costs one
  * bounded pass, never a hang or the heap.
  *
  * The [[compress]] half exists for deterministic fixtures: a valid,
  * unsophisticated encoder of the public bzip2 1.0 stream layout
  * (single block per ~N bytes, two identical uniform-length Huffman
  * tables — the format's minimum group count) whose output any
  * conformant decoder reads back. Compression ratio is NOT its goal.
  *
  * Scale shape: per-record scalar decode inside the archive explode,
  * like gzip/zstd.
  */
object Bzip2 {

  final val MaxSelectors = 18002 // the format's own limit

  def isBzip2(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
      b(3) >= '1' && b(3) <= '9'

  // ----------------------------------------------------- CRC (bzip2 flavor)

  /** bzip2's CRC-32: polynomial 0x04C11DB7, NOT reflected (unlike zlib),
    * initial value all-ones, final complement.
    */
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04C11DB7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Crc {
    private var v = 0xFFFFFFFF
    def update(b: Byte): Unit =
      v = (v << 8) ^ crcTable(((v >>> 24) ^ (b & 0xff)) & 0xff)
    def value: Int = ~v
  }

  // ---------------------------------------------------------- bit output

  private final class BitOut {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1)
        nBits += 1
        if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
        i -= 1
      }
    }
    def putLong(v: Long, n: Int): Unit = {
      put((v >>> 32).toInt, math.max(0, n - 32))
      put((v & 0xFFFFFFFFL).toInt, math.min(32, n))
    }
    def result(): Array[Byte] = {
      if (nBits > 0) { buf.write(cur << (8 - nBits)); cur = 0; nBits = 0 }
      buf.toByteArray
    }
  }

  // ------------------------------------------------------------- decoder

  /** Decompress a whole bzip2 payload, including MULTISTREAM layouts —
    * byte-aligned concatenations of independent streams, the layout
    * Wikipedia `pages-articles-multistream.xml.bz2` dumps ship in and
    * what canonical `bzip2 -dc` decodes. Each stream's CRC is checked
    * independently; trailing bytes that are not a stream are a named
    * reject. `maxOut` bounds the TOTAL output across all streams
    * (decompression-bomb guard).
    */
  def decompress(b: Array[Byte], maxOut: Int = 256 << 20): Array[Byte] = {
    require(isBzip2(b), "bzip2: missing BZh header")
    Gunzip.decodeCapped("bzip2", maxOut)(
      new BZip2CompressorInputStream(new java.io.ByteArrayInputStream(b), true))
  }

  /** Decode exactly ONE stream starting at byte `offset` of a
    * multistream payload; returns the stream's bytes plus the offset
    * just past its footer. This is the ranged-read path a
    * `multistream-index.txt` enables: fetch [offset, next-offset) and
    * decode only the shard you need.
    */
  def decompressOne(b: Array[Byte], offset: Int,
      maxOut: Int = 256 << 20): (Array[Byte], Int) = {
    require(offset >= 0 && offset < b.length, s"bzip2: offset $offset out of range")
    val in = new java.io.ByteArrayInputStream(b, offset, b.length - offset)
    val out = Gunzip.decodeCapped("bzip2", maxOut)(new BZip2CompressorInputStream(in, false))
    (out, b.length - in.available())
  }


  // ------------------------------------------------------------- encoder

  /** A valid-but-plain encoder for deterministic fixtures: one block
    * per `blockData` chunk, two IDENTICAL uniform-length Huffman tables
    * (the format's minimum nGroups), selectors all group 0. Output is
    * larger than gzip's — the point is a conformant stream the reader
    * (and any bzip2) decodes, not ratio.
    */
  def compress(data: Array[Byte], level: Int = 1): Array[Byte] = {
    require(level >= 1 && level <= 9, s"bzip2: level $level")
    val blockCap = level * 100000
    val o = new BitOut()
    o.put('B', 8); o.put('Z', 8); o.put('h', 8); o.put('1' + level - 1, 8)
    var combinedCrc = 0
    // RLE1 first (runs of 4 + count), then per-block transform
    val rle = new java.io.ByteArrayOutputStream()
    val crcAll = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    // bzip2 CRCs are computed over the PRE-RLE1 bytes per block; we cut
    // blocks on RLE1 output size, tracking the source span per block
    var blockStartSrc = 0
    def flushBlock(srcEnd: Int): Unit = {
      if (rle.size() == 0 && srcEnd == blockStartSrc) return
      val crc = new Crc()
      var s = blockStartSrc
      while (s < srcEnd) { crc.update(data(s)); s += 1 }
      crcAll += crc.value
      writeBlock(o, rle.toByteArray, crc.value)
      combinedCrc = ((combinedCrc << 1) | (combinedCrc >>> 31)) ^ crc.value
      rle.reset()
      blockStartSrc = srcEnd
    }
    while (i < data.length) {
      var runEnd = i + 1
      while (runEnd < data.length && runEnd - i < 255 + 4 &&
        data(runEnd) == data(i)) runEnd += 1
      val runLen = runEnd - i
      if (runLen >= 4) {
        (0 until 4).foreach(_ => rle.write(data(i)))
        rle.write(runLen - 4)
      } else {
        (0 until runLen).foreach(_ => rle.write(data(i)))
      }
      i = runEnd
      // leave room: a run can add 5 bytes; cut well under the cap
      if (rle.size() >= blockCap - 16) flushBlock(i)
    }
    flushBlock(data.length)
    if (crcAll.isEmpty) { // empty input still needs... no block at all
      () // footer only: bzip2 of "" is header+footer with crc 0
    }
    o.putLong(0x177245385090L, 48)
    o.put(combinedCrc, 32)
    o.result()
  }

  /** One block: BWT (rotation sort — fixture-sized blocks), MTF+RLE2,
    * uniform-length canonical Huffman in two identical groups.
    */
  private def writeBlock(o: BitOut, block: Array[Byte], crc: Int): Unit = {
    val n = block.length
    require(n > 0, "bzip2: empty block")
    o.putLong(0x314159265359L, 48)
    o.put(crc, 32)
    o.put(0, 1) // not randomized
    // ---- BWT: sort rotations by prefix doubling (Manber-Myers ranks,
    // O(n log^2 n)) — naive cyclic compares are quadratic on the
    // repetitive inputs (XML, logs) fixtures actually compress
    val idx: IndexedSeq[Int] = {
      var rank = new Array[Int](n)
      var i = 0
      while (i < n) { rank(i) = block(i) & 0xff; i += 1 }
      var order = (0 until n).toArray
      var k = 1
      var distinct = false
      while (k < n && !distinct) {
        val key = (a: Int) => ((rank(a).toLong << 32) | rank((a + k) % n))
        order = order.sortBy(key)
        val next = new Array[Int](n)
        var r = 0
        i = 1
        next(order(0)) = 0
        while (i < n) {
          if (key(order(i)) != key(order(i - 1))) r += 1
          next(order(i)) = r
          i += 1
        }
        rank = next
        distinct = r == n - 1
        k <<= 1
      }
      order.toIndexedSeq
    }
    val origPtr = idx.indexOf(0)
    o.put(origPtr, 24)
    val last = new Array[Byte](n)
    var i = 0
    while (i < n) { last(i) = block((idx(i) + n - 1) % n); i += 1 }
    // ---- symbol map
    val inUse = new Array[Boolean](256)
    last.foreach(b => inUse(b & 0xff) = true)
    val seq = (0 until 256).filter(inUse).toArray
    val used16 = (0 until 16).map(g => (g * 16 until g * 16 + 16).exists(inUse))
    o.put(used16.zipWithIndex.foldLeft(0) { case (acc, (u, g)) =>
      if (u) acc | (0x8000 >>> g) else acc }, 16)
    (0 until 16).foreach { g =>
      if (used16(g)) (0 until 16).foreach(j => o.put(if (inUse(g * 16 + j)) 1 else 0, 1))
    }
    val alphaSize = seq.length + 2
    // ---- MTF + RLE2 symbol stream
    val syms = scala.collection.mutable.ArrayBuffer.empty[Int]
    val mtf = seq.clone()
    var zeroRun = 0L
    def flushZeros(): Unit = {
      var r = zeroRun
      while (r > 0) {
        if ((r & 1) == 1) { syms += 0; r = (r - 1) >> 1 } // RUNA
        else { syms += 1; r = (r - 2) >> 1 } // RUNB
      }
      zeroRun = 0
    }
    last.foreach { b =>
      val v = b & 0xff
      val pos = mtf.indexOf(v)
      if (pos == 0) zeroRun += 1
      else {
        flushZeros()
        syms += pos + 1
        var k = pos
        while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
        mtf(0) = v
      }
    }
    flushZeros()
    syms += alphaSize - 1 // EOB
    // ---- two identical uniform-length tables
    var len = 1
    while ((1 << len) < alphaSize) len += 1
    val nGroups = 2
    val nSelectors = (syms.length + 49) / 50
    require(nSelectors <= MaxSelectors, "bzip2: fixture block too symbol-rich")
    o.put(nGroups, 3)
    o.put(nSelectors, 15)
    (0 until nSelectors).foreach(_ => o.put(0, 1)) // selector MTF 0 = one 0-bit
    (0 until nGroups).foreach { _ =>
      o.put(len, 5)
      (0 until alphaSize).foreach(_ => o.put(0, 1)) // all lengths equal
    }
    // canonical fixed-length code: symbol s -> code s at width len
    syms.foreach(s => o.put(s, len))
  }
}
