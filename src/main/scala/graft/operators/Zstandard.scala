package graft.operators

/** Bounded Zstandard (RFC 8878) support — the compression the web-archive
  * world is moving to: Common Crawl and the IIPC publish `.warc.zst`
  * archives (one zstd frame per record + an optional leading dictionary
  * in a skippable frame), and `Content-Encoding: zstd` is registered for
  * HTTP (RFC 9659). Decompression itself is zstd-jni (the JNI binding
  * Spark already ships for shuffle/parquet codecs — public OSS, on the
  * classpath); the FRAME FRAMING is walked here spec-directly, the same
  * house discipline as the RFC 1952 member walk in [[Warc]]: an archive
  * index must come from verified structure, not from guessing.
  *
  * Framing per RFC 8878 §3.1.1:
  *  - zstd frame: magic `28 B5 2F FD` (LE 0xFD2FB528), frame header
  *    (descriptor byte → window/dict-ID/content-size field sizes), then
  *    blocks (3-byte LE header: last-block bit, 2-bit type, 21-bit size;
  *    RLE blocks STORE one byte regardless of size), then an optional
  *    4-byte content checksum;
  *  - skippable frame: magic `5? 2A 4D 18` (LE 0x184D2A50-5F), 4-byte LE
  *    size, then exactly that many payload bytes.
  *
  * The IIPC `.warc.zst` convention (iipc/warc-specifications,
  * "WARC zstd" draft): magic 0x184D2A5D skippable frame at the start
  * holds the compression dictionary — raw (`37 A4 30 EC`), or itself
  * zstd-compressed, or plain content bytes; every record frame may then
  * reference it. One WARC record per frame, so a CDX-style index can do
  * ranged GETs without touching neighbors — the exact property the
  * per-record gzip member layout gives `.warc.gz`.
  *
  * Every decompression is BOUNDED (`maxOut` cap, the `Gunzip.bounded`
  * discipline): a hostile frame costs one buffer, never the heap.
  */
object Zstandard {

  /** RFC 8878 magic numbers (little-endian on the wire). */
  final val FrameMagic = 0xFD2FB528L
  final val SkippableMagicBase = 0x184D2A50L
  /** IIPC warc.zst dictionary frame (skippable nibble 0xD). */
  final val DictFrameMagic = 0x184D2A5DL
  /** Raw zstd dictionary magic (RFC 8878 §5). */
  final val RawDictMagic = 0xEC30A437L

  def isZstd(b: Array[Byte]): Boolean =
    b.length >= 4 && {
      val m = u32le(b, 0)
      m == FrameMagic || (m & 0xFFFFFFF0L) == SkippableMagicBase
    }

  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** One frame's span in the buffer. `skippable` frames carry `payload`
    * (their raw content); data frames leave it empty — they decompress
    * through [[decompressFrame]].
    */
  final case class FrameSpan(offset: Int, length: Int, skippable: Boolean,
      magic: Long)

  /** Walk every frame boundary in the buffer — the structural pass an
    * archive index builds on. Spec-direct per RFC 8878 §3.1.1: no
    * decompression happens here, so the walk is O(frames + blocks) over
    * headers only. Truncation and unknown magics are NAMED rejects.
    */
  def frames(b: Array[Byte]): Seq[FrameSpan] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FrameSpan]
    var p = 0
    while (p < b.length) {
      require(p + 4 <= b.length, s"zstd: truncated magic at byte $p")
      val magic = u32le(b, p)
      if ((magic & 0xFFFFFFF0L) == SkippableMagicBase) {
        require(p + 8 <= b.length, s"zstd: truncated skippable frame header at byte $p")
        val size = u32le(b, p + 4)
        val end = p + 8 + size
        require(end <= b.length, s"zstd: skippable frame at byte $p runs past the buffer")
        out += FrameSpan(p, (end - p).toInt, skippable = true, magic)
        p = end.toInt
      } else if (magic == FrameMagic) {
        val end = frameEnd(b, p)
        out += FrameSpan(p, end - p, skippable = false, magic)
        p = end
      } else throw new IllegalArgumentException(
        f"zstd: unknown frame magic 0x$magic%08X at byte $p")
    }
    out.toSeq
  }

  /** End offset (exclusive) of the zstd frame starting at `off` — frame
    * header (descriptor → field sizes, §3.1.1.1) then the block chain
    * (§3.1.1.2: 3-byte LE header, last/type/size; RLE stores ONE byte)
    * then the optional content checksum.
    */
  private def frameEnd(b: Array[Byte], off: Int): Int = {
    var p = off + 4
    require(p < b.length, s"zstd: truncated frame header at byte $off")
    val fhd = b(p) & 0xff; p += 1
    val singleSegment = (fhd & 0x20) != 0
    val checksum = (fhd & 0x04) != 0
    require((fhd & 0x08) == 0, s"zstd: reserved descriptor bit set at byte $off")
    val dictIdSize = (fhd & 0x03) match {
      case 0 => 0; case 1 => 1; case 2 => 2; case 3 => 4
    }
    val fcsSize = (fhd >> 6) match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2; case 2 => 4; case 3 => 8
    }
    if (!singleSegment) p += 1 // window descriptor byte
    p += dictIdSize + fcsSize
    var last = false
    while (!last) {
      require(p + 3 <= b.length, s"zstd: truncated block header at byte $p (frame at $off)")
      val hdr = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16)
      p += 3
      last = (hdr & 1) != 0
      val btype = (hdr >> 1) & 3
      val bsize = hdr >>> 3
      require(btype != 3, s"zstd: reserved block type at byte ${p - 3} (frame at $off)")
      val stored = if (btype == 1) 1 else bsize // RLE stores one byte
      p += stored
      require(p <= b.length, s"zstd: block at frame $off runs past the buffer")
    }
    if (checksum) p += 4
    require(p <= b.length, s"zstd: frame at byte $off truncated before checksum")
    p
  }

  /** Bounded decompress of a whole buffer (one or more concatenated data
    * frames; skippable frames are skipped per spec). `dict` applies to
    * every data frame. The cap is enforced DURING the streaming read —
    * a bomb costs one 64 KiB buffer round, not the expanded size.
    */
  def decompressBounded(b: Array[Byte], maxOut: Long, what: String,
      dict: Option[Array[Byte]] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(math.max(b.length.toLong * 4, 1024), maxOut).toInt)
    frames(b).foreach { f =>
      if (!f.skippable)
        decompressFrameInto(b, f, out, maxOut, what, dict)
    }
    out.toByteArray
  }

  /** Decompress ONE data frame (by its span) under the cap. */
  def decompressFrame(b: Array[Byte], span: FrameSpan, maxOut: Long,
      what: String, dict: Option[Array[Byte]] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    decompressFrameInto(b, span, out, maxOut, what, dict)
    out.toByteArray
  }

  private def decompressFrameInto(b: Array[Byte], span: FrameSpan,
      out: java.io.ByteArrayOutputStream, maxOut: Long, what: String,
      dict: Option[Array[Byte]]): Unit = {
    require(!span.skippable, s"$what: cannot decompress a skippable frame")
    val in = new java.io.ByteArrayInputStream(b, span.offset, span.length)
    val zin = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(in)
    try {
      dict.foreach(zin.setDict)
      Gunzip.drainInto(zin, out, maxOut,
        s"$what: zstd frame decompresses past the $maxOut-byte cap — rejected as a bomb")
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"$what: corrupt zstd frame (${e.getMessage})")
    } finally zin.close()
  }

  /** Compress one payload as ONE zstd frame (with content checksum, the
    * zstd CLI default). `dict` trains the frame against the shared
    * dictionary — the warc.zst layout's whole point: tiny per-record
    * frames that still compress well because the boilerplate lives in
    * the dictionary once.
    */
  def compressFrame(data: Array[Byte], level: Int = 3,
      dict: Option[Array[Byte]] = None): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val zout = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(out)
    try {
      zout.setLevel(level)
      zout.setChecksum(true) // libzstd defaults OFF; the CLI (and we) verify
      dict.foreach(zout.setDict)
      zout.write(data)
    } finally zout.close() // close NOW: frees the native CCtx (writeWarc's lesson)
    out.toByteArray
  }

  /** Wrap payload bytes in a skippable frame with the given magic nibble
    * source (full 32-bit magic, must be in the 0x184D2A50-5F range).
    */
  def skippableFrame(magic: Long, payload: Array[Byte]): Array[Byte] = {
    require((magic & 0xFFFFFFF0L) == SkippableMagicBase,
      f"zstd: 0x$magic%08X is not a skippable-frame magic")
    val out = new java.io.ByteArrayOutputStream(payload.length + 8)
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    w32(magic); w32(payload.length.toLong)
    out.write(payload)
    out.toByteArray
  }

  /** Extract the warc.zst dictionary from a leading 0x184D2A5D skippable
    * frame, if present: content may be zstd-compressed (unwrapped here,
    * bounded), a raw dictionary (`37 A4 30 EC`), or plain content bytes —
    * all three forms the IIPC draft allows. Returns (dict, frames after
    * any leading dict frame).
    */
  def warcDict(b: Array[Byte], maxOut: Long): (Option[Array[Byte]], Seq[FrameSpan]) = {
    val fs = frames(b)
    fs.headOption match {
      case Some(f) if f.skippable && f.magic == DictFrameMagic =>
        val payload = java.util.Arrays.copyOfRange(b, f.offset + 8, f.offset + f.length)
        val dict =
          if (isZstd(payload)) decompressBounded(payload, maxOut, "zstd-dict")
          else payload
        (Some(dict), fs.tail)
      case _ => (None, fs)
    }
  }

  /** Train a zstd dictionary from sample payloads (zstd's COVER trainer
    * via zstd-jni). Returns None when the samples are too few/too small
    * for the trainer — callers fall back to dictionary-less frames, which
    * read identically.
    */
  def trainDict(samples: Seq[Array[Byte]], dictSize: Int = 16 * 1024): Option[Array[Byte]] = {
    if (samples.length < 8) return None // trainer needs plurality
    val buf = new Array[Byte](dictSize)
    try {
      val n = com.github.luben.zstd.Zstd.trainFromBuffer(samples.toArray, buf, false)
      if (com.github.luben.zstd.Zstd.isError(n)) None
      else Some(java.util.Arrays.copyOf(buf, n.toInt))
    } catch {
      case _: com.github.luben.zstd.ZstdException => None
    }
  }
}
