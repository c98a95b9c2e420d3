package graft.operators

/** Bounded gzip decompression for attacker-controlled crawl payloads.
  *
  * `GZIPInputStream.readAllBytes()` with no cap is a decompression bomb:
  * deflate expands up to ~1030x, so a ~1 MB hostile member inflates to
  * ~1 GB per record — across 32 concurrent tasks that is an executor OOM,
  * not a clean per-record reject. Every gunzip of untrusted bytes in the
  * engine goes through [[bounded]], which inflates through a counting loop
  * and throws the moment output would exceed the caller's cap — the same
  * probe-before-pay policy as the image pixel-budget guard
  * (`Multimodal.scala`'s decompression-bomb check). The loop itself,
  * [[drainInto]], is shared by every library-backed decoder (zstd, xz,
  * lzma, bzip2).
  */
object Gunzip {

  /** Decompress `bytes` (a gzip stream, possibly multi-member) enforcing
    * `maxOut` on the DECOMPRESSED size. Throws `IllegalArgumentException`
    * naming `what` once the cap is crossed — by construction at most
    * `maxOut + 64 KiB` is ever buffered, so a bomb costs one buffer, not
    * the heap. A corrupt member surfaces as the JDK's `IOException`.
    */
  def bounded(bytes: Array[Byte], maxOut: Long, what: String): Array[Byte] = {
    require(maxOut > 0 && maxOut <= Int.MaxValue - 8,
      s"gunzip: cap $maxOut out of range")
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 64 * 1024)
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(bytes.length.toLong * 4, maxOut).toInt)
      drainInto(in, out, maxOut,
        s"$what: gzip payload decompresses past the $maxOut-byte cap — rejected as a decompression bomb")
      out.toByteArray
    } finally in.close()
  }

  /** Read `in` to its end into `out`, throwing `IllegalArgumentException(
    * capMessage)` before `out` would pass `maxOut` bytes.
    */
  def drainInto(in: java.io.InputStream, out: java.io.ByteArrayOutputStream,
      maxOut: Long, capMessage: => String): Unit = {
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size().toLong + n > maxOut) throw new IllegalArgumentException(capMessage)
      out.write(buf, 0, n)
      n = in.read(buf)
    }
  }

  /** Decode through the library stream `open` under the `maxOut` cap;
    * any `IOException` the library throws (corrupt data, truncation, a
    * failed check) becomes an `IllegalArgumentException` named `what`.
    */
  def decodeCapped(what: String, maxOut: Long)(open: => java.io.InputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    try {
      val in = open
      try drainInto(in, out, maxOut, s"$what: output past the $maxOut-byte cap")
      finally in.close()
    } catch {
      case e: java.io.IOException =>
        val why = e match {
          case _: java.io.EOFException if e.getMessage == null => "unexpected end of input"
          case _ => Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
        }
        throw new IllegalArgumentException(s"$what: $why", e)
    }
    out.toByteArray
  }
}
