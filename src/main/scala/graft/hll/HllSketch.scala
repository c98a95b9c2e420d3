package graft.hll

import java.security.MessageDigest

/** HyperLogLog sketch with bit-parity to the reference implementation
  * (PatZoug/HyperLogLog_PySpark, `HLL/HyperLogLog.py`).
  *
  * Two variants selected by `bits`:
  *  - 32: classic Flajolet et al. 2007 HLL (`HyperLogLog`,
  *    HLL/HyperLogLog.py:43-179) — SHA-1, first 8 hex chars, linear-counting
  *    low-range and large-range corrections.
  *  - 64: HLL++-style (`HyperLogLog64`, HLL/HyperLogLog.py:182-255) — SHA-1,
  *    first 16 hex chars, threshold-selected linear counting + empirical
  *    6-NN bias correction (Heule et al. EDBT'13).
  *
  * Parity-critical quirks deliberately replicated from the reference:
  *  - elements are hashed as `str(element)` UTF-8 bytes (HLL/HyperLogLog.py:110);
  *    callers are responsible for producing the Python-`str()`-equivalent string.
  *  - if `p % 4 != 0` the hash value is right-shifted by `4 - p % 4` BEFORE the
  *    key/rest split, discarding low bits (HLL/HyperLogLog.py:112-113).
  *  - the bucket key is the LOW p bits (`val & (m-1)`), the rho-part the
  *    remaining high bits (HLL/HyperLogLog.py:115-117).
  *  - register value = hlength - p - bitLength(hval) + 1 (HLL/HyperLogLog.py:118-119).
  *  - `estimateBias` indexes `biasData` with the *slice-local* index of the
  *    nearest raw-estimate neighbors (HLL/HyperLogLog.py:226-231 — `enumerate`
  *    over the slice), and the slice uses Python semantics where a negative
  *    start wraps (`rED[idx-12:idx+12]`); both faithfully reproduced because
  *    the reference's golden estimates bake them in.
  *  - `merge` checks `k` equality, not `m` (HLL/HyperLogLog.py:165-167).
  *  - the 32-bit large-range branch in the reference crashes on a missing
  *    import (`log` NameError, HLL/HyperLogLog.py:153); here the documented
  *    formula `-2^32 * ln(1 - E/2^32)` is implemented correctly instead.
  *
  * Registers fit in a byte: max value = hlength - p + 1 <= 61.
  *
  * Memory representation is hybrid: large sketches (m >= 1024) start as an
  * open-addressing (index -> value) map and densify to the flat register
  * array once occupancy crosses m/16 — so a million small groups at k=2^18
  * hold bytes each, not 256 KiB each, during partial aggregation. Estimators
  * densify first (the reference sums 2^-M[j] in register-index order and
  * Double addition is order-sensitive — parity requires the dense loop).
  */
final class HllSketch private (
    val k: Int,
    val bits: Int,
    val hashName: String,
    private var dense: Array[Byte],
    private var skeys: Array[Int],
    private var svals: Array[Byte],
    private var soccupied: Int) extends Serializable {

  val p: Int = HllSketch.pFor(k)
  val m: Int = 1 << p

  require(dense == null || dense.length == m,
    s"register array length ${dense.length} != m=$m")
  require(dense != null || skeys != null, "sketch needs a representation")

  /** Dense register array (densifies a sparse sketch on first access). */
  def registers: Array[Byte] = { densify(); dense }

  /** Heap bytes of the registers: m dense, 5 per slot (key and value)
    * sparse.
    */
  def footprint: Long = if (dense != null) m else 5L * skeys.length

  private def sparseLimit: Int = m >>> 4 // densify at 1/16 occupancy

  private def densify(): Unit = {
    if (dense == null) {
      val d = new Array[Byte](m)
      var i = 0
      while (i < skeys.length) {
        if (skeys(i) >= 0) d(skeys(i)) = svals(i)
        i += 1
      }
      dense = d
      skeys = null
      svals = null
    }
  }

  /** register := max(register, value) under either representation. */
  private def setMax(idx: Int, value: Byte): Unit = {
    if (dense != null) {
      if (value > dense(idx)) dense(idx) = value
    } else {
      val mask = skeys.length - 1
      var slot = (idx * 0x9e3779b1) >>> 1 & mask
      while (skeys(slot) >= 0 && skeys(slot) != idx) slot = (slot + 1) & mask
      if (skeys(slot) == idx) {
        if (value > svals(slot)) svals(slot) = value
      } else {
        skeys(slot) = idx
        svals(slot) = value
        soccupied += 1
        if (soccupied >= sparseLimit) densify()
        else if (2 * soccupied > skeys.length) growSparse()
      }
    }
  }

  private def growSparse(): Unit = {
    val ok = skeys; val ov = svals
    skeys = Array.fill(ok.length * 2)(-1)
    svals = new Array[Byte](ok.length * 2)
    val mask = skeys.length - 1
    var i = 0
    while (i < ok.length) {
      if (ok(i) >= 0) {
        var slot = (ok(i) * 0x9e3779b1) >>> 1 & mask
        while (skeys(slot) >= 0) slot = (slot + 1) & mask
        skeys(slot) = ok(i)
        svals(slot) = ov(i)
      }
      i += 1
    }
  }

  /** alpha per HLL/HyperLogLog.py:88-101 */
  def alpha: Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1 + 1.079 / m)
  }

  /** Theoretical relative standard error, HLL/HyperLogLog.py:86. */
  def error: Double = 1.04 / math.sqrt(m.toDouble)

  private def shift: Int = if (p % 4 != 0) 4 - p % 4 else 0

  /** Insert one element given its Python-`str()` form as UTF-8 bytes.
    * Parity with HLL/HyperLogLog.py:103-119.
    */
  def updateBytes(strBytes: Array[Byte], off: Int, len: Int): Unit = {
    val md = HllSketch.localDigest(hashName)
    md.reset()
    md.update(strBytes, off, len)
    val digest = HllSketch.localDigestBuf.get()
    md.digest(digest, 0, md.getDigestLength) // reuse output buffer: no alloc per row
    var v: Long =
      if (bits == 32) {
        ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      } else {
        ((digest(0) & 0xffL) << 56) | ((digest(1) & 0xffL) << 48) |
        ((digest(2) & 0xffL) << 40) | ((digest(3) & 0xffL) << 32) |
        ((digest(4) & 0xffL) << 24) | ((digest(5) & 0xffL) << 16) |
        ((digest(6) & 0xffL) << 8) | (digest(7) & 0xffL)
      }
    if (shift != 0) v = v >>> shift
    val hkey = (v & (m - 1)).toInt
    val hval = v >>> p
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(hval) // bit_length(0)=0
    val rho = bits - p - bitLen + 1
    setMax(hkey, rho.toByte)
  }

  def update(element: String): Unit = {
    val b = element.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    updateBytes(b, 0, b.length)
  }

  /** In-place merge; parity with HLL/HyperLogLog.py:157-169 (k-equality
    * check). The hash check is stricter than the reference (which checks
    * only k even with a custom hash_func): merging registers built from
    * different hash functions is never meaningful.
    */
  def merge(other: HllSketch): HllSketch = {
    require(other.k == k, "Number k of hash functions must be equal.")
    require(other.bits == bits, s"Cannot merge $bits-bit with ${other.bits}-bit sketch")
    require(other.hashName == hashName,
      s"Cannot merge $hashName sketch with ${other.hashName} sketch")
    if (other.dense == null) {
      // iterate the other side's sparse entries; stays sparse if we are
      var i = 0
      while (i < other.skeys.length) {
        if (other.skeys(i) >= 0) setMax(other.skeys(i), other.svals(i))
        i += 1
      }
    } else {
      densify()
      var i = 0
      while (i < m) {
        if (other.dense(i) > dense(i)) dense(i) = other.dense(i)
        i += 1
      }
    }
    this
  }

  /** Raw estimate alpha*m^2 / sum(2^-M[j]), summed in register order
    * (HLL/HyperLogLog.py:132-137; Double addition is order-sensitive).
    */
  def rawEstimate: Double = {
    densify()
    var s = 0.0
    var i = 0
    while (i < m) {
      s += HllSketch.invPow2(dense(i).toInt)
      i += 1
    }
    alpha * m.toDouble * m.toDouble / s
  }

  private def countZero: Int = {
    if (dense == null) return m - soccupied
    var v = 0
    var i = 0
    while (i < m) { if (dense(i) == 0) v += 1; i += 1 }
    v
  }

  /** Finalized estimate; dispatches on `bits` to the two reference finalizers. */
  def cardinality: Double = if (bits == 32) cardinality32 else cardinality64

  /** 32-bit finalizer, HLL/HyperLogLog.py:139-155. */
  private def cardinality32: Double = {
    val e = rawEstimate
    if (e <= 5.0 * m / 2) {
      val v = countZero
      if (v > 0) return m * math.log(m.toDouble / v)
    }
    val two32 = 4294967296.0 // 2^32
    if (e > two32 / 30.0) return -two32 * math.log(1 - e / two32)
    e
  }

  /** 64-bit HLL++ finalizer, HLL/HyperLogLog.py:240-255. */
  private def cardinality64: Double = {
    val v = countZero
    if (v > 0) {
      val h = m * math.log(m.toDouble / v)
      if (h <= Hll64Constants.threshold(p - 4)) return h
    }
    var e = rawEstimate
    if (e <= 5.0 * m) e -= estimateBias(e)
    e
  }

  /** 6-NN empirical bias, HLL/HyperLogLog.py:201-231, including the
    * reference's slice-local biasData indexing and Python slice semantics.
    */
  def estimateBias(e: Double, kNN: Int = 6): Double = {
    val rED = Hll64Constants.rawEstimateData(p - 4)
    val n = rED.length
    val idx = HllSketch.bisectRight(rED, e)
    // Python slice rED[idx-2k : idx+2k]: negative start wraps to len+start
    // (clamped at 0); stop clamps to len; empty if start >= stop.
    val startRaw = idx - 2 * kNN
    val start = if (startRaw < 0) math.max(0, n + startRaw) else math.min(startRaw, n)
    val stop = math.min(idx + 2 * kNN, n)
    val sliceLen = math.max(0, stop - start)
    // sort slice-local indices by (squared distance, index) — Python tuple sort
    val order = Array.tabulate(sliceLen)(i => i).sortBy { i =>
      val d = e - rED(start + i)
      (d * d, i)
    }
    val bias = Hll64Constants.biasData(p - 4)
    var s = 0.0
    var i = 0
    while (i < math.min(kNN, sliceLen)) {
      s += bias(order(i)) // slice-local index on purpose — reference parity
      i += 1
    }
    s / kNN.toDouble
  }

  def copySketch(): HllSketch =
    if (dense != null) new HllSketch(k, bits, hashName, dense.clone(), null, null, 0)
    else new HllSketch(k, bits, hashName, null, skeys.clone(), svals.clone(), soccupied)

  /** Serialized form, chosen per sketch by occupancy:
    *  - dense:  [bits: 1B][p: 1B][k: 4B BE][registers: m B]
    *  - sparse: [bits|0x80: 1B][p: 1B][k: 4B BE][count: 4B BE]
    *            [(index: 3B BE, value: 1B) x count]
    * Sparse wins while occupancy < ~25%: a k=2^18 sketch holding 10 distinct
    * values ships ~50 B instead of 256 KiB across the exchange — the sparse
    * representation the reference explicitly declined for lack of low-level
    * memory control in Python (README.md:22). The in-memory register array
    * stays dense (update/merge/estimate are unchanged — bit-parity intact);
    * only the wire format adapts. p <= 18 so 3-byte indexes always fit.
    */
  private def writeHeader(out: Array[Byte], sparse: Boolean): Unit = {
    out(0) = (if (sparse) bits | 0x80 else bits).toByte
    // p needs 5 bits (max 18); the high 3 bits of the byte carry the hash id
    // (0 = SHA-1, the default — old sketches deserialize unchanged)
    out(1) = ((HllSketch.hashId(hashName) << 5) | p).toByte
    out(2) = (k >>> 24).toByte
    out(3) = (k >>> 16).toByte
    out(4) = (k >>> 8).toByte
    out(5) = k.toByte
  }

  def serialize(): Array[Byte] = {
    if (dense == null) {
      // emit straight from the map, entries sorted by register index so the
      // bytes are deterministic for a given register state
      val idxs = new Array[Int](soccupied)
      var i = 0; var n = 0
      while (i < skeys.length) { if (skeys(i) >= 0) { idxs(n) = skeys(i); n += 1 }; i += 1 }
      java.util.Arrays.sort(idxs)
      val out = new Array[Byte](10 + 4 * soccupied)
      writeHeader(out, sparse = true)
      out(6) = (soccupied >>> 24).toByte
      out(7) = (soccupied >>> 16).toByte
      out(8) = (soccupied >>> 8).toByte
      out(9) = soccupied.toByte
      var o = 10
      i = 0
      while (i < soccupied) {
        val idx = idxs(i)
        val mask = skeys.length - 1
        var slot = (idx * 0x9e3779b1) >>> 1 & mask
        while (skeys(slot) != idx) slot = (slot + 1) & mask
        out(o) = (idx >>> 16).toByte
        out(o + 1) = (idx >>> 8).toByte
        out(o + 2) = idx.toByte
        out(o + 3) = svals(slot)
        o += 4
        i += 1
      }
      return out
    }
    var nz = 0
    var i = 0
    while (i < m) { if (dense(i) != 0) nz += 1; i += 1 }
    val sparseSize = 10 + 4 * nz
    if (sparseSize < 6 + m) {
      val out = new Array[Byte](sparseSize)
      writeHeader(out, sparse = true)
      out(6) = (nz >>> 24).toByte
      out(7) = (nz >>> 16).toByte
      out(8) = (nz >>> 8).toByte
      out(9) = nz.toByte
      var o = 10
      i = 0
      while (i < m) {
        if (dense(i) != 0) {
          out(o) = (i >>> 16).toByte
          out(o + 1) = (i >>> 8).toByte
          out(o + 2) = i.toByte
          out(o + 3) = dense(i)
          o += 4
        }
        i += 1
      }
      out
    } else {
      val out = new Array[Byte](6 + m)
      writeHeader(out, sparse = false)
      System.arraycopy(dense, 0, out, 6, m)
      out
    }
  }
}

object HllSketch {
  /** p = ceil(log2(k)); proven equal to the reference's float
    * `ceil(log(k, 2))` for every k in [16, 2^18] (HLL/HyperLogLog.py:81).
    */
  def pFor(k: Int): Int = 32 - Integer.numberOfLeadingZeros(k - 1)

  def validateK(k: Int, bits: Int): Unit = {
    val pmax = if (bits == 32) 16 else 18
    require(k >= (1 << 4) && k <= (1 << pmax),
      s"k=$k should be in range [${1 << 4}, ${1 << pmax}]")
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
  }

  /** Sketches at m >= this start in the sparse in-memory representation;
    * below it the dense array is at most 512 B and the map saves nothing.
    */
  private val sparseMinM = 1024

  /** Supported hash functions, mirroring the reference's pluggable
    * `hash_func` parameter (HLL/HyperLogLog.py:58,70-72 — any hashlib
    * digest); ids are the wire-format encoding. SHA-1 (id 0) is the default
    * and the only bit-parity target.
    */
  private val hashNames: Array[String] = Array("SHA-1", "MD5", "SHA-256")

  private[hll] def hashId(name: String): Int = {
    val id = hashNames.indexOf(name)
    require(id >= 0, s"unsupported hash '$name' (supported: ${hashNames.mkString(", ")})")
    id
  }

  def empty(k: Int, bits: Int = 64, hashName: String = "SHA-1"): HllSketch = {
    validateK(k, bits)
    hashId(hashName) // validate eagerly, not on first update
    val m = 1 << pFor(k)
    if (m >= sparseMinM)
      new HllSketch(k, bits, hashName, null, Array.fill(16)(-1), new Array[Byte](16), 0)
    else
      new HllSketch(k, bits, hashName, new Array[Byte](m), null, null, 0)
  }

  /** Rebuild a sketch from an explicit (index, rho) register listing — the
    * import half of the engine-portable wire surface ([[serialize]]'s sparse
    * encoding as plain data instead of packed bytes). Duplicate indexes fold
    * by max, so the listing is order-insensitive and re-mergeable: a union of
    * two sketches' exported registers imports to their merged sketch.
    */
  def fromRegisters(
      k: Int, bits: Int, hashName: String,
      regs: Iterator[(Int, Int)]): HllSketch = {
    validateK(k, bits)
    hashId(hashName)
    val m = 1 << pFor(k)
    val maxRho = bits - pFor(k) + 1
    val dense = new Array[Byte](m)
    regs.foreach { case (idx, v) =>
      require(idx >= 0 && idx < m, s"register index $idx out of range (m=$m)")
      require(v >= 1 && v <= maxRho, s"register value $v out of range [1, $maxRho]")
      if (v > dense(idx)) dense(idx) = v.toByte
    }
    new HllSketch(k, bits, hashName, dense, null, null, 0)
  }

  def deserialize(bytes: Array[Byte]): HllSketch = {
    require(bytes.length >= 6, s"sketch buffer truncated: ${bytes.length} bytes")
    val sparse = (bytes(0) & 0x80) != 0
    val bits = bytes(0).toInt & 0x7f
    val hid = (bytes(1) >>> 5) & 0x7
    require(hid < hashNames.length, s"unknown hash id $hid in sketch header")
    val hashName = hashNames(hid)
    val k = ((bytes(2) & 0xff) << 24) | ((bytes(3) & 0xff) << 16) |
            ((bytes(4) & 0xff) << 8) | (bytes(5) & 0xff)
    validateK(k, bits)
    val m = 1 << pFor(k)
    val maxRho = bits - pFor(k) + 1
    if (sparse) {
      require(bytes.length >= 10, s"sparse sketch header truncated: ${bytes.length} bytes")
      val count = ((bytes(6) & 0xff) << 24) | ((bytes(7) & 0xff) << 16) |
                  ((bytes(8) & 0xff) << 8) | (bytes(9) & 0xff)
      // Long arithmetic: a hostile count near 2^30 makes 10 + 4*count wrap
      // around Int and collide with the true buffer length, sending the
      // read loop past the end (found by HllSerdeFuzzSpec bit-flipping)
      require(count >= 0 && bytes.length.toLong == 10L + 4L * count,
        s"sparse sketch length ${bytes.length} != ${10L + 4L * count} for $count entries")
      // rebuild sparse in memory while it's worth it, else straight to dense
      val h =
        if (m >= sparseMinM && count < (m >>> 4)) HllSketch.empty(k, bits, hashName)
        else new HllSketch(k, bits, hashName, new Array[Byte](m), null, null, 0)
      var e = 0
      var o = 10
      while (e < count) {
        val idx = ((bytes(o) & 0xff) << 16) | ((bytes(o + 1) & 0xff) << 8) | (bytes(o + 2) & 0xff)
        require(idx < m, s"sparse register index $idx out of range (m=$m)")
        require((bytes(o + 3) & 0xff) <= maxRho,
          s"sparse register value ${bytes(o + 3) & 0xff} out of range [0, $maxRho]")
        // a zero-valued entry never comes from serialize() (rho >= 1); in a
        // corrupt buffer it would silently skew the sparse countZero
        // shortcut (m - occupied), so drop it rather than store it
        if (bytes(o + 3) != 0) h.setMax(idx, bytes(o + 3))
        o += 4
        e += 1
      }
      h
    } else {
      require(bytes.length == 6 + m,
        s"dense sketch length ${bytes.length} != ${6 + m} (m=$m)")
      val regs = new Array[Byte](m)
      System.arraycopy(bytes, 6, regs, 0, m)
      var i = 0
      while (i < m) {
        require((regs(i) & 0xff) <= maxRho,
          s"dense register $i value ${regs(i) & 0xff} out of range [0, $maxRho]")
        i += 1
      }
      new HllSketch(k, bits, hashName, regs, null, null, 0)
    }
  }

  /** 2^-i for i in [0, 63]; exact powers of two, matching Python `2 ** (-i)`. */
  private val invPow2: Array[Double] = Array.tabulate(64)(i => math.pow(2.0, -i))

  /** Python `bisect.bisect` (= bisect_right): first index where arr(idx) > x. */
  def bisectRight(arr: Array[Double], x: Double): Int = {
    var lo = 0
    var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (x < arr(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  private val localDigests: ThreadLocal[java.util.HashMap[String, MessageDigest]] =
    ThreadLocal.withInitial(() => new java.util.HashMap[String, MessageDigest]())

  private[hll] def localDigest(name: String): MessageDigest = {
    val map = localDigests.get()
    var md = map.get(name)
    if (md == null) {
      md = MessageDigest.getInstance(name)
      map.put(name, md)
    }
    md
  }

  private val localDigestBuf: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](32)) // fits SHA-256
}
