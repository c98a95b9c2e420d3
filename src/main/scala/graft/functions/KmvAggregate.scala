package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values / bottom-k) distinct sketch: keeps the k smallest
  * distinct 64-bit hashes of the input (Bar-Yossef et al. 2002,
  * Beyer et al. SIGMOD'07). Complements the HLL family with NATIVE set
  * operations: because the retained values are a uniform sample of the
  * hashed universe, two sketches support direct Jaccard / intersection
  * estimation (`kmv_jaccard`, `kmv_intersect_estimate`) instead of HLL's
  * inclusion-exclusion, whose absolute error is union-scaled and blows up
  * relatively for small intersections.
  *
  * Estimator: exact count while fewer than k distinct hashes were seen;
  * otherwise `(k-1) / U(h_k)` where `U(h_k)` is the k-th smallest hash
  * normalized to (0,1] over the unsigned 64-bit space — unbiased with
  * RSE ~ 1/sqrt(k-2).
  *
  * Hash: Spark's XXH64 (same function as the `xxhash64` builtin, seed 42)
  * over the UTF-8 bytes — deterministic across partitions/JVMs, and cheap
  * enough that the sketch build stays scan-bound. Merge is a bottom-k set
  * union (commutative, associative, idempotent), so the aggregate gets
  * Catalyst partial/final aggregation and stored-sketch re-aggregation
  * exactly like the HLL/CMS/GK families. State is at most k longs.
  */
final class KmvSketch(val k: Int) extends Serializable {
  require(k >= 2, s"kmv k must be >= 2, got $k")

  // bottom-k distinct hashes in unsigned order; TreeSet gives O(log k)
  // insert + max eviction. Boxing is acceptable: k is typically 256-4096
  // and the reject-fast path below never allocates once the set is full.
  private[functions] val values =
    new java.util.TreeSet[java.lang.Long](new java.util.Comparator[java.lang.Long] {
      override def compare(a: java.lang.Long, b: java.lang.Long): Int =
        java.lang.Long.compareUnsigned(a, b)
    })

  @inline def addHash(h: Long): Unit = {
    if (values.size < k) { values.add(h); () }
    else if (java.lang.Long.compareUnsigned(h, values.last()) < 0) {
      if (values.add(h)) values.pollLast()
    }
  }

  def add(item: String): Unit = addHash(KmvSketch.hash64(item))

  def occupied: Int = values.size

  /** Heap bytes of the retained hashes: a tree entry and a boxed long,
    * 56 bytes each with compressed pointers.
    */
  def footprint: Long = 56L * values.size

  /** Unsigned long -> double in [0, 2^64). */
  @inline private def ud(h: Long): Double =
    if (h >= 0) h.toDouble else h.toDouble + 1.8446744073709552E19

  /** Distinct-count estimate: exact below k, (k-1)/U(h_k) at capacity. */
  def estimate: Double =
    if (values.size < k) values.size.toDouble
    else (k - 1).toDouble * 1.8446744073709552E19 / ud(values.last())

  /** Bottom-k set union; keeps this sketch's k (both must agree). */
  def merge(other: KmvSketch): KmvSketch = {
    require(other.k == k, s"cannot merge kmv(k=$k) with kmv(k=${other.k})")
    val it = other.values.iterator()
    while (it.hasNext) addHash(it.next())
    this
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * values.size)
    bb.putInt(k).putInt(values.size)
    val it = values.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }
}

object KmvSketch {
  /** Same hash as Spark's `xxhash64` builtin at its default seed. */
  def hash64(item: String): Long = {
    val bytes = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }

  /** Zero-copy variant for the aggregate hot path: hashes the UTF8String's
    * backing bytes in place (same result as [[hash64]] — identical bytes).
    */
  def hash64(item: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      item.getBaseObject, item.getBaseOffset, item.numBytes, 42L)

  def deserialize(bytes: Array[Byte]): KmvSketch = {
    require(bytes.length >= 8, s"kmv buffer truncated: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt
    val n = bb.getInt
    require(k >= 2 && n >= 0 && n <= k,
      s"kmv header out of range: k=$k n=$n")
    require(bytes.length.toLong == 8L + 8L * n,
      s"kmv buffer length ${bytes.length} != ${8L + 8L * n}")
    val s = new KmvSketch(k)
    var i = 0
    while (i < n) { s.values.add(bb.getLong); i += 1 }
    s
  }

  @inline private def ud(h: Long): Double =
    if (h >= 0) h.toDouble else h.toDouble + 1.8446744073709552E19

  /** One merged bottom-k' traversal (k' = min(k_a, k_b)) producing BOTH the
    * Jaccard estimate and the union estimate: the bottom-k' of A ∪ B is a
    * uniform sample of the hashed union, so the fraction of it present in
    * both sketches estimates |A∩B|/|A∪B| (Beyer et al. SIGMOD'07 §4), and
    * its k'-th smallest value estimates |A∪B| exactly like [[KmvSketch
    * .estimate]]. Exact when both sides stayed below capacity.
    */
  def pairStats(a: KmvSketch, b: KmvSketch): (Double, Double) = {
    val (inBoth, _, taken, unionEst) = sampleStats(a, b)
    if (taken == 0) (0.0, 0.0)
    else (inBoth.toDouble / taken.toDouble, unionEst)
  }

  /** Walk the merged bottom-k' union sample once, classifying each sampled
    * hash: (in both, in A only, sample size, union estimate).
    */
  private def sampleStats(a: KmvSketch, b: KmvSketch): (Int, Int, Int, Double) = {
    val kp = math.min(a.k, b.k)
    val merged = new java.util.TreeSet[java.lang.Long](
      new java.util.Comparator[java.lang.Long] {
        override def compare(x: java.lang.Long, y: java.lang.Long): Int =
          java.lang.Long.compareUnsigned(x, y)
      })
    merged.addAll(a.values)
    merged.addAll(b.values)
    if (merged.isEmpty) return (0, 0, 0, 0.0)
    var inBoth = 0
    var inAOnly = 0
    var taken = 0
    var kth = 0L
    val it = merged.iterator()
    while (it.hasNext && taken < kp) {
      val h = it.next()
      val inA = a.values.contains(h)
      val inB = b.values.contains(h)
      if (inA && inB) inBoth += 1
      else if (inA) inAOnly += 1
      kth = h
      taken += 1
    }
    val unionEst =
      if (taken < kp) taken.toDouble // union below capacity: exact
      else (kp - 1).toDouble * 1.8446744073709552E19 / ud(kth)
    (inBoth, inAOnly, taken, unionEst)
  }

  /** |A \ B| estimate (theta-sketch-style a-not-b): the fraction of the
    * merged bottom-k' union sample present in A only, scaled by the union
    * estimate from the same sample — set difference WITHOUT
    * inclusion-exclusion cancellation, so the error stays union-relative
    * (±~1/sqrt(k') of |A ∪ B|) even when |A \ B| is tiny. Exact when the
    * union stayed below capacity; disjoint-B gives back A's own estimate.
    */
  def differenceEstimate(a: KmvSketch, b: KmvSketch): Double = {
    val (_, inAOnly, taken, unionEst) = sampleStats(a, b)
    if (taken == 0) 0.0 else inAOnly.toDouble / taken.toDouble * unionEst
  }

  /** Jaccard |A∩B|/|A∪B| estimate. */
  def jaccard(a: KmvSketch, b: KmvSketch): Double = pairStats(a, b)._1

  /** |A ∪ B| estimate: merged bottom-min(k) sample estimate. */
  def unionEstimate(a: KmvSketch, b: KmvSketch): Double = pairStats(a, b)._2

  /** |A ∩ B| estimate: J(A,B) × |A ∪ B| — both terms from the same merged
    * bottom-k' sample, no inclusion-exclusion cancellation.
    */
  def intersectEstimate(a: KmvSketch, b: KmvSketch): Double = {
    val (j, u) = pairStats(a, b)
    j * u
  }

  /** N-way |∩ sketches| estimate, same construction as the pair case: the
    * bottom-k' of the n-ary union (k' = min kᵢ) is a uniform sample of the
    * hashed union; the fraction of it present in EVERY sketch, scaled by
    * the union estimate from the same sample, estimates the n-way
    * intersection directly — where inclusion-exclusion over n sets needs
    * 2^n-1 alternating terms whose noise compounds. Exact when the union
    * stayed below capacity.
    */
  def intersectAllEstimate(sketches: Seq[KmvSketch]): Double = {
    require(sketches.size >= 2, "n-way intersection needs >= 2 sketches")
    val kp = sketches.map(_.k).min
    val merged = new java.util.TreeSet[java.lang.Long](
      new java.util.Comparator[java.lang.Long] {
        override def compare(x: java.lang.Long, y: java.lang.Long): Int =
          java.lang.Long.compareUnsigned(x, y)
      })
    sketches.foreach(s => merged.addAll(s.values))
    if (merged.isEmpty) return 0.0
    var inAll = 0
    var taken = 0
    var kth = 0L
    val it = merged.iterator()
    while (it.hasNext && taken < kp) {
      val h = it.next()
      if (sketches.forall(_.values.contains(h))) inAll += 1
      kth = h
      taken += 1
    }
    val unionEst =
      if (taken < kp) taken.toDouble
      else (kp - 1).toDouble * 1.8446744073709552E19 / ud(kth)
    inAll.toDouble / taken.toDouble * unionEst
  }
}

/** `kmv_sketch_agg(col, k)` -> BinaryType bottom-k sketch. */
case class KmvSketchAgg(
    child: Expression,
    k: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[KmvSketch] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING input, got ${child.dataType.sql}")
    else if (k < 2)
      TypeCheckResult.TypeCheckFailure(s"need k >= 2, got k=$k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def codec: SketchCodec[KmvSketch] = SketchFamily.kmv
  override def createAggregationBuffer(): KmvSketch = new KmvSketch(k)
  override protected def add(buffer: KmvSketch, v: Any): Unit =
    buffer.addHash(KmvSketch.hash64(v.asInstanceOf[UTF8String]))
  override def eval(buffer: KmvSketch): Any = buffer.serialize()
  override def withNewMutableAggBufferOffset(o: Int): KmvSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KmvSketchAgg = copy(child = c)
  override def prettyName: String = "kmv_sketch_agg"
}

private object KmvPair {
  /** `f` over two stored sketches, or 0.0 when either is the empty set
    * (`kmv_union_agg`'s all-null-group output).
    */
  def orZero(a: Any, b: Any)(f: (KmvSketch, KmvSketch) => Double): Double = {
    val sa = SketchFamily.kmv.read(a.asInstanceOf[Array[Byte]])
    val sb = SketchFamily.kmv.read(b.asInstanceOf[Array[Byte]])
    if (sa == null || sb == null) 0.0 else f(sa, sb)
  }
}

/** `kmv_estimate(sketch)` -> DOUBLE distinct-count estimate. */
case class KmvEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback with BinarySketchInput {

  override protected def sketchInput: String = "BINARY sketch input"
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(sk: Any): Any = {
    val s = SketchFamily.kmv.read(sk.asInstanceOf[Array[Byte]])
    if (s == null) 0.0 else s.estimate
  }

  override protected def withNewChildInternal(c: Expression): KmvEstimate = copy(child = c)
  override def prettyName: String = "kmv_estimate"
}

/** `kmv_jaccard(a, b)` -> DOUBLE Jaccard similarity estimate. */
case class KmvJaccard(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinarySketchPair {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    KmvPair.orZero(a, b)(KmvSketch.jaccard)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvJaccard =
    copy(left = l, right = r)
  override def prettyName: String = "kmv_jaccard"
}

/** `kmv_intersect_estimate(a, b)` -> DOUBLE |A ∩ B| estimate. */
case class KmvIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinarySketchPair {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    KmvPair.orZero(a, b)(KmvSketch.intersectEstimate)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvIntersectEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "kmv_intersect_estimate"
}

/** `kmv_intersect_n(sk1, sk2, ...)` -> DOUBLE n-way intersection estimate:
  * one union-sample pass instead of 2^n-1 inclusion-exclusion terms.
  */
case class KmvIntersectN(children: Seq[Expression])
  extends Expression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size < 2)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs >= 2 sketches")
    else if (children.exists(_.dataType != BinaryType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BINARY sketches, got " +
          children.map(_.dataType.sql).mkString("(", ", ", ")"))
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val bufs = children.map(_.eval(input))
    if (bufs.exists(_ == null)) return null
    val sketches = bufs.map(b => SketchFamily.kmv.read(b.asInstanceOf[Array[Byte]]))
    // any empty-set operand makes the intersection 0
    if (sketches.contains(null)) 0.0
    else KmvSketch.intersectAllEstimate(sketches)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvIntersectN =
    copy(children = newChildren)
  override def prettyName: String = "kmv_intersect_n"
}

/** The engine-portable wire shape shared by [[KmvExport]] / [[KmvImport]]
  * (the KMV analogue of [[HllWire]]): struct(k, hash, hashes) with the
  * retained bottom-k hashes as plain BIGINTs in ascending UNSIGNED order.
  *
  * The cross-engine contract is exact and replayable with nothing but
  * xxHash64: a KMV(k) sketch of column c IS
  * `bottom-k of (SELECT DISTINCT xxhash64(CAST(c AS STRING)) ...)` in
  * unsigned 64-bit order (xxHash64 seed 42 — Spark's `xxhash64` builtin
  * default), and the estimator is plain arithmetic over the wire row:
  * `n < k ? n : (k-1) * 2^64 / unsigned(h_k)`. Any engine with xxh64 can
  * therefore BUILD these sketches; any engine at all can CONSUME them
  * (estimate, union via concatenation: duplicate hashes fold on import,
  * bottom-k re-trims — union of two sketches' exported rows imports to
  * their merged sketch). The contract query `hll_kmv_wire_roundtrip`
  * asserts all of this against the builtin; WIRE.md carries the DuckDB
  * replay SQL.
  */
object KmvWire {
  /** Fixed hash id carried on the wire: xxHash64, seed 42. */
  val hashName: String = "XXH64_42"
  val wireType: StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("hashes", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Structural acceptance (names may differ — see [[HllWire.accepts]]). */
  private[functions] def accepts(dt: DataType): Boolean = dt match {
    case StructType(Array(a, b, c)) =>
      a.dataType == IntegerType && b.dataType == StringType &&
        (c.dataType match {
          case ArrayType(LongType, _) => true
          case _ => false
        })
    case _ => false
  }
}

/** `kmv_export(sketchCol)` -> struct(k, hash, hashes): the retained bottom-k
  * hashes as plain SQL data (see [[KmvWire]]). The empty sketch (a stored
  * all-null-group union output, zero bytes) exports as (0, hash, []).
  */
case class KmvExport(child: Expression)
  extends UnaryExpression with CodegenFallback with BinarySketchInput {

  override def dataType: DataType = KmvWire.wireType

  override def nullSafeEval(v: Any): Any = {
    val s = SketchFamily.kmv.read(v.asInstanceOf[Array[Byte]])
    val hn = UTF8String.fromString(KmvWire.hashName)
    if (s == null)
      return InternalRow(0, hn,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]))
    val out = new Array[Any](s.values.size)
    val it = s.values.iterator() // TreeSet iterates in ascending unsigned order
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    InternalRow(s.k, hn,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out))
  }

  override protected def withNewChildInternal(c: Expression): KmvExport = copy(child = c)
  override def prettyName: String = "kmv_export"
}

/** `kmv_import(wireStruct)` -> Binary: rebuild a stored sketch from the
  * portable hash listing (see [[KmvWire]]). Inverse of [[KmvExport]]:
  * import(export(s)) serializes byte-identically to s. Order-insensitive;
  * duplicate hashes fold and anything beyond the bottom k is re-trimmed, so
  * unioning two sketches' exported rows imports to their merged sketch.
  */
case class KmvImport(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (KmvWire.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires struct(k INT, hash STRING, hashes ARRAY<BIGINT>), " +
        s"got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any = {
    val row = v.asInstanceOf[InternalRow]
    val k = row.getInt(0)
    val hash = row.getUTF8String(1).toString
    require(hash == KmvWire.hashName,
      s"kmv_import: wire hash '$hash' != '${KmvWire.hashName}' — sketches " +
        "built under a different hash cannot merge with this family")
    val hs = row.getArray(2)
    if (k == 0) {
      require(hs.numElements() == 0,
        s"kmv_import: k=0 (empty sketch) with ${hs.numElements()} hashes")
      return Array.emptyByteArray
    }
    require(k >= 2, s"kmv_import: k must be >= 2 or 0 (empty), got $k")
    val s = new KmvSketch(k)
    var i = 0
    while (i < hs.numElements()) { s.addHash(hs.getLong(i)); i += 1 }
    s.serialize()
  }

  override protected def withNewChildInternal(c: Expression): KmvImport = copy(child = c)
  override def prettyName: String = "kmv_import"
}

/** `kmv_difference_estimate(a, b)` -> DOUBLE |A \ B| estimate (a-not-b). */
case class KmvDifferenceEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinarySketchPair {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val sa = SketchFamily.kmv.read(a.asInstanceOf[Array[Byte]])
    val sb = SketchFamily.kmv.read(b.asInstanceOf[Array[Byte]])
    // empty A has nothing to subtract from; empty B subtracts nothing
    if (sa == null) 0.0
    else if (sb == null) sa.estimate
    else KmvSketch.differenceEstimate(sa, sb)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvDifferenceEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "kmv_difference_estimate"
}
