package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Misra-Gries frequency sketch (heavy hitters / approximate
  * top-k). Bounded state: at most `capacity` counters; any item with true
  * frequency > n/capacity is guaranteed present, and reported counts
  * undercount by at most n/capacity. When capacity >= distinct items the
  * counts are EXACT. Merge sums counters then re-truncates (the standard
  * mergeable-MG construction), so partial/final aggregation and stored-
  * sketch re-aggregation work like the HLL family.
  */
final class TopKSketch(val capacity: Int) extends Serializable {
  val counts = new java.util.HashMap[String, Long]()

  def add(item: String, n: Long = 1L): Unit = {
    val cur = counts.get(item)
    if (counts.containsKey(item)) counts.put(item, cur + n)
    else {
      counts.put(item, n)
      if (counts.size > capacity) truncate(counts.size - capacity)
    }
  }

  /** Subtract the k-th-largest-beyond-capacity offset and drop <=0 (batch
    * decrement — equivalent to repeated MG decrements).
    */
  private def truncate(excess: Int): Unit = {
    val vals = new Array[Long](counts.size)
    val it0 = counts.values().iterator()
    var i = 0
    while (it0.hasNext) { vals(i) = it0.next(); i += 1 }
    java.util.Arrays.sort(vals)
    val dec = vals(excess - 1) // smallest `excess` counters die
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - dec
      if (nv <= 0) it.remove() else e.setValue(nv)
    }
  }

  def merge(other: TopKSketch): TopKSketch = {
    // mismatched capacities must fail loudly (same rule as CmsSketch.merge):
    // silently merging would make the result's truncation threshold — and
    // in the decrement regime the surviving entries — depend on partition
    // merge order, breaking run-to-run determinism
    require(other.capacity == capacity,
      s"cannot merge topk(capacity=$capacity) with topk(capacity=${other.capacity})")
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counts.get(e.getKey)
      counts.put(e.getKey, (if (counts.containsKey(e.getKey)) cur else 0L) + e.getValue)
    }
    if (counts.size > capacity) truncate(counts.size - capacity)
    this
  }

  /** Top-k by (count desc, item asc) — deterministic. */
  def topK(k: Int): Array[(String, Long)] = {
    val arr = new Array[(String, Long)](counts.size)
    val it = counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey, e.getValue); i += 1 }
    arr.sortBy { case (item, c) => (-c, item) }.take(k)
  }

  def serialize(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(capacity)
    out.writeInt(counts.size)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(e.getValue)
    }
    bos.toByteArray
  }
}

object TopKSketch {
  /** Capacity bound, enforced at EVERY parameter entry (aggregate
    * construction, wire import, byte deserialize) so a sketch the builders
    * accept is always one the readers accept.
    */
  val maxCapacity: Int = 1 << 24

  /** Stored sketches cross trust boundaries (SQL-surface binary args, wire
    * tables), so corrupt bytes must fail the cheap header checks BEFORE any
    * length-driven allocation — an adversarial entry length would otherwise
    * drive a 2 GB `new Array[Byte]` (same hardening as HllSketch round 4).
    */
  def deserialize(bytes: Array[Byte]): TopKSketch = {
    require(bytes.length >= 8, s"topk buffer truncated: ${bytes.length} bytes")
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val capacity = in.readInt()
    require(capacity >= 1 && capacity <= maxCapacity,
      s"topk capacity out of range: $capacity")
    val n = in.readInt()
    require(n >= 0 && n <= capacity,
      s"topk entry count out of range: $n for capacity $capacity")
    // every entry needs >= 12 bytes (len int + >=0 utf8 + count long): a
    // huge n on a short buffer dies here, not on EOF mid-loop
    require(bytes.length.toLong >= 8L + 12L * n,
      s"topk buffer length ${bytes.length} too short for $n entries")
    val s = new TopKSketch(capacity)
    var remaining = bytes.length - 8
    var i = 0
    while (i < n) {
      val len = in.readInt()
      remaining -= 4
      require(len >= 0 && len <= remaining - 8,
        s"topk entry $i: utf8 length $len exceeds remaining $remaining bytes")
      val b = new Array[Byte](len); in.readFully(b)
      val count = in.readLong()
      remaining -= len + 8
      require(count > 0, s"topk entry $i: non-positive count $count")
      s.counts.put(new String(b, java.nio.charset.StandardCharsets.UTF_8), count)
      i += 1
    }
    // an understated entry count must not silently drop trailing entries
    require(remaining == 0,
      s"topk buffer has $remaining trailing bytes after $n entries — corrupt count")
    s
  }
}

/** `approx_top_k(col, k, capacity)` -> array<struct<item string, count
  * long>> sorted by (count desc, item asc).
  */
case class ApproxTopK(
    child: Expression,
    k: Int = 10,
    capacity: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[TopKSketch] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING input, got ${child.dataType.sql}")
    else if (k < 1 || capacity < k || capacity > TopKSketch.maxCapacity)
      TypeCheckResult.TypeCheckFailure(
        s"need 1 <= k <= capacity <= ${TopKSketch.maxCapacity}, got k=$k capacity=$capacity")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count", LongType, nullable = false))), containsNull = false)

  override def codec: SketchCodec[TopKSketch] = SketchFamily.topk
  override def createAggregationBuffer(): TopKSketch = new TopKSketch(capacity)
  override protected def add(buffer: TopKSketch, v: Any): Unit =
    buffer.add(v.asInstanceOf[UTF8String].toString)

  override def eval(buffer: TopKSketch): Any =
    new GenericArrayData(buffer.topK(k).map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    })

  override def withNewMutableAggBufferOffset(o: Int): ApproxTopK = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ApproxTopK = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): ApproxTopK = copy(child = c)
  override def prettyName: String = "approx_top_k"
}

/** `topk_sketch_agg(col, capacity)` -> BinaryType stored MG sketch — the
  * sketch-warehouse variant of [[ApproxTopK]] (store per-(day, group)
  * sketches once, merge with `topk_union_agg` and read top-k at any later
  * rollup, with the standard MG decrement preserving the
  * frequency > n/capacity retention guarantee). Same state, same merge;
  * eval keeps the bytes instead of finalizing to an array.
  */
case class TopKSketchAgg(
    child: Expression,
    capacity: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[TopKSketch] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING input, got ${child.dataType.sql}")
    else if (capacity < 1 || capacity > TopKSketch.maxCapacity)
      TypeCheckResult.TypeCheckFailure(
        s"need 1 <= capacity <= ${TopKSketch.maxCapacity}, got $capacity")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def codec: SketchCodec[TopKSketch] = SketchFamily.topk
  override def createAggregationBuffer(): TopKSketch = new TopKSketch(capacity)
  override protected def add(buffer: TopKSketch, v: Any): Unit =
    buffer.add(v.asInstanceOf[UTF8String].toString)
  override def eval(buffer: TopKSketch): Any = buffer.serialize()
  override def withNewMutableAggBufferOffset(o: Int): TopKSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TopKSketchAgg = copy(child = c)
  override def prettyName: String = "topk_sketch_agg"
}

/** Misra-Gries row-wire layout (see WIRE.md): capacity + the retained
  * (item, count) entries, ordered by (count DESC, item ASC) so the export
  * is deterministic even though the in-memory hash map is not.
  */
object TopKWire {
  val entryType: StructType = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))
  val wireType: StructType = StructType(Seq(
    StructField("capacity", IntegerType, nullable = false),
    StructField("entries", ArrayType(entryType, containsNull = false), nullable = false)))

  /** Structural acceptance (names may differ — same rule as HllWire). */
  private[functions] def accepts(dt: DataType): Boolean = dt match {
    case StructType(Array(a, b)) =>
      a.dataType == IntegerType && (b.dataType match {
        case ArrayType(StructType(Array(x, y)), _) =>
          x.dataType == StringType && y.dataType == LongType
        case _ => false
      })
    case _ => false
  }
}

/** `topk_export(sketch)` -> struct(capacity, entries): the retained MG
  * counters as plain SQL data, (count DESC, item ASC) ordered. Two sketches'
  * exports merge in any engine by summing counts per item and applying the
  * standard MG decrement when over capacity; [[TopKImport]] is the inverse
  * (semantic — the byte wire's map order is not canonical, so roundtrip
  * identity is export(import(export(s))) == export(s)).
  */
case class TopKExport(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback
  with BinarySketchInput {

  override def dataType: DataType = TopKWire.wireType

  override def nullSafeEval(v: Any): Any = {
    val s = SketchFamily.topk.read(v.asInstanceOf[Array[Byte]])
    if (s == null) // empty set -> (0, []) wire
      return InternalRow(0,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]))
    val sorted = s.topK(Int.MaxValue) // (count DESC, item ASC) — all entries
    val out = new Array[Any](sorted.length)
    var i = 0
    while (i < sorted.length) {
      out(i) = InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(sorted(i)._1),
        sorted(i)._2)
      i += 1
    }
    InternalRow(s.capacity,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out))
  }

  override protected def withNewChildInternal(c: Expression): TopKExport = copy(child = c)
  override def prettyName: String = "topk_export"
}

/** `topk_import(wireStruct)` -> Binary: rebuild a stored MG sketch from
  * exported entries. Duplicate items fold additively; if the entry set
  * exceeds capacity the standard MG decrement applies (the same rule the
  * aggregate's merge uses), so unioned exports import to a valid summary.
  */
case class TopKImport(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (TopKWire.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires struct(capacity INT, entries ARRAY<STRUCT<item STRING, " +
        s"n BIGINT>>), got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any = {
    val row = v.asInstanceOf[InternalRow]
    val capacity = row.getInt(0)
    if (capacity == 0) { // the empty-sketch wire
      require(row.getArray(1).numElements() == 0,
        "topk_import: capacity 0 (empty sketch) with entries")
      return Array.emptyByteArray
    }
    require(capacity >= 1 && capacity <= TopKSketch.maxCapacity,
      s"topk_import: capacity must be in [1, ${TopKSketch.maxCapacity}], got $capacity")
    val s = new TopKSketch(capacity)
    val es = row.getArray(1)
    var i = 0
    while (i < es.numElements()) {
      // wire rows are untrusted: reject null elements/items cleanly rather
      // than letting getStruct/getUTF8String-on-null die with an NPE
      require(!es.isNullAt(i), s"topk_import: null entry at $i")
      val e = es.getStruct(i, 2)
      require(!e.isNullAt(0), s"topk_import: null item at $i")
      val n = e.getLong(1)
      require(n > 0, s"topk_import: non-positive count at $i")
      s.add(e.getUTF8String(0).toString, n)
      i += 1
    }
    s.serialize()
  }

  override protected def withNewChildInternal(c: Expression): TopKImport = copy(child = c)
  override def prettyName: String = "topk_import"
}
