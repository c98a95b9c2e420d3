package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch: mergeable frequency estimates for ARBITRARY keys in
  * `depth × width` longs of state — the complement to Misra-Gries
  * ([[TopKSketch]]), which only retains the heavy hitters. Lookup returns
  * the minimum of `depth` counters; estimates NEVER undercount and
  * overcount by at most `2n/width` with probability `1 − 2^−depth`
  * (Cormode & Muthukrishnan 2005). When `width` comfortably exceeds the
  * distinct-key count, collisions are improbable in every row and counts
  * are exact in practice.
  *
  * Counter rows use Kirsch-Mitzenmacher double hashing (`h1 + i·h2`) over
  * two fixed-seed murmur hashes — deterministic across partitions, JVMs,
  * and merges. Merge is element-wise counter addition, so the sketch gets
  * Catalyst partial/final aggregation and stored-sketch re-aggregation
  * exactly like the HLL family.
  */
final class CmsSketch(val depth: Int, val width: Int) extends Serializable {
  val counts = new Array[Long](depth * width)
  var total: Long = 0L

  // the two base hashes are computed ONCE per add/query (that is the point
  // of Kirsch-Mitzenmacher double hashing); force h2 odd so strides cover
  // the table, floorMod keeps each row index in range
  @inline private def row(h1: Long, h2: Long, d: Int): Int =
    java.lang.Math.floorMod(h1 + d.toLong * h2, width.toLong).toInt

  @inline private def hashes(item: String): (Long, Long) = (
    scala.util.hashing.MurmurHash3.stringHash(item, 0x9747b28c).toLong,
    scala.util.hashing.MurmurHash3.stringHash(item, 0x85ebca6b).toLong | 1L)

  def add(item: String, n: Long = 1L): Unit = {
    val (h1, h2) = hashes(item)
    var d = 0
    while (d < depth) { counts(d * width + row(h1, h2, d)) += n; d += 1 }
    total += n
  }

  def query(item: String): Long = {
    val (h1, h2) = hashes(item)
    var est = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = counts(d * width + row(h1, h2, d))
      if (c < est) est = c
      d += 1
    }
    est
  }

  def merge(other: CmsSketch): CmsSketch = {
    require(other.depth == depth && other.width == width,
      s"cannot merge cms($depth,$width) with cms(${other.depth},${other.width})")
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    total += other.total
    this
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + 8 * counts.length)
    bb.putInt(depth).putInt(width).putLong(total)
    var i = 0
    while (i < counts.length) { bb.putLong(counts(i)); i += 1 }
    bb.array()
  }
}

object CmsSketch {
  /** Allocation bound for (depth × width), enforced wherever parameters
    * enter (aggregate construction, byte/row imports): 2^24 longs = 128 MB
    * — far above any sensible sketch, far below an executor-killing one.
    */
  val maxCells: Long = 1L << 24

  /** The counter cells item hits, one per row: `w(d) = floorMod(h1+d*h2,
    * width)` (Kirsch-Mitzenmacher; see WIRE.md). Engine-portable query
    * handshake: engine A ships positions alongside exported counters so
    * engine B can answer `min(counter[d][w(d)])` with NO murmur
    * implementation of its own.
    */
  def positions(item: String, depth: Int, width: Int): Array[Int] = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(item, 0x9747b28c).toLong
    val h2 = scala.util.hashing.MurmurHash3.stringHash(item, 0x85ebca6b).toLong | 1L
    Array.tabulate(depth)(d =>
      java.lang.Math.floorMod(h1 + d.toLong * h2, width.toLong).toInt)
  }

  def deserialize(bytes: Array[Byte]): CmsSketch = {
    require(bytes.length >= 16, s"cms buffer truncated: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val depth = bb.getInt
    val width = bb.getInt
    // validate the header BEFORE allocating depth*width longs: corrupt
    // bytes must not drive a multi-GB allocation, and the expected-length
    // check runs in long math so it can't wrap
    require(depth >= 1 && depth <= 16 && width >= 2 &&
        depth.toLong * width <= maxCells,
      s"cms header out of range: depth=$depth width=$width (cells capped at $maxCells)")
    require(bytes.length.toLong == 16L + 8L * depth * width,
      s"cms buffer length ${bytes.length} != ${16L + 8L * depth * width}")
    val s = new CmsSketch(depth, width)
    s.total = bb.getLong
    var i = 0
    while (i < s.counts.length) { s.counts(i) = bb.getLong; i += 1 }
    s
  }
}

/** `cms_sketch_agg(col, depth, width)` -> BinaryType sketch value. */
case class CmsSketchAgg(
    child: Expression,
    depth: Int = 5,
    width: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CmsSketch] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING input, got ${child.dataType.sql}")
    else if (depth < 1 || depth > 16 || width < 2 ||
        depth.toLong * width > CmsSketch.maxCells)
      TypeCheckResult.TypeCheckFailure(
        s"need 1 <= depth <= 16, width >= 2, depth*width <= ${CmsSketch.maxCells}, " +
          s"got depth=$depth width=$width")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def codec: SketchCodec[CmsSketch] = SketchFamily.cms
  override def createAggregationBuffer(): CmsSketch = new CmsSketch(depth, width)
  override protected def add(buffer: CmsSketch, v: Any): Unit =
    buffer.add(v.asInstanceOf[UTF8String].toString)
  override def eval(buffer: CmsSketch): Any = buffer.serialize()
  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CmsSketchAgg = copy(child = c)
  override def prettyName: String = "cms_sketch_agg"
}

/** `cms_query(sketch, item)` -> LongType frequency estimate (never an
  * undercount; 0 for the empty sketch). Deserializes the sketch per call —
  * fine for lookup-style use (few rows against a broadcast sketch); for
  * bulk lookups join the exact aggregate instead.
  */
case class CmsQuery(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BINARY sketch, STRING item), got (${left.dataType.sql}, ${right.dataType.sql})")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType

  override protected def nullSafeEval(sk: Any, item: Any): Any = {
    val s = SketchFamily.cms.read(sk.asInstanceOf[Array[Byte]])
    if (s == null) 0L else s.query(item.asInstanceOf[UTF8String].toString)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsQuery =
    copy(left = l, right = r)
  override def prettyName: String = "cms_query"
}

/** CMS row-wire layout (see WIRE.md): header params + the NON-ZERO counter
  * cells as plain SQL rows. Sparse on purpose — a depth×width table whose
  * width far exceeds the distinct-key count (the recommended sizing) is
  * mostly zeros, and any engine can merge exports by summing cell counts
  * grouped on (d, w).
  */
object CmsWire {
  val cellType: StructType = StructType(Seq(
    StructField("d", IntegerType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false)))
  val wireType: StructType = StructType(Seq(
    StructField("depth", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("total", LongType, nullable = false),
    StructField("cells", ArrayType(cellType, containsNull = false), nullable = false)))

  /** Structural acceptance (names may differ — same rule as HllWire). */
  private[functions] def accepts(dt: DataType): Boolean = dt match {
    case StructType(Array(a, b, c, d)) =>
      a.dataType == IntegerType && b.dataType == IntegerType &&
        c.dataType == LongType && (d.dataType match {
          case ArrayType(StructType(Array(x, y, z)), _) =>
            x.dataType == IntegerType && y.dataType == IntegerType &&
              z.dataType == LongType
          case _ => false
        })
    case _ => false
  }
}

/** `cms_export(sketch)` -> struct(depth, width, total, cells): the non-zero
  * counters as plain SQL data, cells ordered by (d, w) ascending so the
  * export is deterministic. See [[CmsWire]].
  */
case class CmsExport(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback
  with BinarySketchInput {

  override def dataType: DataType = CmsWire.wireType

  override def nullSafeEval(v: Any): Any = {
    val s = SketchFamily.cms.read(v.asInstanceOf[Array[Byte]])
    if (s == null) // empty set -> (0, 0, 0, []) wire
      return InternalRow(0, 0, 0L,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]))
    val cells = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < s.counts.length) {
      if (s.counts(i) != 0L)
        cells += InternalRow(i / s.width, i % s.width, s.counts(i))
      i += 1
    }
    InternalRow(s.depth, s.width, s.total,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(cells.toArray))
  }

  override protected def withNewChildInternal(c: Expression): CmsExport = copy(child = c)
  override def prettyName: String = "cms_export"
}

/** `cms_import(wireStruct)` -> Binary: rebuild a stored sketch from exported
  * cells. Inverse of [[CmsExport]] (import(export(s)) serializes
  * byte-identically). Duplicate (d, w) cells fold ADDITIVELY — CMS merge is
  * element-wise addition, so concatenating two sketches' exports and
  * importing yields their merged sketch.
  */
case class CmsImport(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (CmsWire.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires struct(depth INT, width INT, total BIGINT, " +
        s"cells ARRAY<STRUCT<d INT, w INT, n BIGINT>>), got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any = {
    val row = v.asInstanceOf[InternalRow]
    val depth = row.getInt(0)
    val width = row.getInt(1)
    if (depth == 0 && width == 0) { // the empty-sketch wire
      require(row.getLong(2) == 0L && row.getArray(3).numElements() == 0,
        "cms_import: empty header (0, 0) with non-empty total/cells")
      return Array.emptyByteArray
    }
    // bound width AND the product BEFORE `new CmsSketch` allocates
    // depth*width longs — wire rows are untrusted, and a ~100-byte row must
    // not drive a multi-GB allocation or overflow the Int product
    require(depth >= 1 && depth <= 16 && width >= 2 &&
        depth.toLong * width <= CmsSketch.maxCells,
      s"cms_import: header out of range: depth=$depth width=$width " +
        s"(cells capped at ${CmsSketch.maxCells})")
    val s = new CmsSketch(depth, width)
    val total = row.getLong(2)
    require(total >= 0, s"cms_import: negative total $total")
    s.total = total
    val cells = row.getArray(3)
    var i = 0
    while (i < cells.numElements()) {
      // wire rows are untrusted: reject null elements cleanly rather than
      // letting getStruct-on-null die with an NPE
      require(!cells.isNullAt(i), s"cms_import: null cell at $i")
      val c = cells.getStruct(i, 3)
      val d = c.getInt(0)
      val w = c.getInt(1)
      val n = c.getLong(2)
      require(d >= 0 && d < depth && w >= 0 && w < width,
        s"cms_import: cell ($d,$w) outside ${depth}x$width")
      // a negative cell would break the documented never-undercount
      // invariant of cms_query; a ZERO cell is harmless (adds nothing), and
      // engine-portable producers that densely emit every cell including
      // zeros are valid wire writers — accept and skip. Repeated large
      // cells must fail loudly instead of wrapping the Long counter.
      require(n >= 0, s"cms_import: negative cell count $n at ($d,$w)")
      if (n > 0) {
        val idx = d * width + w
        // both sides positive, so overflow iff prev > Max - n; fail with the
        // same clean IllegalArgumentException as every other wire check
        require(s.counts(idx) <= Long.MaxValue - n,
          s"cms_import: cell ($d,$w) overflows Long")
        s.counts(idx) += n
      }
      i += 1
    }
    s.serialize()
  }

  override protected def withNewChildInternal(c: Expression): CmsImport = copy(child = c)
  override def prettyName: String = "cms_import"
}

/** `cms_positions(item, depth, width)` -> ARRAY<INT>: the counter column the
  * item hashes to in each of the `depth` rows. Pairs with [[CmsExport]] to
  * make point queries engine-portable: ship (positions, cells) and any
  * engine answers `min over d of cells[d][positions[d]]` (absent cell = 0)
  * with no murmur implementation — see the DuckDB replay in WIRE.md.
  */
case class CmsPositions(child: Expression, depth: Int, width: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING input, got ${child.dataType.sql}")
    else if (depth < 1 || depth > 16 || width < 2 ||
        depth.toLong * width > CmsSketch.maxCells)
      TypeCheckResult.TypeCheckFailure(
        s"need 1 <= depth <= 16, width >= 2, depth*width <= ${CmsSketch.maxCells}, " +
          s"got depth=$depth width=$width")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      CmsSketch.positions(v.asInstanceOf[UTF8String].toString, depth, width)
        .map(_.asInstanceOf[Any]))

  override protected def withNewChildInternal(c: Expression): CmsPositions = copy(child = c)
  override def prettyName: String = "cms_positions"
}
