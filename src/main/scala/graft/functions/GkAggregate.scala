package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.catalyst.util.QuantileSummaries.Stats
import org.apache.spark.sql.types._

/** Greenwald-Khanna quantile summary as a STORED, re-mergeable BinaryType
  * value — the quantile member of the sketch warehouse (HLL = distinct,
  * Misra-Gries = heavy hitters, Count-Min = frequencies, GK = quantiles).
  * `approx_percentile` answers one query inline; storing the summary
  * instead lets a per-(day, group) sketch table answer ANY later percentile
  * at ANY rollup via `gk_union_agg` without rescanning raw data.
  *
  * Wraps Spark's own `QuantileSummaries` (the engine under
  * `approx_percentile`): rank error <= relativeError × n, state
  * O(1/relativeError · log(εn)). The wire format is (relativeError,
  * compressThreshold, count, sampled (value, g, delta) triples) — the
  * summary's complete state, so stored sketches merge losslessly with the
  * same guarantee.
  */
final class GkBuffer(val relativeError: Double) extends Serializable {
  var summaries: QuantileSummaries = new QuantileSummaries(
    QuantileSummaries.defaultCompressThreshold, relativeError,
    Array.empty[Stats], 0L, false)
  private var sinceCompress: Int = 0

  // compress on the head-flush cadence: measured 3x faster at 100M rows
  // than relying on insert()'s internal flush alone (16 s vs 48 s), and
  // 2x faster than compressing every compressThreshold inserts (30 s)
  def add(v: Double): Unit = {
    summaries = summaries.insert(v)
    sinceCompress += 1
    if (sinceCompress >= QuantileSummaries.defaultHeadSize) {
      summaries = summaries.compress()
      sinceCompress = 0
    }
  }

  /** GK merge requires both sides flushed+compressed. */
  def compressed(): QuantileSummaries = {
    if (!summaries.compressed) summaries = summaries.compress()
    sinceCompress = 0 // stay on the flush boundary after serialize/merge
    summaries
  }

  def merge(other: GkBuffer): GkBuffer = {
    summaries = compressed().merge(other.compressed())
    this
  }

  def serialize(): Array[Byte] = {
    val s = compressed()
    val n = s.sampled.length
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 8 + 4 + 24 * n)
    bb.putDouble(s.relativeError).putInt(s.compressThreshold)
      .putLong(s.count).putInt(n)
    var i = 0
    while (i < n) {
      val st = s.sampled(i)
      bb.putDouble(st.value).putLong(st.g).putLong(st.delta)
      i += 1
    }
    bb.array()
  }
}

object GkBuffer {
  def deserialize(bytes: Array[Byte]): GkBuffer = {
    require(bytes.length >= 24, s"gk buffer truncated: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val relErr = bb.getDouble
    val threshold = bb.getInt
    val count = bb.getLong
    val n = bb.getInt
    // header sanity BEFORE the n-sized allocation: stored sketches cross
    // trust boundaries (SQL binary args, wire tables), and a corrupt
    // header must not drive a multi-GB Array[Stats] or a nonsense summary
    require(relErr > 0.0 && relErr < 1.0, s"gk rel_err $relErr not in (0, 1)")
    require(threshold >= 1, s"gk compress threshold out of range: $threshold")
    require(count >= 0, s"gk negative count $count")
    require(n >= 0 && bytes.length.toLong == 24L + 24L * n,
      s"gk buffer length ${bytes.length} != ${24L + 24L * n} for $n samples")
    val sampled = new Array[Stats](n)
    var i = 0
    while (i < n) {
      sampled(i) = Stats(bb.getDouble, bb.getLong, bb.getLong)
      i += 1
    }
    val b = new GkBuffer(relErr)
    b.summaries = new QuantileSummaries(threshold, relErr, sampled, count, true)
    b
  }
}

/** `gk_sketch_agg(col, relativeError)` -> BinaryType quantile summary. */
case class GkSketchAgg(
    child: Expression,
    relativeError: Double = 0.01,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[GkBuffer] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires DOUBLE input, got ${child.dataType.sql}")
    else if (relativeError <= 0 || relativeError >= 1)
      TypeCheckResult.TypeCheckFailure(s"need 0 < relativeError < 1, got $relativeError")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def codec: SketchCodec[GkBuffer] = SketchFamily.gk
  override def createAggregationBuffer(): GkBuffer = new GkBuffer(relativeError)
  override protected def add(buffer: GkBuffer, v: Any): Unit = buffer.add(v.asInstanceOf[Double])
  override def eval(buffer: GkBuffer): Any = buffer.serialize()
  override def withNewMutableAggBufferOffset(o: Int): GkSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GkSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): GkSketchAgg = copy(child = c)
  override def prettyName: String = "gk_sketch_agg"
}

/** `gk_quantile(sketch, q)` -> DoubleType approximate quantile (null for an
  * empty sketch). Deserializes per call — lookup-style use only.
  */
case class GkQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BINARY sketch, DOUBLE quantile), got (${left.dataType.sql}, ${right.dataType.sql})")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  // an empty sketch yields null even when both inputs are non-null
  override def nullable: Boolean = true

  override protected def nullSafeEval(sk: Any, q: Any): Any = {
    val quantile = q.asInstanceOf[Double]
    require(quantile >= 0.0 && quantile <= 1.0, s"quantile $quantile not in [0, 1]")
    GkBuffer.deserialize(sk.asInstanceOf[Array[Byte]])
      .compressed().query(quantile) match {
      case Some(v) => v
      case None => null
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GkQuantile =
    copy(left = l, right = r)
  override def prettyName: String = "gk_quantile"
}

/** GK row-wire layout (see WIRE.md): the summary's COMPLETE state — header
  * params + the Greenwald-Khanna tuples — as plain SQL data. The tuples are
  * the textbook (value, g, delta) triples in value order, so any GK
  * implementation can merge them or answer rank queries within
  * relativeError × count; no Spark types on the wire.
  */
object GkWire {
  val tupleType: StructType = StructType(Seq(
    StructField("v", DoubleType, nullable = false),
    StructField("g", LongType, nullable = false),
    StructField("delta", LongType, nullable = false)))
  val wireType: StructType = StructType(Seq(
    StructField("rel_err", DoubleType, nullable = false),
    StructField("threshold", IntegerType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("tuples", ArrayType(tupleType, containsNull = false), nullable = false)))

  /** Structural acceptance (names may differ — same rule as HllWire). */
  private[functions] def accepts(dt: DataType): Boolean = dt match {
    case StructType(Array(a, b, c, d)) =>
      a.dataType == DoubleType && b.dataType == IntegerType &&
        c.dataType == LongType && (d.dataType match {
          case ArrayType(StructType(Array(x, y, z)), _) =>
            x.dataType == DoubleType && y.dataType == LongType &&
              z.dataType == LongType
          case _ => false
        })
    case _ => false
  }
}

/** `gk_export(sketch)` -> struct(rel_err, threshold, count, tuples): the
  * complete summary state as SQL rows (see [[GkWire]]). Tuples keep their
  * value order; import(export(s)) serializes byte-identically.
  */
case class GkExport(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback
  with BinarySketchInput {

  override def dataType: DataType = GkWire.wireType

  override def nullSafeEval(v: Any): Any = {
    val s = GkBuffer.deserialize(v.asInstanceOf[Array[Byte]]).compressed()
    val out = new Array[Any](s.sampled.length)
    var i = 0
    while (i < s.sampled.length) {
      val st = s.sampled(i)
      out(i) = InternalRow(st.value, st.g, st.delta)
      i += 1
    }
    InternalRow(s.relativeError, s.compressThreshold, s.count,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out))
  }

  override protected def withNewChildInternal(c: Expression): GkExport = copy(child = c)
  override def prettyName: String = "gk_export"
}

/** `gk_import(wireStruct)` -> Binary: rebuild a stored summary from the
  * portable tuple listing. Inverse of [[GkExport]]; tuples must be in
  * ascending value order (the GK invariant — enforced, because a scrambled
  * summary would silently answer wrong ranks).
  */
case class GkImport(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (GkWire.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires struct(rel_err DOUBLE, threshold INT, count BIGINT, " +
        s"tuples ARRAY<STRUCT<v DOUBLE, g BIGINT, delta BIGINT>>), got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any = {
    val row = v.asInstanceOf[InternalRow]
    val relErr = row.getDouble(0)
    val threshold = row.getInt(1)
    val count = row.getLong(2)
    val ts = row.getArray(3)
    require(relErr > 0.0 && relErr < 1.0, s"gk_import: rel_err $relErr not in (0, 1)")
    require(threshold >= 1, s"gk_import: compress threshold out of range: $threshold")
    require(count >= 0, s"gk_import: negative count $count")
    val sampled = new Array[Stats](ts.numElements())
    var i = 0
    var gSum = 0L
    while (i < sampled.length) {
      // wire rows are untrusted: reject null elements cleanly rather than
      // letting getStruct-on-null die with an NPE
      require(!ts.isNullAt(i), s"gk_import: null tuple at $i")
      val t = ts.getStruct(i, 3)
      val st = Stats(t.getDouble(0), t.getLong(1), t.getLong(2))
      require(i == 0 || st.value >= sampled(i - 1).value,
        s"gk_import: tuples out of value order at $i (${st.value} < ${sampled(i - 1).value})")
      require(st.g >= 0 && st.delta >= 0, s"gk_import: negative g/delta at $i")
      gSum += st.g
      // check INSIDE the loop: g values near Long.Max could wrap gSum
      // negative and sneak a corrupt summary past a post-loop check
      require(gSum >= 0 && gSum <= count,
        s"gk_import: running g sum $gSum exceeds count ($count) at tuple $i")
      sampled(i) = st
      i += 1
    }
    // the GK invariant: sampled g's sum to EXACTLY the observed count — a
    // truncated tuple list passes every running check but fails this one,
    // and importing it would yield silently-wrong quantiles
    require(gSum == count,
      s"gk_import: tuple g sum $gSum != count $count (truncated tuple list?)")
    val b = new GkBuffer(relErr)
    b.summaries = new QuantileSummaries(threshold, relErr, sampled, count, true)
    b.serialize()
  }

  override protected def withNewChildInternal(c: Expression): GkImport = copy(child = c)
  override def prettyName: String = "gk_import"
}
