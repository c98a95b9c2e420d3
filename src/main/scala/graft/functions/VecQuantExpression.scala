package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-dimension (min, max) ranges of an embedding corpus — the calibration
  * pass of affine int8 quantization. Mutable elementwise fold: constant
  * state (2 doubles per dimension) regardless of row count, partial+final
  * aggregation planned by Catalyst like every sketch in the family — the
  * 100 TB calibration is one map-side-combined pass, never a collect.
  */
final class VecMinMax extends Serializable {
  var mins: Array[Double] = null
  var maxs: Array[Double] = null

  def update(v: ArrayData, isFloat: Boolean): Unit = {
    val n = v.numElements()
    if (mins == null) {
      mins = Array.fill(n)(Double.PositiveInfinity)
      maxs = Array.fill(n)(Double.NegativeInfinity)
    }
    require(n == mins.length,
      s"vec_minmax_agg: ragged input — ${n} dims vs ${mins.length}")
    var i = 0
    while (i < n) {
      // null elements would read as 0.0 through getFloat/getDouble and
      // silently corrupt the calibration — same policy as ragged input
      require(!v.isNullAt(i), s"vec_minmax_agg: null element at dimension $i")
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      if (VecMinMax.below(x, mins(i))) mins(i) = x
      if (VecMinMax.below(maxs(i), x)) maxs(i) = x
      i += 1
    }
  }

  def merge(o: VecMinMax): VecMinMax = {
    if (o.mins == null) return this
    if (mins == null) { mins = o.mins; maxs = o.maxs; return this }
    require(o.mins.length == mins.length,
      s"vec_minmax_agg: ragged merge — ${o.mins.length} dims vs ${mins.length}")
    var i = 0
    while (i < mins.length) {
      if (VecMinMax.below(o.mins(i), mins(i))) mins(i) = o.mins(i)
      if (VecMinMax.below(maxs(i), o.maxs(i))) maxs(i) = o.maxs(i)
      i += 1
    }
    this
  }

  def serialize(): Array[Byte] = {
    val n = if (mins == null) 0 else mins.length
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(mins(i)); bb.putDouble(maxs(i)); i += 1 }
    bb.array()
  }
}

object VecMinMax extends OrderFreeCodec[VecMinMax] {
  /** a < b, with -0.0 below 0.0 so that neither zero wins by arriving
    * first; NaN is never below or above anything, so it never enters.
    */
  @inline def below(a: Double, b: Double): Boolean =
    a < b || (a == b && java.lang.Double.compare(a, b) < 0)

  def write(s: VecMinMax): Array[Byte] = s.serialize()
  def merge(a: VecMinMax, b: VecMinMax): VecMinMax = a.merge(b)
  def footprint(s: VecMinMax): Long = if (s.mins == null) 0L else 16L * s.mins.length
  def read(bytes: Array[Byte]): VecMinMax = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    require(bytes.length == 4 + 16 * n, s"vec_minmax buffer corrupt: ${bytes.length} bytes for n=$n")
    val s = new VecMinMax
    if (n > 0) {
      s.mins = new Array[Double](n)
      s.maxs = new Array[Double](n)
      var i = 0
      while (i < n) { s.mins(i) = bb.getDouble; s.maxs(i) = bb.getDouble; i += 1 }
    }
    s
  }
}

/** `vec_minmax_agg(vec)` -> ARRAY<STRUCT<mn DOUBLE, mx DOUBLE>> (one entry
  * per dimension; empty array for an all-null group). Input is
  * ARRAY<FLOAT> or ARRAY<DOUBLE>; all vectors in a group must share the
  * dimension (ragged input is an error, not a silent truncation).
  */
case class VecMinMaxAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[VecMinMax] {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("mn", DoubleType, nullable = false),
      StructField("mx", DoubleType, nullable = false))), containsNull = false)

  override def codec: SketchCodec[VecMinMax] = VecMinMax
  override def createAggregationBuffer(): VecMinMax = new VecMinMax
  override protected def add(buffer: VecMinMax, v: Any): Unit =
    buffer.update(v.asInstanceOf[ArrayData], isFloat)

  override def eval(buffer: VecMinMax): Any = {
    val n = if (buffer.mins == null) 0 else buffer.mins.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = InternalRow(buffer.mins(i), buffer.maxs(i)); i += 1 }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(o: Int): VecMinMaxAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecMinMaxAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): VecMinMaxAgg = copy(child = c)
  override def prettyName: String = "vec_minmax_agg"
}

private[functions] object VecQuant {
  /** Shared range-struct acceptance: ARRAY<STRUCT<double, double>>. */
  def rangesOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(a, b)), _) =>
      a.dataType == DoubleType && b.dataType == DoubleType
    case _ => false
  }

  def vecElem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
}

/** `vec_quantize8(vec, ranges)` -> BINARY: affine per-dimension int8
  * quantization against a [[VecMinMaxAgg]] calibration —
  * `q_i = round((v_i - mn_i) * 255 / (mx_i - mn_i))` clamped to [0, 255]
  * (degenerate dimension mn==mx -> 0). One byte per dimension: 4x smaller
  * than float32 at a reconstruction error <= step/2 per dimension — the
  * standard storage/recall trade for a 100 TB embedding corpus (values
  * outside the calibrated range, e.g. vectors arriving after calibration,
  * clamp to the range edge).
  */
case class VecQuantize8(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  private lazy val isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), r) if VecQuant.rangesOk(r) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, ARRAY<STRUCT<mn DOUBLE, mx DOUBLE>>), " +
        s"got (${l.sql}, ${r.sql})")
  }

  override def dataType: DataType = BinaryType

  override def nullSafeEval(vv: Any, rr: Any): Any = {
    val v = vv.asInstanceOf[ArrayData]
    val ranges = rr.asInstanceOf[ArrayData]
    val n = v.numElements()
    require(ranges.numElements() == n,
      s"vec_quantize8: ${n}-dim vector vs ${ranges.numElements()}-dim ranges")
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      require(!v.isNullAt(i), s"vec_quantize8: null element at dimension $i")
      require(!ranges.isNullAt(i), s"vec_quantize8: null range at dimension $i")
      val r = ranges.getStruct(i, 2)
      val mn = r.getDouble(0)
      val mx = r.getDouble(1)
      val x = VecQuant.vecElem(v, i, isFloat)
      val q = if (mx <= mn) 0L
        else math.round((x - mn) * 255.0 / (mx - mn))
      out(i) = math.max(0L, math.min(255L, q)).toInt.toByte
      i += 1
    }
    out
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecQuantize8 =
    copy(left = l, right = r)
  override def prettyName: String = "vec_quantize8"
}

/** `vec_dequantize8(bytes, ranges)` -> ARRAY<DOUBLE>: reconstruction
  * `v'_i = mn_i + q_i * (mx_i - mn_i) / 255` — inverse of [[VecQuantize8]]
  * up to step/2 per dimension.
  */
case class VecDequantize8(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, r) if VecQuant.rangesOk(r) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BINARY, ARRAY<STRUCT<mn DOUBLE, mx DOUBLE>>), " +
        s"got (${l.sql}, ${r.sql})")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(bb: Any, rr: Any): Any = {
    val bytes = bb.asInstanceOf[Array[Byte]]
    val ranges = rr.asInstanceOf[ArrayData]
    require(ranges.numElements() == bytes.length,
      s"vec_dequantize8: ${bytes.length}-dim code vs ${ranges.numElements()}-dim ranges")
    val out = new Array[Any](bytes.length)
    var i = 0
    while (i < bytes.length) {
      require(!ranges.isNullAt(i), s"vec_dequantize8: null range at dimension $i")
      val r = ranges.getStruct(i, 2)
      val mn = r.getDouble(0)
      val mx = r.getDouble(1)
      val q = bytes(i) & 0xFF
      out(i) = if (mx <= mn) mn else mn + q * (mx - mn) / 255.0
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDequantize8 =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dequantize8"
}
