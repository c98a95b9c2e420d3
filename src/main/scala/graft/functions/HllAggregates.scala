package graft.functions

import graft.hll.HllSketch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, BinaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{UnaryLike, BinaryLike}
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst aggregate/scalar expressions exposing the reference's HLL
  * capability natively to Spark's planner.
  *
  * The dataflow the reference hand-codes with RDDs
  * (`parallelize -> mapPartitions(sketch) -> reduce(+) -> cardinality`,
  * HLL/examples.py:56-67) falls out of Catalyst's partial/final aggregation
  * for a TypedImperativeAggregate: `update` runs map-side per partition,
  * serialized sketches cross the exchange (occupancy-adaptive wire format:
  * ~4 B per occupied register while sparse, capped at 6 + m bytes dense —
  * never more than m + 6 regardless of input size, so the shuffle stays
  * O(groups * m) worst case and far below it for small groups), `merge`
  * combines on the reduce side, `eval` finalizes. At 100 TB this is the
  * exact plan shape you want: no row-level shuffle for the distinct-count
  * itself, only sketch buffers move.
  *
  * Input is hashed as its string form (reference coerces every element with
  * `str()` before SHA-1, HLL/HyperLogLog.py:110); the function wrappers in
  * [[GraftFunctions]] insert an explicit cast-to-string so longs/ints hash
  * identically to Python (`str(11)` == Spark `CAST(11L AS STRING)`).
  *
  * This base holds what `hll_cardinality` and `hll_sketch_agg` share: the
  * sketch parameters, their check and the per-row add.
  */
abstract class HllBuildAgg extends SketchBuildAgg[HllSketch] {
  def k: Int
  def bits: Int
  /** Digest algorithm, mirroring the reference's `hash_func` parameter
    * (HLL/HyperLogLog.py:58). SHA-1 is the default and bit-parity target.
    */
  def hashName: String

  override def codec: SketchCodec[HllSketch] = SketchFamily.hll
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING input (wrappers cast automatically), got ${child.dataType.sql}")
    else try {
      HllSketch.validateK(k, bits)
      HllSketch.empty(k, bits, hashName) // validates the hash name too
      TypeCheckResult.TypeCheckSuccess
    } catch {
      case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage)
    }

  override def createAggregationBuffer(): HllSketch = HllSketch.empty(k, bits, hashName)

  override protected def add(buffer: HllSketch, v: Any): Unit = {
    val b = v.asInstanceOf[UTF8String].getBytes
    buffer.updateBytes(b, 0, b.length)
  }
}

/** `hll_cardinality(col, k, bits)` -> Double: the reference's flagship
  * distinct-count estimate (HLL/examples.py:16-25, 56-67).
  */
case class HllCardinality(
    child: Expression,
    k: Int = 4096,
    bits: Int = 64,
    hashName: String = "SHA-1",
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllBuildAgg {

  override def dataType: DataType = DoubleType
  override def eval(buffer: HllSketch): Any = buffer.cardinality
  override def withNewMutableAggBufferOffset(o: Int): HllCardinality = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllCardinality = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllCardinality = copy(child = c)
  override def prettyName: String = "hll_cardinality"
}

/** `hll_sketch_agg(col, k, bits)` -> Binary: the sketch itself as a
  * first-class, re-mergeable value (reference yields sketches as data,
  * HLL/examples.py:39-53). Store per-bucket sketches once, re-aggregate
  * across arbitrary dimensions later without rescanning the raw data —
  * the core scale trick for 100 TB distinct-count workloads.
  */
case class HllSketchAgg(
    child: Expression,
    k: Int = 4096,
    bits: Int = 64,
    hashName: String = "SHA-1",
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllBuildAgg {

  override def dataType: DataType = BinaryType
  override def eval(buffer: HllSketch): Any = buffer.serialize()
  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllSketchAgg = copy(child = c)
  override def prettyName: String = "hll_sketch_agg"
}

/** `hll_cardinality_fast(col, k)` -> BIGINT: Spark's own HLL++ (Heule et
  * al.: xxHash64 with seed 42, its bias tables and estimator, through the
  * public `HyperLogLogPlusPlusHelper`), so the estimate is bit-identical to
  * `approx_count_distinct(col, rsd)`. The registers live in one object
  * buffer, an `UnsafeRow` of `numWords` longs over a `byte[]` that crosses
  * the exchange as is: one aggregate-buffer column per register word (820
  * at p = 13, as the builtin has) would make every task generate a
  * projection over all of them. Nulls are skipped; empty input gives 0.
  */
case class HllCardinalityFast(
    child: Expression,
    rsd: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UnsafeRow]
  with UnaryLike[Expression] {

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(rsd)
  @transient private lazy val bufferBytes =
    UnsafeRow.calculateBitSetWidthInBytes(helper.numWords) + 8 * helper.numWords

  override def checkInputDataTypes(): TypeCheckResult =
    try {
      helper
      TypeCheckResult.TypeCheckSuccess
    } catch {
      case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage)
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def defaultResult: Option[Literal] = Some(Literal.create(0L, LongType))

  override def createAggregationBuffer(): UnsafeRow = pointTo(new Array[Byte](bufferBytes))

  private def pointTo(bytes: Array[Byte]): UnsafeRow = {
    val row = new UnsafeRow(helper.numWords)
    row.pointTo(bytes, bytes.length)
    row
  }

  override def update(buffer: UnsafeRow, input: InternalRow): UnsafeRow = {
    val v = child.eval(input)
    if (v != null) helper.update(buffer, 0, v, child.dataType)
    buffer
  }

  override def merge(b1: UnsafeRow, b2: UnsafeRow): UnsafeRow = {
    helper.merge(b1, b2, 0, 0)
    b1
  }

  override def eval(buffer: UnsafeRow): Any = helper.query(buffer, 0)

  override def serialize(buffer: UnsafeRow): Array[Byte] = buffer.getBytes

  override def deserialize(bytes: Array[Byte]): UnsafeRow = {
    require(bytes.length == bufferBytes,
      s"$prettyName buffer of ${bytes.length} bytes, want $bufferBytes")
    pointTo(bytes)
  }

  override def withNewMutableAggBufferOffset(o: Int): HllCardinalityFast = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllCardinalityFast = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllCardinalityFast = copy(child = c)
  override def prettyName: String = "hll_cardinality_fast"
}

/** Scalar `hll_estimate(sketchCol)` -> Double: finalize a stored sketch. */
case class HllEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback with BinarySketchInput {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    HllSketch.deserialize(v.asInstanceOf[Array[Byte]]).cardinality

  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
  override def prettyName: String = "hll_estimate"
}

/** Scalar `hll_union(a, b)` -> Binary: non-mutating two-sketch merge (the
  * reference's `+` operator, HLL/HyperLogLog.py:171-179).
  */
case class HllUnion(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback with BinarySketchPair {

  override protected def pairMismatch: String =
    s"$prettyName requires two BINARY sketch inputs, got ${left.dataType.sql}, ${right.dataType.sql}"
  override def dataType: DataType = BinaryType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sa = HllSketch.deserialize(a.asInstanceOf[Array[Byte]])
    val sb = HllSketch.deserialize(b.asInstanceOf[Array[Byte]])
    sa.copySketch().merge(sb).serialize()
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HllUnion =
    copy(left = l, right = r)
  override def prettyName: String = "hll_union"
}

/** Scalar `hll_info(sketchCol)` -> struct: the sketch parameters the
  * reference exposes as instance attributes (k, effective_k=m, p, bits,
  * alpha, error; HLL/HyperLogLog.py:76-86).
  */
case class HllInfo(child: Expression)
  extends UnaryExpression with CodegenFallback with BinarySketchInput {


  override def dataType: DataType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("m", IntegerType, nullable = false),
    StructField("p", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("alpha", DoubleType, nullable = false),
    StructField("error", DoubleType, nullable = false)))

  override def nullSafeEval(v: Any): Any = {
    val s = HllSketch.deserialize(v.asInstanceOf[Array[Byte]])
    org.apache.spark.sql.catalyst.InternalRow(s.k, s.m, s.p, s.bits, s.alpha, s.error)
  }

  override protected def withNewChildInternal(c: Expression): HllInfo = copy(child = c)
  override def prettyName: String = "hll_info"
}

/** Scalar `hll_error(sketchCol)` -> Double: theoretical relative standard
  * error 1.04/sqrt(m) of a stored sketch (HLL/HyperLogLog.py:86).
  */
case class HllError(child: Expression)
  extends UnaryExpression with CodegenFallback with BinarySketchInput {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    HllSketch.deserialize(v.asInstanceOf[Array[Byte]]).error

  override protected def withNewChildInternal(c: Expression): HllError = copy(child = c)
  override def prettyName: String = "hll_error"
}

/** The engine-portable wire shape shared by [[HllExport]] / [[HllImport]]:
  * sketch parameters plus the non-zero registers as plain (idx, rho) rows —
  * the sparse serialization as DATA instead of packed bytes, so a sketch can
  * live in any parquet/JSON/warehouse column, be exploded into relational
  * rows, shipped to a different engine, and come back mergeable. Duplicate
  * indexes fold by max on import, so unioning two sketches' exported rows
  * imports to their merged sketch — cross-system re-aggregation with no
  * binary-format coupling.
  */
object HllWire {
  val regType: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("rho", IntegerType, nullable = false)))
  val wireType: StructType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("regs", ArrayType(regType, containsNull = false), nullable = false)))

  /** Structural acceptance (names may differ — imports often come from SQL
    * `struct(...)` literals whose field names are positional).
    */
  private[functions] def accepts(dt: DataType): Boolean = dt match {
    case StructType(Array(a, b, c, d)) =>
      a.dataType == IntegerType && b.dataType == IntegerType &&
        c.dataType == StringType &&
        (d.dataType match {
          case ArrayType(StructType(Array(i, r)), _) =>
            i.dataType == IntegerType && r.dataType == IntegerType
          case _ => false
        })
    case _ => false
  }
}

/** Scalar `hll_export(sketchCol)` -> struct(k, bits, hash, regs): sparse
  * register listing of a stored sketch as plain SQL data (see [[HllWire]]).
  */
case class HllExport(child: Expression)
  extends UnaryExpression with CodegenFallback with BinarySketchInput {

  override def dataType: DataType = HllWire.wireType

  override def nullSafeEval(v: Any): Any = {
    val s = HllSketch.deserialize(v.asInstanceOf[Array[Byte]])
    val regs = s.registers
    val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < regs.length) {
      if (regs(i) != 0) rows += InternalRow(i, regs(i).toInt)
      i += 1
    }
    InternalRow(s.k, s.bits, UTF8String.fromString(s.hashName),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray[Any]))
  }

  override protected def withNewChildInternal(c: Expression): HllExport = copy(child = c)
  override def prettyName: String = "hll_export"
}

/** Scalar `hll_import(wireStruct)` -> Binary: rebuild a stored sketch from
  * the portable register listing (see [[HllWire]]). Inverse of
  * [[HllExport]]: import(export(s)) serializes byte-identically to s.
  */
case class HllImport(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (HllWire.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires struct(k INT, bits INT, hash STRING, " +
        s"regs ARRAY<STRUCT<idx INT, rho INT>>), got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any = {
    val row = v.asInstanceOf[InternalRow]
    val regs = row.getArray(3)
    val pairs = (0 until regs.numElements()).iterator.map { i =>
      val r = regs.getStruct(i, 2)
      (r.getInt(0), r.getInt(1))
    }
    HllSketch.fromRegisters(row.getInt(0), row.getInt(1),
      row.getUTF8String(2).toString, pairs).serialize()
  }

  override protected def withNewChildInternal(c: Expression): HllImport = copy(child = c)
  override def prettyName: String = "hll_import"
}
