package graft.functions

import graft.hll.HllSketch

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.types.{BinaryType, DataType}

/** How an aggregate buffer of type `S` crosses the exchange and combines —
  * the paper's monoid minus the build: per-partition sketches are written,
  * read back and merged (`merge`/`+`, HLL/HyperLogLog.py:157-179).
  */
trait SketchCodec[S <: AnyRef] extends Serializable {
  /** The buffer stored in `bytes`; null for the empty set, where the
    * codec has one.
    */
  def read(bytes: Array[Byte]): S
  def write(sketch: S): Array[Byte]
  /** Folds `b` into `a` (may mutate `a`); fails on mismatched parameters
    * where the family does.
    */
  def merge(a: S, b: S): S

  /** [[merge]] with null (nothing, or the empty set) as the identity. */
  final def fold(a: S, b: S): S =
    if (a == null) b else if (b == null) a else merge(a, b)
}

/** A codec whose [[merge]] writes the same bytes whatever order the
  * buffers meet in, so a partial aggregate may emit one key several times
  * and the final merge still agrees with a single-pass build. Such a
  * family can run in `graft.plans.SketchPartialAggregateExec` and
  * `graft.plans.SketchFinalAggregateExec`, which charge each buffer's
  * [[footprint]] to Spark's execution memory.
  */
trait OrderFreeCodec[S <: AnyRef] extends SketchCodec[S] {
  /** Heap bytes the buffer holds, in O(1). */
  def footprint(sketch: S): Long
}

/** A stored-sketch family: every rule about its BINARY values that
  * `*_union_agg` and the scalar readers share. WIRE.md, "Empty sketch and
  * union rules", tabulates each family's choices.
  */
abstract class SketchFamily[S <: AnyRef] extends SketchCodec[S] {
  /** The union aggregate's SQL name (auto-generated column names use it). */
  def unionName: String
  /** The union's output for a group with no sketch to merge; null is SQL
    * NULL.
    */
  def emptyUnion: Array[Byte] = Array.emptyByteArray
  /** How the union's type-check failure names its input. */
  def unionInput: String = "BINARY sketch input"
}

object SketchFamily {
  /** HLL has no empty-set value: a 0-byte input is rejected as truncated,
    * and an all-null group unions to NULL.
    */
  object hll extends SketchFamily[HllSketch] with OrderFreeCodec[HllSketch] {
    val unionName = "hll_union_agg"
    override def emptyUnion: Array[Byte] = null
    override def unionInput = "a BINARY sketch input"
    def read(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)
    def write(s: HllSketch): Array[Byte] = s.serialize()
    def merge(a: HllSketch, b: HllSketch): HllSketch = a.merge(b)
    def footprint(s: HllSketch): Long = s.footprint
  }

  /** 0 bytes is the empty set, both in and out. */
  object kmv extends SketchFamily[KmvSketch] with OrderFreeCodec[KmvSketch] {
    val unionName = "kmv_union_agg"
    def read(bytes: Array[Byte]): KmvSketch =
      if (bytes.isEmpty) null else KmvSketch.deserialize(bytes)
    def write(s: KmvSketch): Array[Byte] = s.serialize()
    def merge(a: KmvSketch, b: KmvSketch): KmvSketch = a.merge(b)
    def footprint(s: KmvSketch): Long = s.footprint
  }

  /** 0 bytes is the empty set, both in and out. */
  object cms extends SketchFamily[CmsSketch] with OrderFreeCodec[CmsSketch] {
    val unionName = "cms_union_agg"
    def read(bytes: Array[Byte]): CmsSketch =
      if (bytes.isEmpty) null else CmsSketch.deserialize(bytes)
    def write(s: CmsSketch): Array[Byte] = s.serialize()
    def merge(a: CmsSketch, b: CmsSketch): CmsSketch = a.merge(b)
    def footprint(s: CmsSketch): Long = 8L * s.counts.length
  }

  /** Misra-Gries: 0 bytes is the empty set, both in and out. Its byte
    * wire follows hash-map order, so merge order shows in the bytes.
    */
  object topk extends SketchFamily[TopKSketch] {
    val unionName = "topk_union_agg"
    def read(bytes: Array[Byte]): TopKSketch =
      if (bytes.isEmpty) null else TopKSketch.deserialize(bytes)
    def write(s: TopKSketch): Array[Byte] = s.serialize()
    def merge(a: TopKSketch, b: TopKSketch): TopKSketch = a.merge(b)
  }

  /** GK's empty set is a summary of count 0, whatever its error: it reads
    * as null, because merging one is the identity (`QuantileSummaries
    * .merge` returns the other side). A 0-byte input is rejected as
    * truncated, and an all-null group unions to the empty summary at
    * Spark's default relative error.
    */
  object gk extends SketchFamily[GkBuffer] {
    val unionName = "gk_union_agg"
    override lazy val emptyUnion: Array[Byte] =
      new GkBuffer(QuantileSummaries.defaultRelativeError).serialize()
    def read(bytes: Array[Byte]): GkBuffer = {
      val b = GkBuffer.deserialize(bytes)
      if (b.summaries.count == 0) null else b
    }
    def write(s: GkBuffer): Array[Byte] = s.serialize()
    def merge(a: GkBuffer, b: GkBuffer): GkBuffer = a.merge(b)
  }
}

/** Type check of an expression that reads a stored sketch. */
trait BinarySketchInput extends Expression {
  def child: Expression
  /** How the failure message names the expected input. */
  protected def sketchInput: String = "a BINARY sketch input"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires $sketchInput, got ${child.dataType.sql}")
}

/** Type check of an expression that reads two stored sketches. */
trait BinarySketchPair extends Expression {
  def left: Expression
  def right: Expression
  /** The type-check failure message. */
  protected def pairMismatch: String =
    s"$prettyName requires (BINARY, BINARY) sketches, got " +
      s"(${left.dataType.sql}, ${right.dataType.sql})"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(pairMismatch)
}

/** A sketch-building aggregate: folds each non-null input row into an `S`
  * buffer; the codec moves and merges the buffers between partial and
  * final aggregation, which is how the reference's
  * `mapPartitions(sketch) -> reduce(+)` (HLL/examples.py:56-67) falls out
  * of Catalyst. Subclasses keep their parameters, checks,
  * `createAggregationBuffer`, [[add]] and `eval`.
  *
  * NOTE: no validation in a constructor body here or in an abstract
  * subclass — a non-serializable superclass's no-arg ctor re-runs during
  * Java deserialization on executors before the case-class fields are
  * restored (k would read 0).
  */
abstract class SketchBuildAgg[S <: AnyRef] extends TypedImperativeAggregate[S]
    with UnaryLike[Expression] {
  def codec: SketchCodec[S]
  /** Folds one non-null input value into the buffer. */
  protected def add(buffer: S, value: Any): Unit

  override def nullable: Boolean = false

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) add(buffer, v)
    buffer
  }

  // a partial buffer the codec reads as the empty set (a GK summary of an
  // empty partition) is null and merges as the identity
  override def merge(b1: S, b2: S): S = codec.fold(b1, b2)
  override def serialize(buffer: S): Array[Byte] = codec.write(buffer)
  override def deserialize(bytes: Array[Byte]): S = codec.read(bytes)
}

/** `hll_union_agg` / `kmv_union_agg` / `cms_union_agg` / `topk_union_agg` /
  * `gk_union_agg` (sketchCol) -> BINARY: merge a column of one family's
  * stored sketches — the reference's n-ary `merge` over a column
  * (HLL/HyperLogLog.py:157-169). The buffer starts as nothing and adopts
  * the first sketch read, so the result's parameters come from the data,
  * like the reference's `__add__`, which builds a fresh instance and then
  * merges (HLL/HyperLogLog.py:171-179). Null rows and empty-set values add
  * nothing; mismatched parameters fail or not as the family's merge does.
  *
  * Sizing a CMS union: pick `width` for the MERGED key population — point
  * lookups stay collision-free only while width comfortably exceeds it.
  */
case class SketchUnionAgg[S <: AnyRef](
    child: Expression,
    family: SketchFamily[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[S] with UnaryLike[Expression] with BinarySketchInput {

  override protected def sketchInput: String = family.unionInput
  override def prettyName: String = family.unionName
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = family.emptyUnion == null
  // prettyName already names the family; leave the object out of EXPLAIN
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): S = null.asInstanceOf[S]

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buffer else family.fold(buffer, family.read(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(b1: S, b2: S): S = family.fold(b1, b2)

  override def eval(buffer: S): Any =
    if (buffer == null) family.emptyUnion else family.write(buffer)

  // a buffer that has read nothing crosses the exchange as 0 bytes
  override def serialize(buffer: S): Array[Byte] =
    if (buffer == null) Array.emptyByteArray else family.write(buffer)
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes.isEmpty) null.asInstanceOf[S] else family.read(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchUnionAgg[S] = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchUnionAgg[S] = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SketchUnionAgg[S] = copy(child = c)
}
