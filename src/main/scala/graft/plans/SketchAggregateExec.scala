package graft.plans

import graft.functions.{OrderFreeCodec, SketchBuildAgg, SketchUnionAgg}
import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Final, Partial, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{PartitioningPreservingUnaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{AggUtils, BaseAggregateExec, ObjectAggregationIterator, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.DataType

/** Plans a grouped aggregate whose functions are all order-free graft
  * sketches (see [[OrderFreeCodec]]) as Spark would, then swaps both
  * halves: the partial aggregate for a [[SketchPartialAggregateExec]], the
  * final `ObjectHashAggregate` for a [[SketchFinalAggregateExec]]. The
  * exchange between them stays Spark's. Streaming aggregates, aggregates
  * with a DISTINCT or a FILTER, without grouping keys or functions, or
  * with any other function are left to Spark.
  */
object SketchAggregation extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(keys, aggs, results, child) if !plan.isStreaming && keys.nonEmpty &&
        aggs.nonEmpty && aggs.forall {
          case ae: AggregateExpression => !ae.isDistinct && ae.filter.isEmpty &&
            SketchPartialAggregateExec.codecOf(ae.aggregateFunction).isDefined
          case _ => false
        } =>
      AggUtils.planAggregateWithoutDistinct(
          keys, aggs.map(_.asInstanceOf[AggregateExpression]), results, planLater(child))
        .map(_.transformUp {
          case a: BaseAggregateExec if a.aggregateExpressions.forall(_.mode == Partial) =>
            SketchPartialAggregateExec(
              a.groupingExpressions, a.aggregateExpressions, a.resultExpressions, a.child)
          case a: ObjectHashAggregateExec if a.aggregateExpressions.forall(_.mode == Final) =>
            SketchFinalAggregateExec(a.requiredChildDistributionExpressions, a.isStreaming,
              a.numShufflePartitions, a.groupingExpressions, a.aggregateExpressions,
              a.aggregateAttributes, a.initialInputBufferOffset, a.resultExpressions, a.child)
        })
    case _ => Nil
  }
}

/** The partial half of a grouped sketch aggregate, for functions whose
  * merge is order-free. It keeps a hash map from grouping key to sketch
  * buffers, charged to Spark's execution memory. When memory is refused it
  * emits every key it holds and starts over: since the merge is
  * order-free, a key emitted twice merges in the final aggregate to the
  * same bytes. It never sorts and never spills to disk, where
  * `ObjectHashAggregateExec` sorts every input row past its fallback
  * threshold (128 keys per task).
  *
  * Output rows are Spark's partial rows: the grouping keys, then one
  * serialized buffer per function.
  */
case class SketchPartialAggregateExec(
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan)
  extends PartitioningPreservingUnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)
  override protected def outputExpressions: Seq[NamedExpression] = resultExpressions
  override def producedAttributes: AttributeSet = outputSet -- child.outputSet

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "number of flushes"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    val keys = groupingExpressions
    val aggs = aggregateExpressions
    val inputAttrs = child.output
    val outTypes = output.map(_.dataType).toArray
    child.execute().mapPartitionsWithIndex { (partition, rows) =>
      new SketchPartialAggregateExec.Partition(partition, rows, keys, aggs, inputAttrs, outTypes,
        numOutputRows, numFlushes)
    }
  }

  override def simpleString(maxFields: Int): String =
    SketchPartialAggregateExec.describe(nodeName, groupingExpressions, aggregateExpressions,
      output, maxFields)
  override def verboseString(maxFields: Int): String = simpleString(maxFields)

  override protected def withNewChildInternal(c: SparkPlan): SketchPartialAggregateExec =
    copy(child = c)
}

/** The final half of a grouped sketch aggregate, for functions whose merge
  * is order-free. It merges the partial rows of each key into a hash map
  * charged to Spark's execution memory, then evaluates each key once; it
  * never sorts. When memory is refused it hands the task over to Spark's
  * own final aggregation (`ObjectAggregationIterator`, which sorts and
  * spills past its fallback threshold): the keys it holds go in as partial
  * rows ahead of the rest of the input, and since the merge is order-free
  * the result is the same.
  */
case class SketchFinalAggregateExec(
    requiredChildDistributionExpressions: Option[Seq[Expression]],
    isStreaming: Boolean,
    numShufflePartitions: Option[Int],
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    aggregateAttributes: Seq[Attribute],
    initialInputBufferOffset: Int,
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan)
  extends BaseAggregateExec {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numHandedOver" -> SQLMetrics.createMetric(sparkContext,
      "number of tasks handed to ObjectHashAggregate"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "numTasksFallBacked" -> SQLMetrics.createMetric(sparkContext,
      "number of sort fallback tasks"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numHandedOver = longMetric("numHandedOver")
    val spillSize = longMetric("spillSize")
    val numTasksFallBacked = longMetric("numTasksFallBacked")
    val threshold = conf.objectAggSortBasedFallbackThreshold
    val (childOutput, inputAttrs) = (child.output, inputAttributes)
    val (keyExprs, aggs, aggAttrs, offset, results) = (groupingExpressions, aggregateExpressions,
      aggregateAttributes, initialInputBufferOffset, resultExpressions)
    val keys = keyExprs.map(_.toAttribute)
    val fns = aggs.map(_.aggregateFunction)
    child.execute().mapPartitionsWithIndex { (partition, rows) =>
      val merged = new SketchFinalAggregateExec.Merge(rows, keys, fns, inputAttrs)
      if (merged.run()) {
        numHandedOver += 1
        val toPartial = UnsafeProjection.create(inputAttrs, keys ++ inputAttrs.takeRight(fns.length))
        val held = merged.drain(toPartial, (b, f) => f.serialize(b))
        new ObjectAggregationIterator(partition, childOutput, keyExprs, aggs, aggAttrs, offset,
          results, MutableProjection.create(_, _), inputAttrs, held ++ rows, threshold,
          numOutputRows, spillSize, numTasksFallBacked)
      } else {
        merged.drain(UnsafeProjection.create(results, keys ++ aggAttrs), (b, f) => f.eval(b))
          .map { r => numOutputRows += 1; r }
      }
    }
  }

  override def simpleString(maxFields: Int): String =
    SketchPartialAggregateExec.describe(nodeName, groupingExpressions, aggregateExpressions,
      output, maxFields)
  override def verboseString(maxFields: Int): String = simpleString(maxFields)

  override protected def withNewChildInternal(c: SparkPlan): SketchFinalAggregateExec =
    copy(child = c)
}

object SketchFinalAggregateExec {
  /** One task's final merge over its partial rows. */
  private final class Merge(
      input: Iterator[InternalRow],
      keys: Seq[Attribute],
      functions: Seq[AggregateFunction],
      inputAttrs: Seq[Attribute])
    extends SketchPartialAggregateExec.BufferMap(
      functions.map(_.asInstanceOf[TypedImperativeAggregate[AnyRef]]).toArray) {

    private val keyOf = UnsafeProjection.create(keys, inputAttrs)
    /** Ordinal of the first function's serialized buffer in a partial row. */
    private val first = inputAttrs.length - functions.length

    /** Merges input until it ends or memory is refused; true when refused. */
    def run(): Boolean = {
      var full = false
      while (!full && input.hasNext) {
        val row = input.next()
        val key = keyOf(row)
        val slot = slotOf(key)
        var i = 0
        while (i < fns.length) {
          val f = fns(i)
          slot.buffers(i) = f.merge(slot.buffers(i), f.deserialize(row.getBinary(first + i)))
          i += 1
        }
        full = charge(key, slot)
      }
      full
    }
  }
}

object SketchPartialAggregateExec {
  /** The function's codec when it may run here: a sketch build or union
    * over an [[OrderFreeCodec]].
    */
  def codecOf(f: AggregateFunction): Option[OrderFreeCodec[AnyRef]] = (f match {
    case b: SketchBuildAgg[_] => b.codec
    case u: SketchUnionAgg[_] => u.family
    case _ => null
  }) match {
    case c: OrderFreeCodec[_] => Some(c.asInstanceOf[OrderFreeCodec[AnyRef]])
    case _ => None
  }

  private[plans] def describe(name: String, keys: Seq[NamedExpression],
      aggs: Seq[AggregateExpression], output: Seq[Attribute], maxFields: Int): String =
    s"$name(keys=${truncatedString(keys, "[", ", ", "]", maxFields)}, " +
      s"functions=${truncatedString(aggs, "[", ", ", "]", maxFields)}, " +
      s"output=${truncatedString(output, "[", ", ", "]", maxFields)})"

  /** Heap bytes of a map entry besides its key bytes and buffers: the map
    * node, the entry and its array, the key row and its byte array header.
    */
  private val EntryBytes = 128L
  /** Execution memory is asked for in steps of this many bytes. */
  private val Step = 256L * 1024

  /** One key's buffers and the bytes charged for them. */
  private[plans] final class Slot(val buffers: Array[AnyRef], var charged: Long)

  /** One task's hash map from grouping key to sketch buffers. Each entry
    * is charged to execution memory at its size: key, buffers'
    * `footprint`, map overhead.
    */
  private[plans] abstract class BufferMap(protected val fns: Array[TypedImperativeAggregate[AnyRef]])
    extends MemoryConsumer(GraftShims.taskMemoryManager(TaskContext.get()), MemoryMode.ON_HEAP) {

    private val codecs = fns.map(f => codecOf(f).get)
    private val slots = new java.util.LinkedHashMap[UnsafeRow, Slot]
    /** Bytes the held entries take; `getUsed` is what Spark granted. */
    private var charged = 0L

    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      slots.clear()
      release()
    }

    /** The key's entry, with empty buffers when it is new. */
    protected def slotOf(key: UnsafeRow): Slot = {
      var slot = slots.get(key)
      if (slot == null) {
        slot = new Slot(fns.map(_.createAggregationBuffer()), 0L)
        slots.put(key.copy(), slot)
      }
      slot
    }

    /** Charges the entry at its buffers' new size; true when memory was
      * refused.
      */
    protected def charge(key: UnsafeRow, slot: Slot): Boolean = {
      var size = EntryBytes + key.getSizeInBytes
      var i = 0
      while (i < fns.length) {
        if (slot.buffers(i) != null) size += codecs(i).footprint(slot.buffers(i))
        i += 1
      }
      charged += size - slot.charged
      slot.charged = size
      charged > getUsed && !reserve()
    }

    /** Asks for memory to cover what is charged; false when refused. A
      * lone key stays: handing it out would only rebuild it on the next row.
      */
    private def reserve(): Boolean = {
      acquireMemory(math.max(charged - getUsed, Step))
      charged <= getUsed || slots.size == 1
    }

    /** Hands out each held key as `project(key ++ value of each buffer)`,
      * dropping it as it goes. Their memory goes back first: the consumer
      * of these rows (a shuffle writer's sorter, or Spark's aggregation)
      * asks for its pages in this task while they are handed out.
      */
    def drain(project: UnsafeProjection,
        value: (AnyRef, TypedImperativeAggregate[AnyRef]) => Any): Iterator[InternalRow] = {
      release()
      val held = slots.entrySet().iterator()
      val values = new GenericInternalRow(fns.length)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        def hasNext: Boolean = held.hasNext
        def next(): InternalRow = {
          val e = held.next()
          held.remove()
          var i = 0
          while (i < fns.length) {
            values.update(i, value(e.getValue.buffers(i), fns(i)))
            i += 1
          }
          project(joined(e.getKey, values))
        }
      }
    }

    private def release(): Unit = {
      charged = 0L
      if (getUsed > 0) freeMemory(getUsed)
    }

    /** Held keys cannot be written out mid-aggregation; their memory goes
      * back when they are handed out.
      */
    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }

  /** One task's partial aggregation, as an iterator over its output rows. */
  private final class Partition(
      partition: Int,
      input: Iterator[InternalRow],
      keys: Seq[NamedExpression],
      aggs: Seq[AggregateExpression],
      inputAttrs: Seq[Attribute],
      outTypes: Array[DataType],
      numOutputRows: SQLMetric,
      numFlushes: SQLMetric)
    extends BufferMap(aggs.map(a => BindReferences.bindReference(a.aggregateFunction, inputAttrs)
      .asInstanceOf[TypedImperativeAggregate[AnyRef]]).toArray)
    with Iterator[InternalRow] {

    private val keyOf = UnsafeProjection.create(keys, inputAttrs)
    private val toRow = UnsafeProjection.create(outTypes)
    fns.foreach(_.foreach {
      case n: Nondeterministic => n.initialize(partition)
      case _ =>
    })
    private var out: Iterator[InternalRow] = Iterator.empty

    override def hasNext: Boolean = out.hasNext || fill()

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      numOutputRows += 1
      out.next()
    }

    /** Aggregates input until memory is refused or the input ends, then
      * hands out the keys it holds.
      */
    private def fill(): Boolean = {
      var full = false
      while (!full && input.hasNext) {
        val row = input.next()
        val key = keyOf(row)
        val slot = slotOf(key)
        var i = 0
        while (i < fns.length) {
          slot.buffers(i) = fns(i).update(slot.buffers(i), row)
          i += 1
        }
        full = charge(key, slot)
      }
      if (full) numFlushes += 1
      out = drain(toRow, (b, f) => f.serialize(b))
      out.hasNext
    }
  }
}
