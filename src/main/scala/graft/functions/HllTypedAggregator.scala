package graft.functions

import graft.hll.HllSketch
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator[IN, BUF, OUT]` surface over the same sketch core —
  * the public-API counterpart of the Catalyst [[HllCardinality]] node
  * (SURVEY.md §2c lists both registration surfaces). Use with typed
  * Datasets (`ds.groupByKey(...).agg(hllCardinality.toColumn)`) or register
  * via `functions.udaf(...)`. Same bit-parity guarantees: the input is the
  * element's string form, hashed with SHA-1 exactly like the reference.
  * The two subclasses differ only in what `finish` emits.
  */
abstract class HllTypedAggregator[OUT](k: Int, bits: Int)
  extends Aggregator[String, HllSketch, OUT] {

  override def zero: HllSketch = HllSketch.empty(k, bits)

  override def reduce(buf: HllSketch, in: String): HllSketch = {
    if (in != null) buf.update(in)
    buf
  }

  override def merge(b1: HllSketch, b2: HllSketch): HllSketch = b1.merge(b2)

  override def bufferEncoder: Encoder[HllSketch] = Encoders.kryo[HllSketch]
}

/** Typed distinct-count estimate. */
class HllCardinalityAggregator(k: Int = 4096, bits: Int = 64)
  extends HllTypedAggregator[Double](k, bits) {
  HllSketch.validateK(k, bits)
  override def finish(buf: HllSketch): Double = buf.cardinality
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Typed variant emitting the serialized sketch for storage/re-aggregation. */
class HllSketchAggregator(k: Int = 4096, bits: Int = 64)
  extends HllTypedAggregator[Array[Byte]](k, bits) {
  HllSketch.validateK(k, bits)
  override def finish(buf: HllSketch): Array[Byte] = buf.serialize()
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
