package perfbench

import graft.functions.PythonStr
import graft.hll.HllSketch

/** Single-thread kernel lanes, called directly with no Spark: the HLL
  * sketch operations and the Python-`str()` coercion, on elements and
  * doubles sampled from the workload's seeded input. Each lane reports the
  * median of several timed batches.
  */
object Kernels {
  private val K = 4096
  private val Batches = 5
  // untimed batches first, so a lane times compiled code whatever ran before it
  private val Warmup = 3
  @volatile private var sink: Any = null

  private def medianTime(batches: Int)(body: => Any): Double = {
    (0 until Warmup).foreach(_ => sink = body)
    val ts = (0 until batches).map { _ =>
      val t0 = System.nanoTime()
      sink = body
      (System.nanoTime() - t0).toDouble
    }.sorted
    ts(ts.size / 2)
  }

  private def sketchOf(xs: Iterator[String]): HllSketch = {
    val s = HllSketch.empty(K)
    xs.foreach(s.update)
    s
  }

  /** Run every lane; each lane also becomes a root span of the tracer. */
  def run(tracer: Tracer, elements: Array[String], doubles: Array[Double]): Map[String, Double] = {
    def lane[T](name: String)(body: => T): T = tracer.span(name, name)(body)
    val out = Map.newBuilder[String, Double]

    lane("hll.update") {
      val ns = medianTime(Batches) { sketchOf(elements.iterator) }
      out += "hll.update_ns" -> ns / elements.length
    }
    val dense1 = sketchOf(elements.iterator.take(elements.length / 2))
    val dense2 = sketchOf(elements.iterator.drop(elements.length / 2))
    val sparse1 = sketchOf(elements.iterator.take(100))
    val sparse2 = sketchOf(elements.iterator.slice(100, 200))
    val reps = 200
    lane("hll.merge_dense") {
      val acc = dense1.copySketch()
      out += "hll.merge_dense_us" -> medianTime(Batches) {
        var i = 0; while (i < reps) { acc.merge(dense2); i += 1 }; acc
      } / reps / 1e3
    }
    lane("hll.merge_sparse") {
      out += "hll.merge_sparse_us" -> medianTime(Batches) {
        var i = 0; var acc: HllSketch = null
        while (i < reps) { acc = sparse1.copySketch(); acc.merge(sparse2); i += 1 }; acc
      } / reps / 1e3
    }
    val denseBytes = dense1.serialize()
    val sparseBytes = sparse1.copySketch().serialize()
    lane("hll.serialize") {
      out += "hll.serialize_us" -> medianTime(Batches) {
        var i = 0; while (i < reps) { sink = dense1.serialize(); i += 1 }
      } / reps / 1e3
    }
    lane("hll.deserialize") {
      out += "hll.deserialize_us" -> medianTime(Batches) {
        var i = 0; while (i < reps) { sink = HllSketch.deserialize(denseBytes); i += 1 }
      } / reps / 1e3
    }
    lane("hll.estimate") {
      out += "hll.estimate_us" -> medianTime(Batches) {
        var i = 0; var e = 0.0
        while (i < reps) { e += dense1.cardinality; i += 1 }; e
      } / reps / 1e3
    }
    out += "hll.wire_bytes.dense" -> denseBytes.length.toDouble
    out += "hll.wire_bytes.sparse" -> sparseBytes.length.toDouble

    lane("python_str") {
      out += "functions.python_str_ns" -> medianTime(Batches) {
        var i = 0; var n = 0
        while (i < doubles.length) { n += PythonStr.render(doubles(i)).length; i += 1 }; n
      } / doubles.length
    }
    out.result()
  }
}
