package perfbench

import java.nio.file.{Files, Paths}

/** Host context: spin-loop calibration and the process's peak RSS. */
object Host {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  // A fixed xorshift loop: pure ALU work with no memory traffic, so its
  // time tracks the CPU time the host actually grants this process.
  private def spin(iters: Long): Long = {
    var x = 88172645463325252L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  private val spinIters = 60000000L
  @volatile private var sink = 0L

  /** Wall ms of one spin loop on one thread. */
  def spin1tMs(): Double = {
    val t0 = System.nanoTime()
    sink ^= spin(spinIters)
    (System.nanoTime() - t0) / 1e6
  }

  /** Wall ms of one spin loop on every core at once. */
  def spinAllMs(): Double = {
    val threads = (0 until cores).map(_ => new Thread(() => { sink ^= spin(spinIters) }))
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def calibrate(): Map[String, Double] =
    Map("spin_1t_ms" -> spin1tMs(), "spin_all_ms" -> spinAllMs())

  /** JIT compilation and GC time this JVM has spent so far, in ms. */
  def jvmMs(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    Map(
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble)
  }

  /** VmHWM of this process in MB (0 where /proc is unavailable). */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else Files.readAllLines(p).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
