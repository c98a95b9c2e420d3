package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. Times are microseconds on the driver's monotonic
  * clock; `query` names the contract lane or kernel lane the span belongs to.
  */
final case class Span(
    id: Long, parent: Long, name: String, query: String, startUs: Long, var endUs: Long)

/** In-memory span recorder. Spans are opened and closed on the driver
  * thread; Spark jobs are added from listener events. Nothing is written
  * until [[toJsonLines]] is called at exit.
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  // monotonic clock anchored to wall time, so listener event times
  // (epoch ms) land on the same axis as the driver's spans
  private val baseNanos = System.nanoTime()
  private val baseWallUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = baseWallUs + (System.nanoTime() - baseNanos) / 1000L
  def wallMsToUs(ms: Long): Long = ms * 1000L

  def newId(): Long = ids.incrementAndGet()

  /** Run `body` inside a span named `name`, child of the innermost open span. */
  def span[T](name: String, query: String)(body: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(0L)
    val s = Span(newId(), parent, name, query, nowUs, -1L)
    synchronized { spans += s }
    open = s :: open
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endUs = nowUs
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Record a finished interval (listener-side). */
  def add(s: Span): Unit = synchronized { spans += s }

  def toJsonLines: Seq[String] = synchronized {
    spans.toSeq.filter(_.endUs >= 0).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "query" -> s.query, "start_us" -> s.startUs, "end_us" -> s.endUs))
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val QueryProp = "perfbench.query"
}

/** Executor-side counters for one query run, summed from task-end events. */
final class QueryCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var maxTaskMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var recordsRead = 0L
}

/** The benchmark's SparkListener: attributes jobs, stages and tasks to the
  * query run that submitted them (via local properties) and, when a tracer
  * is given, records each job as a span under the span open at submission.
  */
final class QueryListener(tracer: Option[Tracer]) extends SparkListener {
  val byQuery = new ConcurrentHashMap[String, QueryCounters]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()

  private def counters(q: String): QueryCounters =
    byQuery.computeIfAbsent(q, _ => new QueryCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.QueryProp))).foreach { q =>
      val c = counters(q)
      c.synchronized { c.jobs += 1 }
      e.stageInfos.foreach(si => stageQuery.put(si.stageId, q))
      tracer.foreach { t =>
        val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
          .map(_.toLong).getOrElse(0L)
        val s = Span(t.newId(), parent, "spark.job", q, t.wallMsToUs(e.time), -1L)
        jobSpan.put(e.jobId, s)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobSpan.remove(e.jobId)).foreach { s =>
      s.endUs = math.max(s.startUs, e.time * 1000L)
      tracer.foreach(_.add(s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageQuery.get(e.stageInfo.stageId)).foreach { q =>
      val c = counters(q)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageQuery.get(e.stageId)).foreach { q =>
      val c = counters(q)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.recordsRead += m.inputMetrics.recordsRead
        }
        c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
      }
    }
}
