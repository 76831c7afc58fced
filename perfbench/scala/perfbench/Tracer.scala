package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counters of one span or one micro-batch: summed over the
  * tasks of every job attributed to it. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
}

/** One traced call: spans of one run share `run`; `parent` is -1 at the
  * top. Times are ns since the JVM's nanoTime origin. */
final case class Span(run: String, id: Int, name: String, parent: Int,
                      start: Long, end: Long)

/** In-memory span recorder plus a `SparkListener` that sums task metrics
  * per key. `key` reads the key from a job's local properties; the default
  * is the span id in the job group the tracer sets on the driver thread,
  * so work lands on the innermost open span. A job without a key is not
  * counted. Disabled, [[span]] only runs its body, so untraced runs pay
  * nothing. Spans are written out once, at the end. */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String,
                   key: Properties => Option[Long] = Tracer.spanKey) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Long, Counters]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val stageKey = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(key).foreach { k =>
        e.stageIds.foreach(stageKey(_) = k)
        counters.getOrElseUpdate(k, new Counters).jobs += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageKey.get(e.stageId).foreach { k =>
        val m = e.taskMetrics
        val c = counters.getOrElseUpdate(k, new Counters)
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private var attached = false
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener); attached = true
  }
  def detach(): Unit = if (attached) {
    drain(); sc.removeSparkListener(listener); attached = false
  }
  def drain(): Unit = org.apache.spark.perfbench.BusAccess.drain(sc)

  /** Time `body` as span `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, name, false)
          case None => sc.clearJobGroup()
        }
        spans += Span(run, id, name, parent, t0, t1)
      }
    }

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end))
      .sortBy(_._1)
    var covered = 0L; var upTo = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo); val hi = math.min(b, s.end)
      if (hi > lo) { covered += hi - lo; upTo = hi }
    }
    (s.end - s.start - covered) / 1e9
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  /** The open span's id, from the job group [[Tracer.span]] sets. */
  def spanKey(p: Properties): Option[Long] =
    Option(p.getProperty("spark.jobGroup.id"))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)
}
