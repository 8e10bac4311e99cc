package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task and job counters for the traced run, taken from Spark's listener
  * bus. Only attached while a traced pass runs, so untraced passes carry
  * no listener at all.
  */
final class Counters extends SparkListener {
  final case class Task(launchMs: Long, finishMs: Long, runMs: Long, shuffleBytes: Long)

  private val tasks = ArrayBuffer.empty[Task]
  private var jobs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled)
    }
  }

  /** Position in the event streams; counters are read as differences. */
  def mark(): (Int, Long) = synchronized((tasks.length, jobs))

  def since(m: (Int, Long)): (Seq[Task], Long) = synchronized {
    (tasks.slice(m._1, tasks.length).toSeq, jobs - m._2)
  }
}

/** One span: workload → pass → layer call. Times are nanoseconds from the
  * tracer's origin; counters cover the span's interval.
  */
final case class Span(
    id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    tasks: Long, taskS: Double, idleS: Double, shuffleBytes: Long, jobs: Long,
    extra: Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer(sc: SparkContext) {
  val counters = new Counters
  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def all: Seq[Span] = spans.toSeq

  def attach(): Unit = sc.addSparkListener(counters)
  def detach(): Unit = sc.removeSparkListener(counters)

  /** Record `body` as a child span of the innermost open span. */
  def span[T](name: String, extra: T => Map[String, Double] = (_: T) => Map.empty[String, Double])(
      body: => T): T = {
    val id = spans.length
    spans += null
    val parent = stack.head
    stack = id :: stack
    val mark = counters.mark()
    val wallStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var out: Option[T] = None
    try {
      out = Some(body)
      out.get
    } finally {
      val t1 = System.nanoTime()
      BenchBus.drain(sc)
      val (ts, jobs) = counters.since(mark)
      val wallS = (t1 - t0) / 1e9
      val busy = Tracer.coveredMs(ts.map(t => (t.launchMs, t.finishMs)),
        wallStartMs, wallStartMs + math.round(wallS * 1000)) / 1000.0
      spans(id) = Span(id, parent, name, t0 - origin, t1 - origin,
        ts.length.toLong, ts.map(_.runMs).sum / 1000.0, math.max(0.0, wallS - busy),
        ts.map(_.shuffleBytes).sum, jobs, out.map(extra).getOrElse(Map.empty))
      stack = stack.tail
    }
  }
}

object Tracer {
  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def coveredMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time: the span's duration minus what its children cover. */
  def selfS(s: Span, all: Seq[Span]): Double =
    s.wallS - all.filter(_.parent == s.id).map(_.wallS).sum
}
