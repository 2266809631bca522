package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Benchmark-side spans around the public calls into each layer. Spans stay
  * in memory and are written out when the run ends. When tracing is off,
  * [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val ops = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }

  def newOp(): Long = ops.incrementAndGet()

  /** Time `body` as a child of the innermost open span on this thread, or
    * of `parent` when the body runs on another thread than its parent.
    */
  def span[A](name: String, parent: Option[Span] = None, op: Option[Long] = None)(body: => A): A =
    if (!enabled) body
    else {
      val p = parent.orElse(stack.get.headOption)
      val s = Span(ids.incrementAndGet(), name, p.map(_.id).getOrElse(0),
        op.orElse(p.map(_.op)).getOrElse(newOp()), System.nanoTime())
      stack.set(s :: stack.get)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(s)
      }
    }

  def current: Option[Span] = if (enabled) stack.get.headOption else None

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Per span name: count, total and self seconds, where self time is a
    * span's duration minus the part of it that its children cover.
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        (s.end - s.start) - Tracer.covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum
      (name, ss.size, total / 1e9, self / 1e9)
    }.sortBy(-_._4)
  }

  /** Share of `s`'s wall that its direct children cover. */
  def coverage(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(c => (c.start, c.end))
    Tracer.covered(kids, s.start, s.end).toDouble / math.max(1L, s.end - s.start)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Long, start: Long) {
    @volatile var end: Long = start
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark runtime per benchmark phase, keyed by the job group the benchmark
  * sets around each phase (the streaming engine tags its own jobs with the
  * query's run id, which [[alias]] maps onto the stream phase).
  */
final class PhaseListener extends SparkListener {
  final class Stats {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var spill = 0L; var bytesOut = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.HashMap.empty[String, Stats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val aliases = mutable.HashMap.empty[String, String]

  /** Count jobs of group `group` (a stream's run id) under `phase`. */
  def alias(group: String, phase: String): Unit = synchronized { aliases(group) = phase }

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new Stats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    jobStart(e.jobId) = (g, System.nanoTime())
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => stats(g).jobIntervals += ((t0, System.nanoTime())) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "none")
    val s = stats(g)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesOut += m.outputMetrics.bytesWritten
    }
  }

  /** Merged stats of every group that is, or is aliased to, `phase`. */
  def phase(phase: String): Stats = synchronized {
    val out = new Stats
    byGroup.foreach { case (g, s) =>
      if (aliases.getOrElse(g, g) == phase) {
        out.jobs += s.jobs; out.tasks += s.tasks; out.cpuNs += s.cpuNs
        out.shuffleWrite += s.shuffleWrite; out.spill += s.spill; out.bytesOut += s.bytesOut
        out.jobIntervals ++= s.jobIntervals
      }
    }
    out
  }
}
