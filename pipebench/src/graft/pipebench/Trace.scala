package graft.pipebench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** A timed call into one layer. `name` is `<layer>.<operation>`. Job,
  * task and task-metric counters are those of the jobs submitted while
  * this span was the innermost open one. */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var busyMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  def layer: String = name.takeWhile(_ != '.')
  def wallMs: Double = endMs - startMs
}

/** Derived figures of one span: `selfMs` is wall time minus child spans;
  * `waitMs` is the part of the self time during which no task ran
  * (driver planning, file listing, commits). */
final case class SpanStat(span: Span, selfMs: Double, waitMs: Double)

/** Span recorder for the benchmark's calls into the pipeline's layers.
  *
  * Disabled, [[span]] just runs its body. Enabled, each span is kept in
  * memory with its parent, its id is set as a SparkContext local
  * property for the duration of the call, and a `SparkListener` books
  * every job, task and task metric to the span whose id its job carried.
  * Only the calling thread opens spans (the workloads are closed loops
  * with one caller).
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "graft.pipebench.span"
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as the task launch/finish times Spark reports. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack = List.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def spanOf(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(x => Option(x.getProperty(Prop)))
      .flatMap(id => Option(byId.get(id.toInt)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(s => s.jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      taskIntervals.synchronized {
        taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
      val s = stageSpan.get(e.stageId)
      if (s != null) {
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.busyMs += m.executorRunTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, nowMs)
      byId.put(s.id, s)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
      }
    }

  /** Waits for the listener to see every event, then derives self and
    * wait time per span. */
  def stats(): Seq[SpanStat] = {
    if (!enabled) return Nil
    org.apache.spark.PipebenchShim.drainListeners(sc)
    val busy = Tracer.merge(taskIntervals.synchronized(taskIntervals.toList)
      .map { case (a, b) => (a.toDouble, b.toDouble) })
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids: Seq[Tracer.Iv] =
        children.get(s.id).toSeq.flatten.map(k => (k.startMs, k.endMs))
      val self = Tracer.subtract(Seq((s.startMs, s.endMs)), Tracer.merge(kids))
      val selfMs = self.map { case (a, b) => b - a }.sum
      SpanStat(s, selfMs, selfMs - Tracer.overlap(self, busy))
    }
  }
}

object Tracer {
  type Iv = (Double, Double)

  /** Sorted, disjoint union of intervals. */
  def merge(ivs: Seq[Iv]): List[Iv] =
    ivs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[Iv]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** `base` minus the sorted disjoint intervals `cut`. */
  def subtract(base: Seq[Iv], cut: List[Iv]): Seq[Iv] =
    base.flatMap { case (a, b) =>
      var lo = a
      val out = mutable.ArrayBuffer.empty[Iv]
      cut.foreach { case (c, d) =>
        if (d > lo && c < b) {
          if (c > lo) out += ((lo, c))
          lo = math.max(lo, d)
        }
      }
      if (b > lo) out += ((lo, b))
      out
    }

  /** Total length of `xs` covered by the sorted disjoint intervals `ys`. */
  def overlap(xs: Seq[Iv], ys: List[Iv]): Double =
    xs.map { case (a, b) =>
      ys.iterator.takeWhile(_._1 < b)
        .map { case (c, d) => math.max(0.0, math.min(b, d) - math.max(a, c)) }
        .sum
    }.sum
}
