package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region around a call into a layer. Spans of one benchmark
  * operation share `op`; `parent` is the enclosing span (-1 at the
  * root).
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work charged to one span: the jobs submitted while it was the
  * innermost open span, their stages and tasks.
  */
final class SpanCounts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var busyMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  def add(o: SpanCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; busyMs += o.busyMs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    jobIntervals ++= o.jobIntervals
  }
}

/** Spans held in memory while the benchmark runs, written at the end.
  * When disabled, `span` only runs its body. The innermost open span id
  * travels to Spark as a local property, so the [[Counters]] listener
  * can charge each job to the span that submitted it.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var enabled = false
  var op = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, op, name, stack.headOption.fold(-1)(_.id),
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = {
    val covered = Metrics.unionMs(children(s.id).map(c => (c.startNs / 1000000L, c.endNs / 1000000L)))
    math.max(0.0, s.ms - covered)
  }
}

object Tracer { val Prop = "perfbench.span" }

/** Listener-side counters: per-span Spark work, per-stage task times
  * (for skew), and one record per finished SQL action (planning phases
  * and execution time), matched to operations by time afterwards.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  val bySpan = mutable.Map.empty[Int, SpanCounts]
  /** span -> per stage: task durations (ms) */
  val stageTasks = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  /** (plan start ms, plan ms, exec ms) per finished SQL action */
  val actions = ArrayBuffer.empty[(Long, Double, Double)]

  private def counts(span: Int) = bySpan.getOrElseUpdate(span, new SpanCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(sid => stageSpan.getOrElseUpdate(sid, span))
    counts(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      counts(span).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    val c = counts(span)
    c.tasks += 1
    c.busyMs += e.taskInfo.duration
    stageTasks.getOrElseUpdate((span, e.stageId), ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      val start = if (plan.isEmpty) System.currentTimeMillis() else plan.map(_.startTimeMs).min
      actions += ((start, plan.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum,
        durationNs / 1e6))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Metrics {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
