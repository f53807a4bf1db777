package reportbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** One timed call: `parent` is the id of the span open when it began
  * (-1 for a root), `cycle` the cycle it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, cycle: Int) {
  def durNs: Long = end - start
}

object Span {
  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children count once).
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    var covered = 0L
    var reach = span.start
    children.map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) { covered += e - from; reach = e }
      }
    span.durNs - covered
  }
}

/** Spark work counted for one span. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
}

/** Counts each Spark job, and the tasks of its stages, against the span
  * that was innermost when the job was submitted (a job-local property
  * carries the span id; Spark copies it to the threads it plans on).
  */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def at(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    at(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskRunMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.recordsRead += m.inputMetrics.recordsRead
      c.recordsWritten += m.outputMetrics.recordsWritten
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def counts(span: Int): Counts = synchronized(bySpan.getOrElse(span, new Counts))
}

/** Spans kept in memory for the whole run. While `on` is false a span
  * is a plain call: nothing is recorded and no property is set.
  */
final class Tracer(sc: SparkContext) {
  val listener = new SpanListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var on = false
  var cycle = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, start, System.nanoTime(), parent, cycle)
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.toString).orNull)
      }
    }

  /** Start counting Spark work (before a traced cycle). */
  def attach(): Unit = sc.addSparkListener(listener)

  /** Deliver every queued event, then stop counting. */
  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanProperty = "reportbench.span"
}
