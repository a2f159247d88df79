package graft.erbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Per-span Spark cost: jobs started and the task metrics of their stages. */
final class SpanCost {
  var jobs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Attributes every job to the innermost open span. The span id rides on
  * the driver thread's local properties, so a job carries it in its
  * `JobStart` properties; its stages' task ends are booked to that span.
  * Jobs started outside any span are booked to span -1.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val costs = new ConcurrentHashMap[Int, SpanCost]()

  private def cost(span: Int): SpanCost = costs.computeIfAbsent(span, _ => new SpanCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val c = cost(span)
    c.synchronized(c.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = cost(stageSpan.getOrDefault(e.stageId, -1))
      c.synchronized {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def costOf(span: Int): SpanCost = Option(costs.get(span)).getOrElse(new SpanCost)
}

/** One timed region: name, start/end (ns since the tracer's origin), the
  * enclosing span's id (-1 at top level) and the run id it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = -1L,
                      attrs: Map[String, Double] = Map.empty)

/** Nested spans kept in memory and emitted when the run ends. Not thread
  * safe: spans open and close on the benchmark's single driver thread.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), runId,
      System.nanoTime() - origin)
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime() - origin
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Attach numeric attributes to the most recent span of that name. */
  def annotate(name: String, attrs: (String, Double)*): Unit = {
    val i = spans.lastIndexWhere(_.name == name)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanProperty = "erbench.span"
}
