package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans the benchmark records around each call into an engine layer.
  *
  * A span is (layer, name, start, end, parent, trace id); every op opens
  * one root span, so one trace id groups the calls of one op. Spans live
  * in memory and are written out with the run record at the end. While a
  * span is open its id sits in a SparkContext local property, which Spark
  * copies onto every job the thread (or a thread it starts, such as a
  * streaming query's) submits; [[SparkCounters]] reads it back to charge
  * jobs, stages, tasks, shuffle and spill to the span.
  *
  * With `enabled = false` a span is just its body: untraced runs pay
  * nothing, which is what makes traced minus untraced the overhead.
  */
final class Trace(sc: SparkContext, var enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var traceId = 0

  /** Root span of one op; `layer` of the root is the benchmark itself. */
  def op[T](name: String)(body: => T): T = {
    traceId += 1
    span("bench", name)(body)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else {
      val s = Span(spans.size, layer, name, open.headOption.fold(-1)(_.id),
        traceId, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self seconds of each span, by id: its duration minus the part its
    * child spans cover. Spans of one thread nest without overlap, so the
    * self times of an op's spans sum to the op's wall time.
    */
  def selfSeconds(): Array[Double] = {
    val self = spans.map(_.seconds).toArray
    spans.foreach(s => if (s.parent >= 0) self(s.parent) -= s.seconds)
    self
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, layer: String, name: String, parent: Int,
      trace: Int, start: Long, var end: Long = -1L) {
    def seconds: Double = (end - start) / 1e9
  }
}

/** Per-span Spark execution counters, charged through the span id the
  * submitting thread carried as a local property. Jobs submitted outside
  * any span land under id -1.
  */
final class SparkCounters extends SparkListener {

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L
    def +=(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; input += o.input; output += o.output
    }
  }

  private val bySpan = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def of(span: Int): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .fold(-1)(_.toInt)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).synchronized(of(span).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Counters summed over the given span ids. */
  def sum(spans: Iterable[Int]): Counts = {
    val total = new Counts
    spans.foreach(s => Option(bySpan.get(s)).foreach(c => c.synchronized(total += c)))
    total
  }

  def unattributedJobs: Long = Option(bySpan.get(-1)).fold(0L)(_.jobs)
}

/** Micro-batch progress of the streaming ingest: batch count, input rows
  * and batch duration, per query run id.
  */
final class StreamCounters extends StreamingQueryListener {
  val batches = new ConcurrentHashMap[java.util.UUID, (Long, Long, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) batches.merge(p.runId, (1L, p.numInputRows, p.batchDuration),
      (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }

  /** (batches, input rows, summed batch ms) per streaming run. */
  def runs: Seq[(Long, Long, Long)] = batches.values.asScala.toSeq
}
