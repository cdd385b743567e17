package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters accumulated for one span. Written only from the
  * listener-bus thread, read after the bus has drained.
  */
final class Counters {
  var jobs = 0L
  var stagesDeclared = 0L
  var stagesRun = 0L
  var tasks = 0L
  var schedDelayMs = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** One span: a call into a layer, timed from outside it. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    var endNs: Long = 0L)

/** Spans kept in memory for the whole run, plus a listener that
  * attributes every job, stage and task to the span whose id was the
  * `graftbench.span` local property when the job was submitted. The
  * attribution follows the property, not clock intervals, so listener
  * lag cannot move work between spans.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  val SpanProp = "graftbench.span"
  private val nextId = new AtomicLong(0L)
  private val spanList = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { sc.removeSparkListener(this); attached = false }

  def spans: Seq[Span] = spanList.toSeq

  /** Runs `body` inside a new span; Spark work it submits is charged
    * to that span. Returns the result and the span.
    */
  def span[T](name: String, parent: Long = -1L)(body: => T): (T, Span) = {
    val s = Span(nextId.incrementAndGet(), parent, name, System.nanoTime())
    spanList += s
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  /** Opens a span without charging Spark work to it (a parent whose
    * children carry the counters).
    */
  def open(name: String, parent: Long = -1L): Span = {
    val s = Span(nextId.incrementAndGet(), parent, name, System.nanoTime())
    spanList += s
    s
  }

  def close(s: Span): Unit = s.endNs = System.nanoTime()

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListenerBus(sc)

  def of(s: Span): Counters = counters.getOrDefault(s.id, new Counters)

  private def forSpan(id: Long): Counters =
    counters.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanProp)))
    p.foreach { v =>
      val id = v.toLong
      val c = forSpan(id)
      c.jobs += 1
      c.stagesDeclared += e.stageInfos.size
      e.stageIds.foreach(stageSpan.put(_, id))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => forSpan(id).stagesRun += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val c = forSpan(id)
      val i = e.taskInfo
      c.tasks += 1
      // Spark's own definition (the UI's "Scheduler Delay"): task wall
      // time not spent deserializing, running or serializing the result
      c.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      c.taskRunMs += m.executorRunTime
      c.taskCpuMs += (m.executorCpuTime + m.executorDeserializeCpuTime) / 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
    }
  }
}
