package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: `op` is shared by every span of one operation, and
  * `parent` is the span that caused it (-1 for an operation's root). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      var startNs: Long, var endNs: Long) {
  def wallNs: Long = endNs - startNs
}

/** Spark work attributed to one span by the listener. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var inBytes = 0L
  var outBytes = 0L; var outRecords = 0L
  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; inBytes += o.inBytes
    outBytes += o.outBytes; outRecords += o.outRecords
    this
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Self time of `span`: its wall time minus the part of its interval
    * covered by the union of its children's intervals. */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (c.startNs max span.startNs, c.endNs min span.endNs))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = 0L; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) covered += curE - curS
    span.wallNs - covered
  }
}

/** Spans kept in memory and written out when the run ends. Before each
  * traced call the span id goes into a Spark local property, so the
  * listener charges every job, stage and task to the innermost span.
  * Disabled tracers run the body and record nothing: the untraced run
  * pays no tracing cost. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.Map.empty[Long, Work]
  private var nextId = 0L
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private var curOp = -1L

  private val listener = new SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Long]
    private def at(span: Long): Work =
      work.synchronized(work.getOrElseUpdate(span, new Work))
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      at(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      at(stageSpan.getOrElse(e.stageInfo.stageId, -1L)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = at(stageSpan.getOrElse(e.stageId, -1L))
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.inBytes += m.inputMetrics.bytesRead
        w.outBytes += m.outputMetrics.bytesWritten
        w.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def newSpan(name: String, parent: Long, op: Long, start: Long): Span =
    synchronized {
      val s = Span(nextId, parent, op, name, start, start)
      nextId += 1; spans += s; s
    }

  private def tagged[A](s: Span)(body: => A): A = {
    val saved = stack.get
    stack.set(s :: saved)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.set(saved)
      sc.setLocalProperty(SpanProp, saved.headOption.map(_.id.toString).orNull)
    }
  }

  /** Open a new operation: a root span that every span inside shares. */
  def op[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = synchronized { curOp += 1; newSpan(name, -1L, curOp, System.nanoTime()) }
      tagged(s)(body)
    }

  /** A span around one call into a layer; nests under the current span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption
      val s = newSpan(name, parent.map(_.id).getOrElse(-1L),
        parent.map(_.op).getOrElse(curOp), System.nanoTime())
      tagged(s)(body)
    }

  /** Record an interval measured elsewhere (a streaming trigger phase)
    * as a span. */
  def record(name: String, parent: Long, op: Long, startNs: Long,
             endNs: Long): Span = {
    val s = newSpan(name, parent, op, startNs)
    s.endNs = endNs
    s
  }

  /** Start an operation whose end is known only later: its children are
    * opened with [[span]] while it is current. */
  def openOp(name: String): Span = synchronized {
    curOp += 1
    val s = newSpan(name, -1L, curOp, System.nanoTime())
    stack.set(s :: Nil)
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  /** Leave the operation opened on this thread; later jobs carry no span. */
  def closeOp(): Unit = {
    stack.set(Nil)
    sc.setLocalProperty(SpanProp, null)
  }

  /** All spans, after the listener has seen every event so far. */
  def finished(): Seq[Span] = {
    if (enabled) org.apache.spark.BenchBridge.drainListeners(sc)
    synchronized(spans.toList)
  }

  def workOf(s: Span): Work = work.synchronized(work.getOrElse(s.id, new Work))

  /** Work of `s` and every span below it. */
  def workUnder(s: Span, all: Seq[Span]): Work = {
    val kids = all.groupBy(_.parent)
    def go(x: Span): Work =
      kids.getOrElse(x.id, Nil).foldLeft(new Work().add(workOf(x)))((w, c) => w.add(go(c)))
    go(s)
  }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val all = finished()
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      val w = workOf(s)
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs},""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},""" +
        s""""cpu_ms":${w.cpuNs / 1000000},"gc_ms":${w.gcMs},""" +
        s""""shuffle_bytes":${w.shuffleBytes},"in_bytes":${w.inBytes},""" +
        s""""out_bytes":${w.outBytes},"out_records":${w.outRecords}}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}
