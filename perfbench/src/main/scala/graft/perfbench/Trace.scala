package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftshim.ListenerShim

/** One recorded span: a call into a layer of the program, timed from the
  * benchmark's side of the call. `op` groups the spans of one operation. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest per thread; a span opened on another
  * thread (the API server's handler) names its parent explicitly. While a
  * span is open its id is the Spark local property [[Tracer.SpanProp]], so
  * [[SparkMeter]] can charge each job to the span that submitted it.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `f` inside a span. `attrs` receives the call's result and returns
    * counts to record on the span (rows, bytes, retries). */
  def span[T](name: String, op: Long, parent: Long = -1L)(f: => T)(
      attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double]): T = {
    val id = nextId.getAndIncrement()
    val par = if (parent >= 0) parent else current
    val saved = sc.getLocalProperty(Tracer.SpanProp)
    stack.set(id :: stack.get)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      synchronized(spans += Span(id, par, op, name, t0, t1, attrs(r)))
      r
    } finally {
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.SpanProp, saved)
    }
  }

  /** Self time per span id: duration minus the union of its children. */
  def selfSeconds: Map[Long, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Intervals.covered(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      s.id -> math.max(0.0, (s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Per-span Spark counters: jobs, tasks, task time, shuffle, spill, GC and
  * the task intervals (for idle time). Filled from listener events, which
  * arrive asynchronously: call [[drain]] before reading. */
final class SparkMeter(sc: SparkContext) extends SparkListener {
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }

  private val bySpan = mutable.Map.empty[Long, Counts]
  private val stageSpan = mutable.Map.empty[Int, Long]

  private def counts(span: Long): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    counts(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def drain(): Unit = ListenerShim.waitUntilListenersDrained(sc, 60000L)

  def snapshot: Map[Long, Counts] = synchronized(bySpan.toMap)
}

object Intervals {
  /** Total length covered by a set of (start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Milliseconds of [from, to] not covered by any interval. */
  def idleMs(iv: Seq[(Long, Long)], from: Long, to: Long): Long =
    math.max(0L, (to - from) -
      covered(iv.map(p => (math.max(p._1, from), math.min(p._2, to)))))
}
