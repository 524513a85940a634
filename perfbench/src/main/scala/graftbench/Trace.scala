package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-metric sums of the Spark jobs run inside one span. Peak execution
  * memory is a max over tasks, not a sum.
  */
final case class Counts(
    jobs: Long = 0,
    tasks: Long = 0,
    cpuNs: Long = 0,
    gcMs: Long = 0,
    shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0,
    peakMemBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(
    jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, math.max(peakMemBytes, o.peakMemBytes))
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3
}

/** The benchmark's one task-metrics listener. Jobs carry the id of the span
  * that submitted them as a local property; every task's metrics are summed
  * into that span. Jobs submitted outside any span are not counted.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()

  private def add(span: String, c: Counts): Unit =
    counts.merge(span, c, (a: Counts, b: Counts) => a + b)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { span =>
      js.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      add(span, Counts(jobs = 1))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    val span = stageSpan.get(te.stageId)
    if (m != null && span != null)
      add(span, Counts(
        tasks = 1,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled,
        peakMemBytes = m.peakExecutionMemory))
  }

  def of(span: String): Counts = Option(counts.get(span)).getOrElse(Counts())
}

/** One timed interval around a call into a layer. `own` holds the task
  * metrics of jobs submitted while this span was the innermost one.
  */
final case class Span(
    id: String,
    name: String,
    parent: Option[String],
    startNs: Long,
    endNs: Long,
    own: Counts) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run and written out at its end. The
  * innermost open span is published as a thread-local Spark property, so
  * each job's task metrics land in the span that started it.
  */
final class Tracer(sc: SparkContext) {
  private val listener = new SpanListener
  sc.addSparkListener(listener)
  private val done = ArrayBuffer[Span]()
  private var open: List[String] = Nil
  private var seq = 0

  def spans: Seq[Span] = done.toSeq

  /** Run `f` inside a span. */
  def span[A](name: String)(f: => A): (A, Span) = {
    seq += 1
    val id = s"$name#$seq"
    val parent = open.headOption
    open = id :: open
    sc.setLocalProperty(Tracer.SpanKey, id)
    val t0 = System.nanoTime()
    val out =
      try f
      finally {
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.orNull)
      }
    val t1 = System.nanoTime()
    org.apache.spark.perfbenchbridge.drainListenerBus(sc)
    val s = Span(id, name, parent, t0, t1, listener.of(id))
    done += s
    System.err.println(f"[perfbench] span ${s.name}%-24s ${s.wallS}%8.3f s  jobs ${s.own.jobs}%4d  cpu ${s.own.cpuS}%8.3f s")
    (out, s)
  }

  /** A span's task metrics including those of every span nested in it. */
  def total(s: Span): Counts =
    done.filter(_.parent.contains(s.id)).foldLeft(s.own)((acc, c) => acc + total(c))
}

object Tracer {
  val SpanKey = "perfbench.span"
}
