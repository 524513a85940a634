package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task-time accounting for one session: executor run time, CPU time, GC
  * time and task count summed over every finished task. Wall time against
  * summed task time shows how much of a run is parallel work and how much is
  * driver planning and scheduling gaps. Events arrive asynchronously on the
  * listener bus, so a snapshot taken right after an action may miss its last
  * few tasks.
  */
final class TaskMetrics private () extends SparkListener {
  private val runNanos, cpuNanos, gcNanos, tasks = new AtomicLong

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (te.taskMetrics != null) {
      runNanos.addAndGet(te.taskMetrics.executorRunTime * 1000000L)
      cpuNanos.addAndGet(te.taskMetrics.executorCpuTime)
      gcNanos.addAndGet(te.taskMetrics.jvmGCTime * 1000000L)
      tasks.incrementAndGet()
    }

  def totals: TaskMetrics.Totals =
    TaskMetrics.Totals(runNanos.get() / 1e9, cpuNanos.get() / 1e9, gcNanos.get() / 1e9, tasks.get())
}

object TaskMetrics {
  /** Seconds of executor run, CPU and GC time, and the task count. */
  final case class Totals(runS: Double, cpuS: Double, gcS: Double, tasks: Long) {
    def -(o: Totals): Totals = Totals(runS - o.runS, cpuS - o.cpuS, gcS - o.gcS, tasks - o.tasks)
  }

  /** A listener registered on `spark`'s context from now on. */
  def attach(spark: SparkSession): TaskMetrics = {
    val m = new TaskMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }
}
