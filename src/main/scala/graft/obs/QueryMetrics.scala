package graft.obs

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Totals of the Spark work one measured body issued: jobs, submitted
  * stages and ended tasks, and the task metrics summed over those
  * tasks (peak execution memory is the largest of any one task).
  */
final case class Totals(jobs: Int, stages: Int, tasks: Int,
                        runMs: Long, cpuNanos: Long, gcMs: Long,
                        inputBytes: Long, shuffleReadBytes: Long,
                        shuffleWriteBytes: Long, memorySpilledBytes: Long,
                        diskSpilledBytes: Long, peakExecutionMemory: Long) {
  def cpuSec: Double = cpuNanos / 1e9
}

object Totals {
  val zero: Totals = Totals(0, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
}

/** The one task-metrics listener of the measuring mains (`Bench`,
  * `Profile`, `SpillProbe`) and the specs' job counts. Events reach it
  * on the listener bus's single dispatch thread, so `acc` has one
  * writer; readers see it after [[QueryMetrics.measure]] drains the bus.
  */
final class QueryMetrics private extends SparkListener {
  @volatile private var acc = Totals.zero

  override def onJobStart(e: SparkListenerJobStart): Unit =
    acc = acc.copy(jobs = acc.jobs + 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    acc = acc.copy(stages = acc.stages + 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc.copy(tasks = acc.tasks + 1)
    val m = e.taskMetrics
    acc = if (m == null) a else a.copy(
      runMs = a.runMs + m.executorRunTime,
      cpuNanos = a.cpuNanos + m.executorCpuTime,
      gcMs = a.gcMs + m.jvmGCTime,
      inputBytes = a.inputBytes + m.inputMetrics.bytesRead,
      shuffleReadBytes = a.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = a.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      memorySpilledBytes = a.memorySpilledBytes + m.memoryBytesSpilled,
      diskSpilledBytes = a.diskSpilledBytes + m.diskBytesSpilled,
      peakExecutionMemory = math.max(a.peakExecutionMemory, m.peakExecutionMemory))
  }
}

object QueryMetrics {

  /** `body`'s result and the totals of the Spark work it issued. The
    * bus is drained before the listener joins (an earlier body's late
    * events are not counted) and after `body` returns (every event its
    * jobs posted has been delivered), so no sleep or poll is needed.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Totals) = {
    val sc = spark.sparkContext
    val listener = new QueryMetrics
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      GraftBus.drain(sc)
      (result, listener.acc)
    } finally sc.removeSparkListener(listener)
  }
}
