package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark listener counters, summed between two calls of [[take]].
  *
  * Task metrics give the execution layer (tasks, executor run and CPU
  * time, scheduler delay, shuffle, spill, GC, bytes written); the query
  * execution callbacks give Catalyst's phase times (analysis,
  * optimization, planning) of each action that completes.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = synchronized { sums(k) += v }

  /** The counters since the previous call; resets them. */
  def take(): Map[String, Double] = synchronized {
    val m = sums.toMap
    sums.clear()
    m.withDefaultValue(0.0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("bytes_written_b", m.outputMetrics.bytesWritten.toDouble)
      // the scheduler delay as Spark's own UI derives it
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        .toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"phase.$phase", s.durationMs.toDouble)
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
