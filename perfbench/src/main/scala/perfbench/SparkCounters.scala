package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters from Spark's scheduler and from Catalyst's query planning
  * tracker, registered only for traced runs. Jobs are attributed to the job
  * group that was set when they started (the open [[Tracer]] span's name). */
final class SparkCounters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobsByGroup = mutable.Map.empty[String, Int].withDefaultValue(0)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobsByGroup(group.getOrElse("")) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    if (e.taskInfo != null && e.taskInfo.failed) add("spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_busy_ms", m.executorRunTime.toDouble)
      add("spark.gc_ms", m.jvmGCTime.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      if (e.taskInfo != null) {
        // the scheduler-delay formula of Spark's own UI
        val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime
        add("spark.scheduler_delay_ms", math.max(0L, delay).toDouble)
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"catalyst.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** All counters so far, after every posted event has been delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      c.toMap ++ jobsByGroup.map { case (g, n) => s"jobs_in.$g" -> n.toDouble }
    }
  }
}

object SparkCounters {
  /** Counter growth from `before` to `after`. */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
