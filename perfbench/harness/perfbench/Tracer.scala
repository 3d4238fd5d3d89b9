package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** A half-open interval in epoch milliseconds. */
final case class Iv(start: Double, end: Double) {
  def len: Double = math.max(0.0, end - start)
}

/** Per-job record; `op` is the benchmark operation whose job group
  * tagged the job (-1 when the job ran outside any operation). */
final class JobRec(val id: Int, val op: Int, val startMs: Long, val sqlExec: Option[Long]) {
  var endMs: Long = startMs
}

/** Task metrics summed over one operation. */
final class TaskSums {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L
}

/** Collects, in memory, everything the traced run attributes to
  * layers: jobs with their intervals (exec), task metrics per operation
  * and per stage, QueryExecution phase intervals (catalyst) and
  * adaptive re-plans (aqe). Registered only for traced passes.
  * Operations are attributed by the job group the harness sets
  * (`op-<n>`); query phases by the interval they fall in. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  val opOfStage = mutable.HashMap.empty[Int, Int]
  val stagesByOp = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  val sums = mutable.HashMap.empty[Int, TaskSums]
  /** stage id -> task run times, for the slowest-stage skew ratio */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** (phase, interval) per completed QueryExecution */
  val phases = mutable.ArrayBuffer.empty[(String, Iv)]
  /** execution start (ms) of each listener callback */
  val executions = mutable.ArrayBuffer.empty[Long]
  val aqeByExec = mutable.HashMap.empty[Long, Int].withDefaultValue(0)

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val j = new JobRec(e.jobId, op, e.time, exec)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => opOfStage(s) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val op = opOfStage.getOrElse(e.stageInfo.stageId, -1)
    stagesByOp(op) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val op = opOfStage.getOrElse(e.stageId, -1)
      val s = sums.getOrElseUpdate(op, new TaskSums)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
      s.rowsRead += m.inputMetrics.recordsRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.rowsWritten += m.outputMetrics.recordsWritten
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized(aqeByExec(u.executionId) += 1)
    case _ =>
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ps = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ps.get(p).foreach(s => phases += p -> Iv(s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    }
    executions += ps.values.map(_.startTimeMs).minOption.getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Operation of each SQL execution id, from the jobs it ran. */
  def opOfExec: Map[Long, Int] = synchronized {
    jobs.flatMap(j => j.sqlExec.map(_ -> j.op)).toMap
  }
}
