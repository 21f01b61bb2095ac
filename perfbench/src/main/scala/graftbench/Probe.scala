package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the traced run sees it. Times are epoch milliseconds. */
final class JobRecord(val id: Int, val module: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var outputFiles = 0L
}

/** One executed query: when its planning started and how long Catalyst
  * spent analyzing, optimizing and planning it. */
final case class PlanRecord(startMs: Long, planMs: Long)

/** Collects jobs (attributed to an engine module by call site) and
  * executed-query planning phases. Registered only in the traced run. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val byId = mutable.Map.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, JobRecord]
  val jobs = mutable.ArrayBuffer.empty[JobRecord]
  val plans = mutable.ArrayBuffer.empty[PlanRecord]

  /** SQL execution id -> module of the action that started it. */
  private val executions = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = Modules.ofCallSite(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // adaptive execution submits a query's stages from its own threads, so
    // such a job's call site names no engine frame; the SQL execution it
    // belongs to was started by the engine's action and does
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    val module = execution.filter(_ != Modules.Bench).getOrElse(
      e.stageInfos.headOption.fold(Modules.Bench)(s => Modules.ofCallSite(s.details)))
    val j = new JobRecord(e.jobId, module, e.time)
    j.stages = e.stageInfos.size
    byId(e.jobId) = j
    e.stageInfos.foreach(s => stageJob(s.stageId) = j)
    jobs += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      j.tasks += 1
      j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      // scheduler delay (launch to run, result fetch) plus deserialization
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      j.waitMs += math.max(0L, delay) + m.executorDeserializeTime
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      j.spillB += m.diskBytesSpilled
      j.inputB += m.inputMetrics.bytesRead
      j.outputB += m.outputMetrics.bytesWritten
      // a writing task writes one file per partition it holds; here, one
      if (m.outputMetrics.recordsWritten > 0) j.outputFiles += 1
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val rec = PlanRecord(phases.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis()),
      phases.map(_.durationMs).sum)
    synchronized { plans += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
