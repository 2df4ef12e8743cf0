package graft.obs

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Task-metric totals over a set of finished tasks. Peak execution memory is
  * the max over the tasks, every other figure a sum. */
final case class TaskTotals(
    tasks: Long = 0L, runMs: Long = 0L, cpuNs: Long = 0L, gcMs: Long = 0L,
    inputBytes: Long = 0L, shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
    memorySpillBytes: Long = 0L, diskSpillBytes: Long = 0L, peakExecMemBytes: Long = 0L) {

  def +(m: TaskMetrics): TaskTotals = TaskTotals(
    tasks + 1, runMs + m.executorRunTime, cpuNs + m.executorCpuTime, gcMs + m.jvmGCTime,
    inputBytes + m.inputMetrics.bytesRead,
    shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
    shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
    memorySpillBytes + m.memoryBytesSpilled, diskSpillBytes + m.diskBytesSpilled,
    math.max(peakExecMemBytes, m.peakExecutionMemory))

  def json: String =
    s""""tasks":$tasks,"executor_run_s":${QueryMetrics.secs(runMs / 1e3)},""" +
      s""""executor_cpu_s":${QueryMetrics.secs(cpuNs / 1e9)},"gc_s":${QueryMetrics.secs(gcMs / 1e3)},""" +
      s""""input_bytes":$inputBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_memory_bytes":$memorySpillBytes,""" +
      s""""spill_disk_bytes":$diskSpillBytes,"peak_exec_memory_bytes":$peakExecMemBytes"""
}

/** One completed stage of a measured entry; `callsite` is the description
  * of the SQL execution the stage ran for (the Dataset action's call site),
  * or, outside SQL, the stage name Spark derives from the user code that
  * launched it. */
final case class StageMetrics(entry: String, id: Int, attempt: Int, callsite: String,
                              wallS: Double, totals: TaskTotals) {
  def json: String =
    s"""{"name":${QueryMetrics.jsonStr(entry)},"stage":$id,"attempt":$attempt,""" +
      s""""callsite":${QueryMetrics.jsonStr(callsite)},"wall_s":${QueryMetrics.secs(wallS)},""" +
      s"""${totals.json}}"""
}

/** One measured entry: wall time of the thunk alone, the row count it
  * returned (-1 when it failed), and what its Spark jobs did. */
final case class EntryMetrics(name: String, error: Option[String], wallS: Double, rows: Long,
                              jobs: Long, stages: Seq[StageMetrics], stageCount: Long,
                              totals: TaskTotals) {
  def ok: Boolean = error.isEmpty

  def json: String =
    s"""{"name":${QueryMetrics.jsonStr(name)},"ok":$ok,""" +
      error.map(e => s""""error":${QueryMetrics.jsonStr(e)},""").getOrElse("") +
      s""""wall_s":${QueryMetrics.secs(wallS)},"rows":$rows,"jobs":$jobs,"stages":$stageCount,""" +
      s"""${totals.json}}"""
}

/** Per-entry Spark metrics from one listener. Every task that ends while an
  * entry runs is charged to it, so entries must run one at a time. Listener
  * events arrive asynchronously; `measure` drains the bus before and after
  * the thunk, outside its timed window, so one entry's late events never
  * land on the next. With `keepStages` each entry also carries one record
  * per completed stage. */
final class QueryMetrics private (sc: SparkContext, keepStages: Boolean) extends SparkListener {
  private var jobs = 0L
  private var stageCount = 0L
  private var totals = TaskTotals()
  private val stageTotals = mutable.HashMap.empty[(Int, Int), TaskTotals]
  private val stages = mutable.ArrayBuffer.empty[StageMetrics]
  private var entry = ""
  // SQL execution id → its description, and stage id → the execution it
  // ran for: AQE submits query stages from its own thread pool, so their
  // stage names point at that pool, not at the action that started them
  private val executions = mutable.HashMap.empty[Long, String]
  private val stageExecution = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (keepStages) Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .foreach(id => e.stageIds.foreach(stageExecution(_) = id.toLong))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if keepStages =>
      synchronized { executions(s.executionId) = s.description }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      totals += m
      if (keepStages) {
        val k = (e.stageId, e.stageAttemptId)
        stageTotals(k) = stageTotals.getOrElse(k, TaskTotals()) + m
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCount += 1
    if (keepStages) {
      val si = e.stageInfo
      val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
      val callsite = stageExecution.remove(si.stageId).flatMap(executions.get).getOrElse(si.name)
      stages += StageMetrics(entry, si.stageId, si.attemptNumber(), callsite, wall,
        stageTotals.remove((si.stageId, si.attemptNumber())).getOrElse(TaskTotals()))
    }
  }

  /** Runs `thunk` (returning a row count) as entry `name`. A failure is
    * caught and reported in the record; it never propagates. */
  def measure(name: String)(thunk: => Long): EntryMetrics = {
    org.apache.spark.graft.BusFlush.waitUntilEmpty(sc)
    synchronized {
      jobs = 0L; stageCount = 0L; totals = TaskTotals()
      stageTotals.clear(); stages.clear(); executions.clear(); stageExecution.clear(); entry = name
    }
    val t0 = System.nanoTime()
    val (rows, error) =
      try (thunk, None)
      catch { case NonFatal(e) => (-1L, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graft.BusFlush.waitUntilEmpty(sc)
    synchronized {
      EntryMetrics(name, error, wall, rows, jobs, stages.toList, stageCount, totals)
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object QueryMetrics {
  def attach(sc: SparkContext, keepStages: Boolean = false): QueryMetrics = {
    val qm = new QueryMetrics(sc, keepStages)
    sc.addSparkListener(qm)
    qm
  }

  // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
  private[graft] def secs(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private[graft] def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
