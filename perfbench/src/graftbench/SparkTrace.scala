package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark task metrics summed over the jobs of one call (one job group). */
final class OpCounters {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var jobs = 0L
  /** task durations (ms) per stage, for the skew figure */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Listener that attributes every job to the job group set around the
  * call that launched it. Jobs launched while `recording` is off are
  * ignored. Jobs without a group go to `defaultGroup` when one is set
  * (the REST server runs its jobs on its own threads, so client-side job
  * groups never reach them). */
final class SparkTrace(sc: SparkContext) extends SparkListener {
  @volatile var recording = false
  @volatile var defaultGroup: String = null
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counters = mutable.Map.empty[String, OpCounters]

  private def acc(group: String): OpCounters =
    counters.getOrElseUpdate(group, new OpCounters)

  override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
    val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(defaultGroup)
    if (g != null) synchronized {
      acc(g).jobs += 1
      js.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(te.stageId)
    if (g != null) synchronized {
      val c = acc(g)
      c.tasks += 1
      if (te.reason != Success) c.failedTasks += 1
      c.stageTaskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += te.taskInfo.duration
      val m = te.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.taskRunMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Wait until every event posted so far has been handled. */
  def flush(): Unit = org.apache.spark.graftbench.Bus.flush(sc)

  /** Counters of every group whose name is `module` or starts with
    * `module.`; call after [[flush]]. */
  def groups(module: String): Seq[OpCounters] = synchronized {
    counters.toSeq.collect { case (g, c) if g == module || g.startsWith(module + ".") => c }
  }

  def jobsOf(group: String): Long = synchronized { counters.get(group).map(_.jobs).getOrElse(0L) }
}

object SparkTrace {
  def attach(sc: SparkContext): SparkTrace = {
    val t = new SparkTrace(sc)
    sc.addSparkListener(t)
    t
  }

  /** The ten per-module figures, from the module's groups and the summed
    * wall time of the module's traced calls. */
  def moduleMetrics(module: String, gs: Seq[OpCounters], wallS: Double,
                    cores: Int, perUnit: Double): Seq[(String, Double, String)] = {
    val mb = 1048576.0 * math.max(perUnit, 1.0)
    val per = math.max(perUnit, 1.0)
    val run = gs.map(_.taskRunMs).sum / 1000.0
    val stages = gs.flatMap(_.stageTaskMs.values).filter(_.size >= 2)
    val skew =
      if (stages.isEmpty) 0.0
      else stages.map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        ts.max / math.max(med, 1.0)
      }.max
    Seq(
      (s"$module.cpu_s", gs.map(_.cpuNs).sum / 1e9 / per, "s"),
      (s"$module.gc_s", gs.map(_.gcMs).sum / 1000.0 / per, "s"),
      (s"$module.shuffle_write_mb", gs.map(_.shuffleWriteBytes).sum / mb, "MB"),
      (s"$module.shuffle_read_mb", gs.map(_.shuffleReadBytes).sum / mb, "MB"),
      (s"$module.spill_mb", gs.map(_.spillBytes).sum / mb, "MB"),
      (s"$module.peak_exec_mem_mb",
        (if (gs.isEmpty) 0L else gs.map(_.peakExecMem).max) / 1048576.0, "MB"),
      (s"$module.tasks", gs.map(_.tasks).sum / per, "count"),
      (s"$module.failed_tasks", gs.map(_.failedTasks).sum / per, "count"),
      (s"$module.idle_frac",
        if (wallS > 0) math.max(0.0, 1.0 - run / (wallS * cores)) else 0.0, "ratio"),
      (s"$module.task_skew", skew, "ratio"))
  }
}
