package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span of the traced run; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, rep: Int, startNs: Long, endNs: Long)

/** Wall interval (System.nanoTime) and process CPU seconds of one call. */
final case class Timing(startNs: Long, endNs: Long, cpuS: Double) {
  def wall: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends; times are
  * relative to the process start. */
final class Spans(originNs: Long) {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def add(name: String, parent: Int, rep: Int, t: Timing): Unit =
    buf += Span(buf.length, name, parent, rep, t.startNs - originNs, t.endNs - originNs)

  /** Opens a root span whose end is set once its children are done. */
  def root(name: String, rep: Int): Int = {
    val now = System.nanoTime() - originNs
    buf += Span(buf.length, name, -1, rep, now, now)
    buf.length - 1
  }

  def close(id: Int): Unit = buf(id) = buf(id).copy(endNs = System.nanoTime() - originNs)

  def toJson: String = buf.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"rep":${s.rep},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    .mkString("[\n", ",\n", "\n]\n")
}

/** Stage-level counters needed by the output checks; registered in every
  * run (one event per stage). Named accumulators are read from the stage
  * infos: a new accumulator per verb call, so the per-rep value is the sum
  * over the ids seen since [[reset]]. */
final class StageMeter extends SparkListener {
  private val accs = mutable.Map.empty[Long, (String, Long)]
  private var written = 0L

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    si.accumulables.values.foreach { a =>
      (a.name, a.value) match {
        case (Some(n), Some(v: java.lang.Long)) if !n.startsWith("internal.") =>
          accs(a.id) = (n, v.longValue)
        case _ =>
      }
    }
    if (si.taskMetrics != null) written += si.taskMetrics.outputMetrics.recordsWritten
  }

  def reset(): Unit = synchronized { accs.clear(); written = 0L }
  def acc(name: String): Long = synchronized { accs.values.filter(_._1 == name).map(_._2).sum }
  def recordsWritten: Long = synchronized { written }
}

/** Engine counters of one traced rep. */
final case class EngineSample(jobs: Long, stages: Long, tasks: Long, inputSplits: Long,
    taskRunS: Double, taskCpuS: Double, gcS: Double, shuffleWriteBytes: Long,
    spillBytes: Long, planMs: Long)

/** Scheduler and planner counters, registered only around traced reps. */
final class EngineMeter extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleW, spill, planMs = 0L
  private var firstInputStage = Int.MaxValue
  private var inputSplits = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += 1
    val m = si.taskMetrics
    if (m != null) {
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the verb's scan is the first stage that reads input
      if (m.inputMetrics.bytesRead > 0 && si.stageId < firstInputStage) {
        firstInputStage = si.stageId
        inputSplits = si.numTasks
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleW = 0; spill = 0; planMs = 0; firstInputStage = Int.MaxValue; inputSplits = 0
  }

  def sample(): EngineSample = synchronized {
    EngineSample(jobs, stages, tasks, inputSplits, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
      shuffleW, spill, planMs)
  }
}
