package graft.obs

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One streaming micro-batch as its progress event reports it. */
final case class Batch(batchId: Long, inputRows: Long, stateRows: Long,
    stateBytes: Long, watermark: Option[String], durationMs: Map[String, Long])

/** Where one measured body's time and bytes went: scheduler, task,
  * planner and streaming counters, summed over everything the body ran.
  * `planMs` sums, per phase, only the `qe.tracker` phases of each
  * action's own QueryExecution. A DataFrame is analyzed when it is
  * built, and an action over it (a noop-sink write is a new command
  * QueryExecution over the analyzed plan) does not re-run that
  * analysis, so a face that is analyzed eagerly while it is built can
  * read `analysis:0`: time the build separately (`Profile`'s `build=`)
  * to see it. */
final case class Record(
    jobs: Long, stages: Long, tasks: Long,
    taskRunS: Double, taskCpuS: Double, gcS: Double,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputRows: Long, inputBytes: Long, recordsWritten: Long,
    planMs: Map[String, Long], actions: Long,
    batches: Seq[Batch]) {

  def batchCount: Int = batches.size

  /** Σ `durationMs` per key over every micro-batch (`addBatch`,
    * `triggerExecution`, `queryPlanning`, `walCommit`, …). */
  def streamMs: Map[String, Long] =
    batches.flatMap(_.durationMs).groupMapReduce(_._1)(_._2)(_ + _)

  def peakStateRows: Long = batches.map(_.stateRows).maxOption.getOrElse(0L)
  def peakStateBytes: Long = batches.map(_.stateBytes).maxOption.getOrElse(0L)

  private def kv(m: Map[String, Long]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(",")

  /** One `key=value` line for the tools' stdout. */
  def line: String = {
    val stream =
      if (batches.isEmpty) ""
      else s" batches=$batchCount stream_ms=${kv(streamMs)} " +
        s"peak_state_rows=$peakStateRows peak_state_bytes=$peakStateBytes"
    f"jobs=$jobs stages=$stages tasks=$tasks run=$taskRunS%.2fs cpu=$taskCpuS%.2fs " +
      f"gc=$gcS%.2fs shuffle_w=$shuffleWriteBytes shuffle_r=$shuffleReadBytes " +
      f"spill=$spillBytes in_rows=$inputRows in_bytes=$inputBytes " +
      f"written=$recordsWritten actions=$actions plan_ms=${kv(planMs)}" + stream
  }

  /** The record as one JSON object (the `layers` entries of
    * `bench_detail.json`). */
  def json: String = {
    def obj(m: Map[String, Long]): String =
      m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val bs = batches.map(b =>
      s"""{"batch_id":${b.batchId},"input_rows":${b.inputRows},"state_rows":${b.stateRows},""" +
        s""""state_bytes":${b.stateBytes},"watermark":${b.watermark.fold("null")(str)},""" +
        s""""duration_ms":${obj(b.durationMs)}}""").mkString("[", ",", "]")
    f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_run_s":$taskRunS%.3f,""" +
      f""""task_cpu_s":$taskCpuS%.3f,"gc_s":$gcS%.3f,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      f""""shuffle_read_bytes":$shuffleReadBytes,"spill_bytes":$spillBytes,""" +
      f""""input_rows":$inputRows,"input_bytes":$inputBytes,"records_written":$recordsWritten,""" +
      s""""plan_ms":${obj(planMs)},"actions":$actions,"batch_count":$batchCount,""" +
      s""""stream_ms":${obj(streamMs)},"peak_state_rows":$peakStateRows,""" +
      s""""peak_state_bytes":$peakStateBytes,"batches":$bs}"""
  }
}

/** The engine meter: one listener for scheduler, SQL and streaming
  * events. It counts jobs, stages and task metrics as a
  * `SparkListener`, planning time per `qe.tracker` phase and driver
  * actions (`onSuccess` calls) as a `QueryExecutionListener`, and each
  * micro-batch's progress through its `StreamingQueryListener` face
  * (Spark's streaming listener is a class, so that face is a member).
  * Callers register it through [[Meter.measure]]; no session carries one
  * by default. */
final class Meter extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  private var shuffleW, shuffleR, spill, inRows, inBytes, written, actions = 0L
  private val planMs = mutable.Map.empty[String, Long]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val b = Batch(p.batchId, p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, Option(p.eventTime.get("watermark")),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      Meter.this.synchronized { batches += b }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inRows += m.inputMetrics.recordsRead
      inBytes += m.inputMetrics.bytesRead
      written += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      actions += 1
      qe.tracker.phases.foreach { case (phase, s) =>
        planMs(phase) = planMs.getOrElse(phase, 0L) + s.durationMs
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def record: Record = synchronized {
    Record(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
      shuffleW, shuffleR, spill, inRows, inBytes, written,
      planMs.toMap, actions, batches.sortBy(_.batchId).toList)
  }
}

object Meter {

  /** Runs `body` with a fresh meter registered on `spark`, drains the
    * listener bus, and returns the body's result with what it ran. */
  def measure[T](spark: SparkSession)(body: => T): (T, Record) = {
    val m = new Meter
    val sc = spark.sparkContext
    sc.addSparkListener(m)
    spark.listenerManager.register(m)
    spark.streams.addListener(m.streams)
    try {
      val out = body
      GraftBridge.drainListeners(sc)
      (out, m.record)
    } finally {
      spark.streams.removeListener(m.streams)
      spark.listenerManager.unregister(m)
      sc.removeSparkListener(m)
    }
  }
}
