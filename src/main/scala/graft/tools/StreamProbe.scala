package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scale probe for the streaming gate family (r6 verdict item 3): time
  * q57/q58/q59 across SFs and — the part Profile can't see — capture the
  * STATE STORE footprint from StreamingQueryProgress, so watermark
  * eviction is measured, not just spec-asserted. A healthy result shows
  * wall time growing at or below data growth while peak state bytes track
  * the WINDOW contents (for the single-micro-batch AvailableNow faces,
  * state holds the whole join window by design; the number to watch is
  * that state rows track input rows, not input², and memory per row is
  * flat).
  *
  * Usage: graft.tools.StreamProbe <sfDir> <repeat> <queryName>...
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeat = args(1).toInt
    val names = args.drop(2)
    val spark = graft.Session.tool(sfDir)

    // progress events arrive async on the listener bus; peak-tracking
    // atomics survive until the query terminates and the bus drains
    val peakStateBytes = new AtomicLong(0)
    val peakStateRows = new AtomicLong(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty) {
          val bytes = ops.map(_.memoryUsedBytes).sum
          val rows = ops.map(_.numRowsTotal).sum
          peakStateBytes.updateAndGet(m => math.max(m, bytes))
          peakStateRows.updateAndGet(m => math.max(m, rows))
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    for (name <- names; i <- 1 to repeat) {
      peakStateBytes.set(0); peakStateRows.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      // the streaming query inside the face has terminated (awaitTermination)
      // before the batch re-agg runs, so the bus has flushed its progress
      println(f"$name run $i: $secs%.2fs state_peak=${peakStateBytes.get / 1024 / 1024}%d MB" +
        f" state_rows=${peakStateRows.get}%d")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
