package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Multi-batch streaming state probe (r7 verdict item 4): the gate's
  * streaming faces run AvailableNow over a single file → ONE micro-batch,
  * where the watermark sits at its initial 0 and nothing is evicted —
  * worst-case state BY CONSTRUCTION, so watermark eviction at scale was
  * only spec-asserted (StreamingSpec, toy input). This probe measures it:
  * events are staged into N time-range-ordered parquet files (ascending
  * modification times so the file source replays them in event-time
  * order, the production arrival shape), a REAL streaming query consumes
  * them one file per trigger (`maxFilesPerTrigger=1` under AvailableNow),
  * and the listener records per-batch state rows/bytes + watermark.
  *
  * Healthy result — the number the 100 TB question needs: state rows
  * RISE across the first batches then PLATEAU at the windows/keys inside
  * the watermark lag and FALL as eviction overtakes arrival, with the
  * peak well under the single-batch worst case (= total groups, what
  * StreamProbe measures on the gate faces). State tracking the WATERMARK
  * WINDOW rather than the corpus is eviction working.
  *
  * Variants: `agg` = q58's windowed aggregation (state = open windows);
  * `dedup` = q59's dropDuplicatesWithinWatermark (state = keys within
  * the lag horizon).
  *
  * Usage: graft.tools.StreamEvictionProbe <sfDir> [nFiles=16]
  */
object StreamEvictionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nFiles = if (args.length > 1) args(1).toInt else 16
    val spark = graft.Session.tool(sfDir)

    // stage: time-range-ordered files with ascending mtimes (the file
    // source orders by modification time; equal stamps would leave the
    // replay order undefined and spray late data across the watermark)
    val stage = new java.io.File("target/tmp/evict_probe_stage").getAbsoluteFile
    scala.reflect.io.Path(stage).deleteRecursively()
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"), col("user_id"))
    ev.repartitionByRange(nFiles, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(stage.getPath)
    val parts = Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val t0 = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 2000L) }
    val nRows = ev.count()
    val totalWindows = ev.select((floor(unix_timestamp(col("ts")) / 600)).as("w"),
      col("event_type")).distinct().count()
    val totalKeys = ev.select(col("user_id"), col("event_type")).distinct().count()

    case class Batch(id: Long, rows: Long, stateRows: Long, stateMB: Long, wm: String)
    val batches = scala.collection.mutable.ListBuffer.empty[Batch]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators
        batches.synchronized {
          batches += Batch(p.batchId, p.numInputRows,
            if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).sum,
            if (ops.isEmpty) 0L else ops.map(_.memoryUsedBytes).sum / 1024 / 1024,
            Option(p.eventTime.get("watermark")).getOrElse("-"))
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    def runVariant(tag: String, out: DataFrame): Unit = {
      batches.synchronized(batches.clear())
      val ckpt = s"target/tmp/evict_probe_ckpt_$tag"
      scala.reflect.io.Path(new java.io.File(ckpt)).deleteRecursively()
      val t = System.nanoTime()
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(600000)
      val secs = (System.nanoTime() - t) / 1e9
      Thread.sleep(1000) // listener bus drain
      val bs = batches.synchronized(batches.toList).sortBy(_.id)
        .filter(_.rows > 0) // drop the empty finalization batches
      val peak = if (bs.isEmpty) 0L else bs.map(_.stateRows).max
      val last = if (bs.isEmpty) 0L else bs.last.stateRows
      println(f"[$tag] sf=$sfDir rows=$nRows files=${parts.length} wall=$secs%.1fs " +
        f"batches=${bs.size} peak_state_rows=$peak last_batch_state_rows=$last " +
        f"total_windows=$totalWindows total_keys=$totalKeys")
      bs.foreach(b => println(
        f"[$tag]   batch ${b.id}%2d: in=${b.rows}%7d state_rows=${b.stateRows}%7d " +
          f"state_mb=${b.stateMB}%4d wm=${b.wm}"))
    }

    val schema = spark.read.parquet(stage.getPath).schema
    def src(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage.getPath)

    runVariant("agg", graft.streaming.StreamIngest.windowedEventCounts(
      src().select(col("ts"), col("event_type"), col("value")),
      watermark = "10 minutes", window_ = "10 minutes"))
    runVariant("dedup", graft.streaming.StreamIngest.dedupStream(
      src().select(col("ts"), col("user_id"), col("event_type")),
      Seq("user_id", "event_type"), watermark = "10 minutes"))
    spark.stop()
  }
}
