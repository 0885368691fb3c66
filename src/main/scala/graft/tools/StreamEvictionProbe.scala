package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Multi-batch streaming state probe (r7 verdict item 4): the gate's
  * streaming faces run AvailableNow over a single file → ONE micro-batch,
  * where the watermark sits at its initial 0 and nothing is evicted —
  * worst-case state BY CONSTRUCTION, so watermark eviction at scale was
  * only spec-asserted (StreamingSpec, toy input). This probe measures it:
  * events are staged into N time-range-ordered parquet files (ascending
  * modification times so the file source replays them in event-time
  * order, the production arrival shape), a REAL streaming query consumes
  * them one file per trigger (`maxFilesPerTrigger=1` under AvailableNow),
  * and [[graft.obs.Meter]] records per-batch state rows/bytes + watermark.
  *
  * Healthy result — the number the 100 TB question needs: state rows
  * RISE across the first batches then PLATEAU at the windows/keys inside
  * the watermark lag and FALL as eviction overtakes arrival, with the
  * peak well under the single-batch worst case (= total groups, the
  * peak state `graft.tools.Profile` reports on the gate faces). State tracking the WATERMARK
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
    val stage = new java.io.File(graft.Scratch.fresh("evict_probe_stage")).getAbsoluteFile
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

    def runVariant(tag: String, out: DataFrame): Unit = {
      val ckpt = graft.Scratch.fresh(s"evict_probe_ckpt_$tag")
      val (secs, rec) = graft.obs.Meter.measure(spark) {
        val t = System.nanoTime()
        out.writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination(600000)
        (System.nanoTime() - t) / 1e9
      }
      val bs = rec.batches.filter(_.inputRows > 0) // drop the empty finalization batches
      val peak = bs.map(_.stateRows).maxOption.getOrElse(0L)
      val last = bs.lastOption.fold(0L)(_.stateRows)
      println(f"[$tag] sf=$sfDir rows=$nRows files=${parts.length} wall=$secs%.1fs " +
        f"batches=${bs.size} peak_state_rows=$peak last_batch_state_rows=$last " +
        f"total_windows=$totalWindows total_keys=$totalKeys")
      bs.foreach(b => println(
        f"[$tag]   batch ${b.batchId}%2d: in=${b.inputRows}%7d state_rows=${b.stateRows}%7d " +
          f"state_mb=${b.stateBytes / 1024 / 1024}%4d wm=${b.watermark.getOrElse("-")}"))
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
