package graft.streaming

import graft.CopyConfig
import graft.pipeline.CopyWrite
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming face of the copy pipeline — the idiomatic mapping
  * of the reference's unbounded-stdin ingest plus its fault-tolerance
  * machinery (SURVEY.md §2A):
  *  - resumable checkpoint scan (#17, `read.go:100-107`): exactly
  *    `option("checkpointLocation", …)` — restart resumes from the last
  *    committed offset, at-least-once, monotone progress;
  *  - retry w/ backoff (#10, #19): task + trigger retry under the
  *    streaming commit protocol;
  *  - progress reporter (#13, `write.go:162-179`): rows per trigger is
  *    built into Spark's progress events; [[graft.obs.Meter]] collects
  *    them (the reference hand-rolls a ticker goroutine);
  *  - backpressure (unbuffered channel, `write.go:122`): maxFilesPerTrigger
  *    bounds each micro-batch.
  */
object StreamIngest {

  /** Unbounded CSV-line ingest from a directory: text stream → quote-
    * preserving parse → schema'd inference. Same per-record code path as
    * batch CopyWrite (one pipeline, two execution modes). */
  def readCsvStream(spark: SparkSession, dir: String, schema: StructType,
      cfg: CopyConfig, maxFilesPerTrigger: Int = 16): DataFrame = {
    val lines: Dataset[String] = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .textFile(dir)
    // header handling is per-file in streaming; the reference's stdin
    // stream has no file boundary, so header=false is the faithful mode
    val (parsed, _) = CopyWrite.parseRecords(lines, cfg)
    CopyWrite.inferSchemad(parsed, schema, cfg)
  }

  /** Sink with checkpoint-resume (the `read.go` token-checkpoint analog). */
  def writeParquetStream(df: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Event-time tumbling/sliding aggregation with watermark — the
    * streaming face of Relational.eventTumblingWindows. State is bounded
    * by the watermark; at 100 TB/day this is the only shape that holds. */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming dedup with BOUNDED state: duplicates of a key arriving
    * within the watermark horizon are dropped; state for keys older than
    * the watermark is evicted (plain dropDuplicates on a stream retains
    * every key forever — unusable at 100 TB/day). The dedup face of the
    * training-data pipeline for event/document streams; batch twins are
    * Dedup.exactDedup / firstEventPerKey. */
  def dedupStream(events: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-STATIC enrichment join — the fourth streaming join class
    * (alongside the stream-stream interval join, windowed agg, and
    * dedup): each micro-batch joins against a BATCH-side dimension,
    * re-planned per trigger so dim updates between triggers are picked
    * up. Stateless — nothing buffers, no watermark needed for the join
    * itself — and with a broadcastable dim the stream side never
    * shuffles: the 100 TB/day enrichment shape. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), key)

  /** Stream-stream INTERVAL join — the streaming face of
    * [[graft.ops.Temporal.rangeJoin]] (q46's batch semantics): each left
    * ("trigger") event joins right events of the same key whose
    * event-time falls in `[left.ts, left.ts + window)`. Both sides carry
    * watermarks and the join condition bounds right.ts relative to
    * left.ts on BOTH ends, which is exactly what lets Spark evict join
    * state: a buffered left row is droppable once the right watermark
    * passes `left.ts + window`, a right row once the left watermark
    * passes `right.ts`. Without the two-sided time bound the state grows
    * forever — the unusable-at-scale shape this operator exists to
    * avoid. Columns: left must carry (key, ts), right (key, rts) plus
    * payloads; inner join. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
      window_ : String = "24 hours", watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.withWatermark("rts", watermark)
    l.join(r,
      l(key) === r(key) &&
        col("rts") >= col("ts") &&
        col("rts") < col("ts") + expr(s"INTERVAL $window_"))
      .drop(r(key))
  }

  /** Stream-stream LEFT OUTER interval join — [[intervalJoinStream]]'s
    * join with outer semantics: matched rows emit as they join; a left
    * row with NO match emits null-padded only once the global watermark
    * proves no future right row can land in its [ts, ts+window) — the
    * outer-emission-on-state-eviction contract, the piece the inner join
    * (q57) never exercises. State is bounded exactly as the inner join's
    * (watermark-trimmed on both sides); the outer rows are a byproduct
    * of the same eviction, not extra state. */
  def intervalJoinStreamOuter(left: DataFrame, right: DataFrame, key: String,
      window_ : String = "24 hours", watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.withWatermark("rts", watermark)
    l.join(r,
      l(key) === r(key) &&
        col("rts") >= col("ts") &&
        col("rts") < col("ts") + expr(s"INTERVAL $window_"),
      "left_outer")
      .drop(r(key))
  }

  /** Session windows (gap-based) per user — state-bounded by watermark. */
  def sessionizedEvents(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", gap)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
