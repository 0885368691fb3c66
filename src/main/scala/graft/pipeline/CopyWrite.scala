package graft.pipeline

import graft.{CopyConfig, Identifiers}
import graft.csv.{CsvParseException, QuoteCsv, RawCell}
import graft.infer.{GoTimeFormat, TypeInference}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** The `write` verb (`/root/reference/write.go:70` runWriteCmd) rebuilt as
  * a Spark pipeline: CSV text → quote-preserving record parse → 7-rule
  * per-cell type inference → typed DataFrame → sink.
  *
  * Spark-first mapping of the reference's moving parts (SURVEY.md §2A):
  *  - reader loop + 8 worker goroutines (#9)  → task parallelism over
  *    input splits; `cfg.numProcesses` is the verb session's task-slot
  *    count (`local[n]`, [[graft.Session.verb]]), so no shuffle is needed.
  *  - parse-error budget (#11)                → accumulator counted in the
  *    parse map, enforced by [[ParseErrors.check]] after the action.
  *  - insert-error budget (#12) + retry (#10) → Spark task retry +
  *    commit protocol; budget enforcement actually aborts (fixes the
  *    reference bug where "Aborting" only logs, SURVEY.md §3.4).
  *  - batching thresholds (#8)                → JDBC batches only
  *    (`cfg.chunkSize`, `cfg.maxBatchSizeKb` in
  *    [[graft.pipeline.BatchingSink]]). The parquet sink commits per task
  *    and writes one file per non-empty task; the tail rows are written
  *    with the rest (fixes reference bug #1, the dropped tail batch).
  *
  * Only the record split runs as a JVM lambda (ingestion seam); the
  * inference cascade is one native Catalyst expression per column
  * ([[graft.infer.InferCell]] via [[TypeInference.Exprs.cell]]) inside
  * whole-stage codegen.
  */
object CopyWrite {

  /** Parse-error bookkeeping: accumulator so the budget is counted across
    * all executors, checked once per action (the reference checks inline
    * on its single reader thread, `write.go:140-147`).
    *
    * Caveat (documented, not a bug for this budget's semantics): the
    * accumulator is updated inside a TRANSFORMATION, so Spark only
    * guarantees at-least-once counting — task retries, speculation, or
    * plan re-execution can over-count. The budget therefore fails no
    * later than it should (a budget breach is always detected) but may
    * occasionally fail a run whose true error count was under the limit.
    * That is the conservative direction for an abort threshold; exact
    * counting would need an action-side metric (df.observe) which cannot
    * see parse failures because failed records are filtered before the
    * typed plan exists. */
  final case class ParseErrors(acc: LongAccumulator, maxParseErrors: Int) {
    def check(): Unit =
      if (maxParseErrors >= 0 && acc.value > maxParseErrors)
        throw new IllegalStateException(
          s"parse-error budget exceeded: ${acc.value} > $maxParseErrors")
  }

  /** Lines → parsed records. Malformed records count against the budget
    * and are dropped (PERMISSIVE), exactly the reference's reader-loop
    * behavior; blank lines are skipped like encoding/csv does. */
  def parseRecords(lines: Dataset[String], cfg: CopyConfig)
      : (DataFrame, ParseErrors) = {
    val spark = lines.sparkSession
    val errs = ParseErrors(
      spark.sparkContext.longAccumulator("parseErrors"), cfg.maxParseErrors)
    val acc = errs.acc
    import spark.implicits._
    // cells: array<struct<value:string, quoted:boolean>>
    val parsed = lines.flatMap { (line: String) =>
      if (line.isEmpty) None
      else try Some(QuoteCsv.parseRecord(line): Seq[RawCell])
      catch { case _: CsvParseException => acc.add(1L); None }
    }.toDF("cells")
    (parsed, errs)
  }

  /** Exact-compat typed projection: one tagged-union struct column per
    * target column (SURVEY.md §1.4), inference fully in codegen. */
  def inferTagged(parsed: DataFrame, cols: Seq[String], cfg: CopyConfig): DataFrame = {
    cols.foreach(Identifiers.requireIdentifier(_, "column"))
    val out = cols.zipWithIndex.map { case (name, i) =>
      // get() tolerates ragged records (out-of-bounds → NULL cell → 'null'
      // tag); ANSI getItem would throw instead
      val cell = get(col("cells"), lit(i))
      TypeInference.Exprs
        .cell(cell.getField("value"), cell.getField("quoted"), cfg)
        .as(name)
    }
    parsed.select(out: _*)
  }

  /** Schema'd mode: the caller declares the column types (the role
    * Cassandra's server-side schema plays for the reference, SURVEY.md
    * §1.2) and cells resolve to real typed columns — the mode every
    * downstream relational op wants. */
  def inferSchemad(parsed: DataFrame, schema: StructType, cfg: CopyConfig): DataFrame = {
    val pat = GoTimeFormat.toJavaPattern(cfg.timeFormat)
    val out = schema.fields.zipWithIndex.map { case (f, i) =>
      Identifiers.requireIdentifier(f.name, "column")
      val cell = get(col("cells"), lit(i)) // ragged-tolerant (see inferTagged)
      val v = cell.getField("value")
      val quoted = cell.getField("quoted")
      val base: Column = f.dataType match {
        case StringType => v
        case BooleanType =>
          when(!quoted && v === cfg.trueValue, lit(true))
            .when(!quoted && v === cfg.falseValue, lit(false))
        case TimestampType => when(!quoted, try_to_timestamp(v, lit(pat)))
        // try_cast, not cast: a mismatched cell (int64 overflow, `abc` in
        // a double column) decodes to NULL in every session mode instead
        // of failing the job under ANSI. `\z`, not `$`: `$` also matches
        // before a final line terminator, which try_cast then trims, so
        // `7\r` would decode where rule 6 rejects it
        case LongType =>
          when(!quoted && v.rlike("^[+-]?[0-9]+\\z"), v.try_cast(LongType))
        case DoubleType => when(!quoted, v.try_cast(DoubleType)) // engine ext (no float in ref)
        case dt => v.try_cast(dt)
      }
      when(!quoted && v === cfg.nullValue, lit(null).cast(f.dataType))
        .otherwise(base).as(f.name)
    }
    parsed.select(out.toSeq: _*)
  }

  /** End-to-end: CSV path(s) → typed DataFrame. Line-mode by default
    * (distributed, splittable); `multiline` falls back to whole-file
    * record splitting for quoted embedded newlines (same tradeoff as
    * Spark's own csv multiLine option).
    *
    * Header semantics are PER FILE here (each file written with
    * `header=true` — e.g. by our own CSV sink — carries its own header;
    * dropping only the globally-first record would leak the others into
    * the data). Header'd reads therefore go whole-file per partition. */
  def read(spark: SparkSession, path: String, cols: Seq[String], cfg: CopyConfig,
      schema: Option[StructType] = None, multiline: Boolean = false)
      : (DataFrame, ParseErrors) = {
    import spark.implicits._
    val lines: Dataset[String] =
      if (!multiline && !cfg.header) spark.read.textFile(path)
      else spark.sparkContext.wholeTextFiles(path)
        .flatMap { case (_, text) =>
          val recs = QuoteCsv.splitRecords(text)
          if (cfg.header) recs.drop(1) else recs
        }.toDS()
    val (parsed, errs) = parseRecords(lines, cfg)
    val typed = schema match {
      case Some(st) => inferSchemad(parsed, st, cfg)
      case None => inferTagged(parsed, cols, cfg)
    }
    (typed, errs)
  }

  /** The parquet sink: one write job with no exchange, one file per
    * non-empty task. The row count rides the write itself as an observed
    * metric, so no second job reads the output back; the parse-error
    * budget is enforced after the action. Returns the rows written. */
  def sink(df: DataFrame, outPath: String, errs: ParseErrors): Long = {
    val written = new Observation("graft_write_rows")
    df.observe(written, count(lit(1)).as("rows")).write.mode("overwrite").parquet(outPath)
    errs.check()
    written.get("rows").asInstanceOf[Long]
  }
}
