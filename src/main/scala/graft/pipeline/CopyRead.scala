package graft.pipeline

import graft.{CopyConfig, Identifiers}
import graft.csv.{QuoteCsv, RawCell}
import graft.infer.GoTimeFormat
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `read` verb (`/root/reference/read.go:45` runReadCmd) rebuilt as a
  * Spark pipeline: source scan → offset range predicate → stringify
  * projection with typed quoting → CSV lines.
  *
  * Spark-first mapping (SURVEY.md §2A):
  *  - token-range scan + paging (#16, #18) → partitioned parquet scan
  *    (partition-per-split is exactly Cassandra's partition-per-token-range
  *    under the connector); vectorized reader subsumes paging.
  *  - `--offset` bound (#21)               → pushed-down range filter.
  *  - resume-by-token + retry (#17, #19)   → Spark task retry for batch;
  *    checkpointLocation in graft.streaming for the streaming face.
  *  - typed quoting rule (#20,
  *    `read.go:183-185`: quote iff string)  → per-column codegen'd
  *    render expressions; no row-at-a-time JVM code at all.
  */
object CopyRead {

  /** RFC-4180-escape and quote a string column (always quoted — the rule
    * for string-typed cells). */
  private def quoted(c: Column): Column =
    concat(lit("\""), regexp_replace(c, "\"", "\"\""), lit("\""))

  /** Is this the tagged-union cell struct from CopyWrite.inferTagged? */
  def isTaggedCell(dt: DataType): Boolean = dt match {
    case st: StructType => st.fieldNames.sameElements(Array("tag", "s", "b", "t", "l", "d"))
    case _ => false
  }

  /** Render one column to its CSV cell per the reference's typed quoting:
    * strings quoted, everything else bare; NULL renders as cfg.nullValue,
    * bools as the configured literals, timestamps in the configured
    * layout (deviation from the reference's Go-default `%v` dump,
    * documented: this makes read→write round-trips re-infer correctly).
    * Tagged-union cells (exact-compat mode) render by their tag — the
    * faithful mirror of the reference's `quote iff *string`
    * (`read.go:183-185`). A configured literal (the layout's literal
    * characters, the bool and NULL values) that holds a comma, quote, CR
    * or LF is quoted, as [[QuoteCsv.renderCell]] quotes content-forced
    * cells, so every line keeps its column count; the choice is made
    * here, at plan time, from `cfg` alone. */
  def renderCell(c: Column, dt: DataType, cfg: CopyConfig): Column = {
    val pat = GoTimeFormat.toJavaPattern(cfg.timeFormat)
    val ts: Column => Column =
      if (QuoteCsv.needsQuoting(cfg.timeFormat)) t => quoted(date_format(t, pat))
      else date_format(_, pat)
    val bool = (b: Column) => when(b, literal(cfg.trueValue)).otherwise(literal(cfg.falseValue))
    val rendered: Column = dt match {
      case StringType => quoted(c)
      case BooleanType => bool(c)
      case TimestampType => ts(c)
      // parquet ms/us timestamps with isAdjustedToUTC=false surface as NTZ;
      // render them as session-TZ (UTC-pinned) instants so the zoned layout
      // round-trips
      case TimestampNTZType => ts(c.cast(TimestampType))
      case st if isTaggedCell(st) =>
        when(c.getField("tag") === "string", quoted(c.getField("s")))
          .when(c.getField("tag") === "bool", bool(c.getField("b")))
          .when(c.getField("tag") === "ts", ts(c.getField("t")))
          .when(c.getField("tag") === "long", c.getField("l").cast(StringType))
          .when(c.getField("tag") === "double", c.getField("d").cast(StringType))
          .otherwise(literal(cfg.nullValue))
      case _ => c.cast(StringType)
    }
    when(c.isNull, literal(cfg.nullValue)).otherwise(rendered)
  }

  /** A configured literal as a CSV cell: bare unless its content forces
    * quoting. */
  private def literal(s: String): Column = lit(QuoteCsv.renderCell(RawCell(s, quoted = false)))

  /** Typed DataFrame → Dataset of CSV lines (whole projection codegen'd).
    * Each cell is coalesced to the NULL literal before joining — a NULL
    * rendered cell would otherwise be silently dropped by concat_ws,
    * shifting every later column left. */
  def toCsvLines(df: DataFrame, cfg: CopyConfig): Dataset[String] = {
    val cells = df.schema.fields.map(f =>
      coalesce(renderCell(col(f.name), f.dataType, cfg), literal(cfg.nullValue)))
    val spark = df.sparkSession
    import spark.implicits._
    df.select(concat_ws(",", cells.toSeq: _*).as("line")).as[String]
  }

  /** Header line: quoted column names, like `read.go:158-161`. */
  def headerLine(df: DataFrame): String =
    df.schema.fieldNames.map(n => "\"" + n.replace("\"", "\"\"") + "\"").mkString(",")

  /** Full verb: table → (offset-filtered, column-projected) CSV files.
    * `keyCol` plays token(): an exclusive lower bound pushed to the scan.
    * With `cfg.header`, every non-empty output part file starts with
    * [[headerLine]] (the reference emits one header per stream; a
    * distributed sink has one stream per partition), which is the
    * per-file header [[CopyWrite.read]] drops. */
  def run(spark: SparkSession, source: DataFrame, cols: Seq[String],
      keyCol: String, cfg: CopyConfig, outPath: String): Unit = {
    cols.foreach(Identifiers.requireIdentifier(_, "column"))
    // offset bound on a tagged cell compares its long slot (token() analog).
    // The sentinel default (Long.MinValue, like the reference's MinInt64)
    // must be a TRUE no-op: applying `key > MinValue` would still drop
    // NULL keys and non-long tagged cells.
    val filtered =
      if (cfg.offset == Long.MinValue) source
      else {
        val keyDt = source.schema(keyCol).dataType
        val key = if (isTaggedCell(keyDt)) col(keyCol).getField("l") else col(keyCol)
        source.where(key > lit(cfg.offset))
      }
    val projected = filtered.select(cols.map(col): _*)
    val lines = toCsvLines(projected, cfg)
    val withHeader =
      if (!cfg.header) lines
      else {
        val header = headerLine(projected)
        import spark.implicits._
        lines.mapPartitions(it => if (it.hasNext) Iterator(header) ++ it else it)
      }
    withHeader.write.mode("overwrite").text(outPath)
  }
}
