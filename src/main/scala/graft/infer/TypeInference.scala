package graft.infer

import java.time.format.DateTimeFormatter
import java.time.{Instant, OffsetDateTime}

import graft.CopyConfig
import graft.csv.RawCell
import org.apache.spark.sql.{Column, GraftBridge}

/** The reference's per-cell type-inference cascade
  * (`/root/reference/write.go:207-223`; SURVEY.md §1.3) — 7 ordered rules:
  *
  *   1. quoted in CSV            → string (verbatim)
  *   2. == falseValue            → boolean false
  *   3. == trueValue             → boolean true
  *   4. == nullValue             → SQL NULL
  *   5. parses with time layout  → timestamp
  *   6. ParseInt(s, 10, 64) ok   → long
  *   7. fallback                 → string
  *
  * Matching for rules 2-4 is exact and case-sensitive, like the code (the
  * README's "case-insensitive" claim is aspirational — SURVEY.md §1.3).
  * There is deliberately no float rule in compat mode (`README.md:11`);
  * `withDoubles = true` adds rule 5.5 (double) as the engine's documented
  * extension, since the harness data is double-heavy.
  *
  * Two implementations:
  *  - [[inferCell]]: pure JVM, the oracle the specs pin the engine to;
  *  - [[Exprs.cell]]: the native [[InferCell]] expression, one rule walk
  *    per cell inside whole-stage codegen on the cluster, no UDF. Rule 5
  *    there is Catalyst's `try_to_timestamp` parse for the session zone,
  *    where [[inferCell]] parses with `java.time` in UTC.
  */
object TypeInference {

  /** Tagged result of the cascade — Spark columns are type-homogeneous, so
    * exact compat carries cells as this tagged union (SURVEY.md §1.4). */
  sealed trait InferredValue
  case object NullValue extends InferredValue
  final case class StringValue(s: String) extends InferredValue
  final case class BoolValue(b: Boolean) extends InferredValue
  final case class TimestampValue(micros: Long) extends InferredValue
  final case class LongValue(l: Long) extends InferredValue
  final case class DoubleValue(d: Double) extends InferredValue

  private val longPattern = "^[+-]?\\d+$".r
  // strconv.ParseFloat accepts forms Java's Double.parseDouble mostly does;
  // restrict to the common decimal/exponent shapes for determinism.
  private val doublePattern = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$".r

  def formatter(goLayout: String): DateTimeFormatter =
    DateTimeFormatter.ofPattern(GoTimeFormat.toJavaPattern(goLayout))

  /** Rule 5 of the pure cascade: zoned layouts parse as OffsetDateTime;
    * zone-less layouts (which make OffsetDateTime.parse always throw) fall
    * back to LocalDateTime in UTC — mirroring Catalyst try_to_timestamp
    * under the UTC-pinned session zone. Returns epoch micros. */
  private def parseTimestampMicros(v: String, fmt: DateTimeFormatter): Option[Long] = {
    def micros(inst: Instant): Long =
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    (try Some(micros(OffsetDateTime.parse(v, fmt).toInstant))
    catch { case _: Exception => None }).orElse {
      try Some(micros(java.time.LocalDateTime.parse(v, fmt)
        .toInstant(java.time.ZoneOffset.UTC)))
      catch { case _: Exception => None }
    }
  }

  /** Pure cascade. `fmt` must come from [[formatter]] for the config's
    * layout; passing it in keeps this allocation-free per cell. */
  def inferCell(
      cell: RawCell,
      falseValue: String,
      trueValue: String,
      nullValue: String,
      fmt: DateTimeFormatter,
      withDoubles: Boolean = false): InferredValue = {
    val v = cell.value
    if (cell.quoted) StringValue(v)                     // rule 1
    else if (v == falseValue) BoolValue(false)          // rule 2
    else if (v == trueValue) BoolValue(true)            // rule 3
    else if (v == nullValue) NullValue                  // rule 4
    else {
      val ts = parseTimestampMicros(v, fmt).map(TimestampValue.apply) // rule 5
      ts.getOrElse {
        // rule 6 — strconv.ParseInt(s,10,64): optional sign, digits only,
        // must fit in Int64 (Spark's cast is laxer; guard with regex +
        // exactness check, SURVEY.md §7.4)
        if (longPattern.matches(v)) {
          try LongValue(java.lang.Long.parseLong(v))
          catch { case _: NumberFormatException => StringValue(v) } // overflow
        } else if (withDoubles && doublePattern.matches(v)) {
          try DoubleValue(java.lang.Double.parseDouble(v)) // rule 5.5 (ext)
          catch { case _: NumberFormatException => StringValue(v) }
        } else StringValue(v)                           // rule 7
      }
    }
  }

  def inferCell(cell: RawCell, cfg: CopyConfig): InferredValue =
    inferCell(cell, cfg.falseValue, cfg.trueValue, cfg.nullValue,
      formatter(cfg.timeFormat), cfg.withDoubles)

  /** External-row form of the tagged union (Instant for TimestampType). */
  def toRow(v: InferredValue)
      : (String, String, java.lang.Boolean, Instant, java.lang.Long, java.lang.Double) =
    v match {
      case NullValue         => ("null", null, null, null, null, null)
      case StringValue(s)    => ("string", s, null, null, null, null)
      case BoolValue(b)      => ("bool", null, b, null, null, null)
      case TimestampValue(t) =>
        ("ts", null, null, Instant.ofEpochSecond(t / 1000000L, (t % 1000000L) * 1000L), null, null)
      case LongValue(l)      => ("long", null, null, null, l, null)
      case DoubleValue(d)    => ("double", null, null, null, null, d) // withDoubles ext
    }

  /** Column face of the cascade over (value, quoted) columns: the
    * native [[InferCell]] expression, which produces the tagged struct
    * inside whole-stage codegen (no UDF). */
  object Exprs {
    def cell(value: Column, quoted: Column, cfg: CopyConfig): Column =
      GraftBridge.column(InferCell(
        GraftBridge.expression(value), GraftBridge.expression(quoted),
        cfg.falseValue, cfg.trueValue, cfg.nullValue,
        GoTimeFormat.toJavaPattern(cfg.timeFormat), cfg.withDoubles))
  }
}
