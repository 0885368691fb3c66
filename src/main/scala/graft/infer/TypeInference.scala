package graft.infer

import java.time.format.DateTimeFormatter
import java.time.{Instant, OffsetDateTime}

import graft.CopyConfig
import graft.csv.RawCell
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Two implementations with identical semantics:
  *  - [[inferCell]]: pure JVM, used by the local pipeline and tests;
  *  - [[Exprs]]: Catalyst `Column` expressions (when/otherwise chain), so
  *    the cascade runs inside whole-stage codegen on the cluster — no UDF.
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

  /** Catalyst-expression form of the cascade over (value, quoted) columns.
    * Produces the tagged struct; stays inside whole-stage codegen (no UDF).
    * `javaTsPattern` from [[GoTimeFormat.toJavaPattern]].
    */
  object Exprs {
    def longGuard(v: Column): Column = v.rlike("^[+-]?[0-9]+$")

    /** Same shapes as [[doublePattern]] (decimal/exponent forms only). */
    def doubleGuard(v: Column): Column =
      v.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")

    /** try_to_timestamp equivalent: NULL unless the layout parses. */
    def tryTs(v: Column, javaTsPattern: String): Column =
      try_to_timestamp(v, lit(javaTsPattern))

    /** Full tagged-union struct for one (value, quoted) pair.
      *
      * Shape matters for cost: the obvious encoding — compute the tag as
      * its own cascade and reference it from every slot
      * (`when(t === "ts", ...)`) — inlines the whole cascade (timestamp
      * try-parse included) once PER SLOT,
      * and codegen subexpression elimination does not rescue work hidden
      * inside conditional branches. Profiled at 6× the per-row cost on
      * the q50/q56 gate queries. Instead ONE when-cascade whose branches
      * are complete structs: each row walks the rules once and the
      * try-parse runs at most twice (condition + winning branch) instead
      * of ~6×. */
    def cell(value: Column, quoted: Column, cfg: CopyConfig): Column = {
      val pat = GoTimeFormat.toJavaPattern(cfg.timeFormat)
      val nullS = lit(null).cast(StringType)
      val nullB = lit(null).cast(BooleanType)
      val nullT = lit(null).cast(TimestampType)
      val nullL = lit(null).cast(LongType)
      val nullD = lit(null).cast(DoubleType)
      def mk(tag: Column, s: Column = nullS, b: Column = nullB, t: Column = nullT,
          l: Column = nullL, d: Column = nullD): Column =
        struct(tag.as("tag"), s.as("s"), b.as("b"), t.as("t"), l.as("l"), d.as("d"))
      val nullStruct = mk(lit("null"))
      val stringStruct = mk(lit("string"), s = value)
      val base = when(value.isNull, nullStruct)
        .when(quoted, stringStruct)
        .when(value === cfg.falseValue, mk(lit("bool"), b = lit(false)))
        .when(value === cfg.trueValue, mk(lit("bool"), b = lit(true)))
        .when(value === cfg.nullValue, nullStruct)
        .when(tryTs(value, pat).isNotNull, mk(lit("ts"), t = tryTs(value, pat)))
        // try_cast: an int64-overflow digit string passes the guard but
        // must fall through to rule 7; a plain cast throws on it under ANSI
        .when(longGuard(value) && value.try_cast(LongType).isNotNull,
          mk(lit("long"), l = value.try_cast(LongType)))
      val withExt =
        if (cfg.withDoubles)
          base.when(!longGuard(value) && doubleGuard(value) &&
              value.cast(DoubleType).isNotNull,
            mk(lit("double"), d = value.cast(DoubleType)))
        else base
      withExt.otherwise(stringStruct)
    }
  }
}
