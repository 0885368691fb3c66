package graft.infer

import java.text.ParseException
import java.time.DateTimeException

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The 7-rule cascade of [[TypeInference]] as one native Catalyst
  * expression over a (value, quoted) pair, returning the tagged struct
  * [[InferCell.Tagged]].
  *
  * Its generated code is one call into [[InferRules.walk]], so a cell
  * costs the stage a few hundred bytecode bytes: a stage with many
  * columns stays under HotSpot's 8,000-byte huge-method limit and is
  * JIT-compiled. A NULL value (a ragged record) tags `null`; a NULL
  * `quoted` counts as unquoted.
  *
  * Rule 5 parses with the formatter Catalyst's `try_to_timestamp` builds
  * for the session zone, so a timestamp decodes exactly as it does there,
  * but only once, and only for a cell that passes [[InferRules.fits]]: a
  * cell that cannot be a timestamp never builds a parse exception. */
final case class InferCell(
    value: Expression,
    quoted: Expression,
    falseValue: String,
    trueValue: String,
    nullValue: String,
    javaPattern: String,
    withDoubles: Boolean,
    timeZoneId: Option[String] = None)
    extends BinaryExpression with TimeZoneAwareExpression {

  override def left: Expression = value
  override def right: Expression = quoted
  override def dataType: DataType = InferCell.Tagged
  override def nullable: Boolean = false
  override def prettyName: String = "infer_cell"

  override def checkInputDataTypes(): TypeCheckResult =
    if (value.dataType.isInstanceOf[StringType] && quoted.dataType == BooleanType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, boolean) operands, " +
        s"got ${value.dataType.sql} and ${quoted.dataType.sql}")

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val rules = {
    val fmt = TimestampFormatter(javaPattern, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT,
      isParsing = true, forTimestampNTZ = false)
    new InferRules(falseValue, trueValue, nullValue, fmt.parse, InferCell.shape(javaPattern),
      withDoubles)
  }

  override def eval(input: InternalRow): Any =
    rules.walk(value.eval(input).asInstanceOf[UTF8String], quoted.eval(input) == true)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("inferRules", rules, classOf[InferRules].getName)
    val v = value.genCode(ctx)
    val q = quoted.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |${q.code}
      |InternalRow ${ev.value} =
      |  $r.walk(${v.isNull} ? null : ${v.value}, !${q.isNull} && ${q.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InferCell =
    copy(value = newLeft, quoted = newRight)
}

object InferCell {

  /** The tagged union (SURVEY.md §1.4): `tag` is one of `null`,
    * `string`, `bool`, `ts`, `long`, `double`, and only the slot it
    * names is set. */
  val Tagged: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("s", StringType),
    StructField("b", BooleanType),
    StructField("t", TimestampType),
    StructField("l", LongType),
    StructField("d", DoubleType)))

  /** The shape check of rule 5: the literal characters of a Java
    * datetime pattern that every string it parses holds, in order. Kept:
    * ASCII non-letters outside optional `[...]` sections. Dropped, so the
    * check stays a necessary condition: letters (parsing is
    * case-insensitive, and non-ASCII letters case-fold onto ASCII ones),
    * non-ASCII characters, and the apostrophe (Spark's pattern reader
    * drops an escaped `''`). */
  def shape(javaPattern: String): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var inQuote = false
    var optional = 0
    javaPattern.foreach { c =>
      if (c == '\'') inQuote = !inQuote
      else if (!inQuote && c == '[') optional += 1
      else if (!inQuote && c == ']') optional = math.max(0, optional - 1)
      else if (optional == 0 && c < 128 && !c.isLetter)
        out += c.toByte
    }
    out.result()
  }
}

/** The rule walk [[InferCell]] runs per cell: rules 1–7 (and 5.5 with
  * `withDoubles`) applied once, in order, over the cell's UTF-8 bytes.
  * `parseTs` is rule 5's parser (epoch micros; it throws on a string it
  * rejects). Serializable, so generated code holds it as a reference
  * object. */
final class InferRules(
    falseValue: String,
    trueValue: String,
    nullValue: String,
    parseTs: String => Long,
    shape: Array[Byte],
    withDoubles: Boolean) extends Serializable {

  import InferRules._

  private val falseU = UTF8String.fromString(falseValue)
  private val trueU = UTF8String.fromString(trueValue)
  private val nullU = UTF8String.fromString(nullValue)

  def walk(v: UTF8String, quoted: Boolean): InternalRow =
    if (v == null) NullRow
    else if (quoted) row(TagString, s = v)                     // rule 1
    else if (v.binaryEquals(falseU)) FalseRow                   // rule 2
    else if (v.binaryEquals(trueU)) TrueRow                     // rule 3
    else if (v.binaryEquals(nullU)) NullRow                     // rule 4
    else {
      if (fits(v)) {                                            // rule 5
        var parsed = true
        val micros = try parseTs(v.toString) catch {
          case _: DateTimeException | _: ParseException => parsed = false; 0L
        }
        if (parsed) return row(TagTs, t = micros)
      }
      // rule 6, strconv.ParseInt(s, 10, 64): optional sign, ASCII
      // digits; an int64 overflow falls to rule 7, never to 5.5
      val n = v.numBytes
      val neg = n > 0 && v.getByte(0) == '-'
      var i = if (n > 0 && (neg || v.getByte(0) == '+')) 1 else 0
      val digits = i < n && allDigits(v, i, n)
      if (digits) {
        // Long.parseLong's accumulation: negative, checked per digit
        val limit = if (neg) Long.MinValue else -Long.MaxValue
        val multmin = limit / 10
        var acc = 0L
        while (i < n) {
          val d = v.getByte(i) - '0'
          if (acc < multmin || acc * 10 < limit + d) return row(TagString, s = v)
          acc = acc * 10 - d
          i += 1
        }
        row(TagLong, l = if (neg) acc else -acc)
      } else if (withDoubles && decimal(v, n))                  // rule 5.5
        row(TagDouble, d = java.lang.Double.parseDouble(v.toString))
      else row(TagString, s = v)                                // rule 7
    }

  /** A necessary condition of a rule-5 parse: `v` holds every byte of
    * [[InferCell.shape]] in order. */
  def fits(v: UTF8String): Boolean = {
    val n = v.numBytes
    var i = 0
    var j = 0
    while (j < shape.length) {
      val c = shape(j)
      while (i < n && v.getByte(i) != c) i += 1
      if (i == n) return false
      i += 1
      j += 1
    }
    true
  }
}

object InferRules {
  private val TagNull = UTF8String.fromString("null")
  private val TagString = UTF8String.fromString("string")
  private val TagBool = UTF8String.fromString("bool")
  private val TagTs = UTF8String.fromString("ts")
  private val TagLong = UTF8String.fromString("long")
  private val TagDouble = UTF8String.fromString("double")

  private def row(tag: UTF8String, s: UTF8String = null, b: Any = null, t: Any = null,
      l: Any = null, d: Any = null): InternalRow =
    new GenericInternalRow(Array[Any](tag, s, b, t, l, d))

  // read-only: every consumer copies a struct value out before the next row
  private val NullRow = row(TagNull)
  private val FalseRow = row(TagBool, b = false)
  private val TrueRow = row(TagBool, b = true)

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def allDigits(v: UTF8String, from: Int, n: Int): Boolean = {
    var i = from
    while (i < n && isDigit(v.getByte(i))) i += 1
    i == n
  }

  /** `[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?`, the decimal and exponent
    * shapes of rule 5.5, over the whole of `v`. */
  private def decimal(v: UTF8String, n: Int): Boolean = {
    var i = 0
    def digits(): Int = { val s = i; while (i < n && isDigit(v.getByte(i))) i += 1; i - s }
    def sign(): Unit = if (i < n && (v.getByte(i) == '+' || v.getByte(i) == '-')) i += 1
    sign()
    val whole = digits()
    val frac = if (i < n && v.getByte(i) == '.') { i += 1; digits() } else 0
    if (whole == 0 && frac == 0) false
    else if (i < n && (v.getByte(i) == 'e' || v.getByte(i) == 'E')) {
      i += 1; sign(); digits() > 0 && i == n
    } else i == n
  }
}
