package graft

import graft.csv.RawCell
import graft.infer.{GoTimeFormat, TypeInference}
import graft.infer.TypeInference._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Truth table for the 7-rule cascade (`write.go:207-223`, SURVEY.md §1.3)
  * — every rule, every rule-order collision — plus totality. */
class TypeInferenceSpec extends AnyFunSuite {

  private val cfg = CopyConfig()
  private val fmt = TypeInference.formatter(cfg.timeFormat)
  private def infer(v: String, quoted: Boolean = false): InferredValue =
    inferCell(RawCell(v, quoted), cfg)

  test("rule 1: quoted dominates everything") {
    assert(infer("123", quoted = true) == StringValue("123"))
    assert(infer("true", quoted = true) == StringValue("true"))
    assert(infer("NULL", quoted = true) == StringValue("NULL"))
    assert(infer("false", quoted = true) == StringValue("false"))
  }

  test("rules 2-3: bool literals, exact and case-sensitive (code over README)") {
    assert(infer("false") == BoolValue(false))
    assert(infer("true") == BoolValue(true))
    assert(infer("False") == StringValue("False")) // case-sensitive ==
    assert(infer("TRUE") == StringValue("TRUE"))
  }

  test("rule 4: null literal, exact match") {
    assert(infer("NULL") == NullValue)
    assert(infer("null") == StringValue("null"))
    assert(infer("Null") == StringValue("Null"))
  }

  test("rule 5: timestamp in the Go default layout") {
    val r = infer("2024-01-02 03:04:05+0000")
    assert(r == TimestampValue(1704164645000000L))
    // offset respected
    assert(infer("2024-01-02 03:04:05+0100") ==
      TimestampValue(1704164645000000L - 3600L * 1000000L))
  }

  test("rule 6: strict base-10 int64") {
    assert(infer("123") == LongValue(123L))
    assert(infer("-7") == LongValue(-7L))
    assert(infer("+42") == LongValue(42L))
    assert(infer("9223372036854775807") == LongValue(Long.MaxValue))
    // overflow falls through to string (ParseInt fails)
    assert(infer("9223372036854775808") == StringValue("9223372036854775808"))
    assert(infer(" 123") == StringValue(" 123")) // Spark cast would trim; we don't
    assert(infer("0x10") == StringValue("0x10"))
  }

  test("rule 7 + the no-float caveat (README.md:11)") {
    assert(infer("3.14") == StringValue("3.14"))
    assert(infer("1e6") == StringValue("1e6"))
    assert(infer("hello") == StringValue("hello"))
    assert(infer("") == StringValue(""))
  }

  test("extension mode: doubles parsed when enabled") {
    assert(inferCell(RawCell("3.14", quoted = false), cfg.falseValue, cfg.trueValue,
      cfg.nullValue, fmt, withDoubles = true) == DoubleValue(3.14))
    // ints still win (rule order: long before double)
    assert(inferCell(RawCell("42", quoted = false), cfg.falseValue, cfg.trueValue,
      cfg.nullValue, fmt, withDoubles = true) == LongValue(42L))
  }

  test("custom bool-style and null literals") {
    // reference order: "<true>,<false>" (write.go:117-118)
    val c2 = cfg.copy(boolStyle = "yes,no", nullValue = "-")
    assert(inferCell(RawCell("yes", quoted = false), c2) == BoolValue(true))
    assert(inferCell(RawCell("no", quoted = false), c2) == BoolValue(false))
    assert(inferCell(RawCell("-", quoted = false), c2) == NullValue)
    // old literals now plain strings
    assert(inferCell(RawCell("true", quoted = false), c2) == StringValue("true"))
  }

  test("property: inference is total (never throws) on arbitrary strings") {
    val rnd = new Random(13)
    for (_ <- 1 to 5000) {
      val s = Array.fill(rnd.nextInt(20))((32 + rnd.nextInt(95)).toChar).mkString
      infer(s, rnd.nextBoolean()) // must not throw
    }
  }

  test("Go layout translation") {
    assert(GoTimeFormat.toJavaPattern("2006-01-02 15:04:05-0700") == "yyyy-MM-dd HH:mm:ssZ")
    assert(GoTimeFormat.toJavaPattern("2006-01-02") == "yyyy-MM-dd")
    assert(GoTimeFormat.toJavaPattern("01/02/06 3:04 PM") == "MM/dd/yy h:mm a")
    assert(GoTimeFormat.toJavaPattern("2006-01-02T15:04:05Z07:00") == "yyyy-MM-dd'T'HH:mm:ssXXX")
    assert(GoTimeFormat.toJavaPattern("15:04:05.000") == "HH:mm:ss.SSS")
  }

  test("Go layout translation: additional token coverage") {
    assert(GoTimeFormat.toJavaPattern("Jan 2, 2006") == "MMM d, yyyy")
    assert(GoTimeFormat.toJavaPattern("Monday 02 January 2006 MST") ==
      "EEEE dd MMMM yyyy zzz")
    assert(GoTimeFormat.toJavaPattern("15:04:05.000000") == "HH:mm:ss.SSSSSS")
    // round-trip: the default layout's Java pattern parses what it formats
    val fmt = TypeInference.formatter(GoTimeFormat.defaultGoLayout)
    val s = java.time.OffsetDateTime.parse("2024-03-04T05:06:07Z")
      .format(fmt)
    assert(java.time.OffsetDateTime.parse(s, fmt).toInstant.getEpochSecond ==
      1709528767L)
  }

  test("config invariants: bool-style validation") {
    intercept[IllegalArgumentException](CopyConfig(boolStyle = "nocommas").falseValue)
    assert(CopyConfig(boolStyle = "1,0").trueValue == "1")
    assert(CopyConfig(boolStyle = "1,0").falseValue == "0")
  }

  test("tagged-union row conversion (external form)") {
    import java.time.Instant
    assert(toRow(NullValue) == (("null", null, null, null, null, null)))
    assert(toRow(StringValue("x")) == (("string", "x", null, null, null, null)))
    assert(toRow(BoolValue(true))._3 == java.lang.Boolean.TRUE)
    val TimestampValue(micros) =
      infer("2024-01-02 03:04:05+0000"): @unchecked
    assert(toRow(TimestampValue(micros))._4 ==
      Instant.parse("2024-01-02T03:04:05Z"))
    assert(toRow(LongValue(7L))._5 == 7L)
    assert(toRow(DoubleValue(3.14)) == (("double", null, null, null, null, 3.14)))
  }

  test("double extension: int64-overflow digit strings stay string (never double)") {
    val big = "99999999999999999999" // matches longPattern, overflows Int64
    assert(inferCell(RawCell(big, quoted = false), cfg.falseValue, cfg.trueValue,
      cfg.nullValue, fmt, withDoubles = true) == StringValue(big))
  }

  test("identifier guard parity with util.go") {
    assert(Identifiers.checkIdentifier("users.by_id"))
    assert(Identifiers.checkIdentifier("Tbl_1"))
    assert(!Identifiers.checkIdentifier(""))
    assert(!Identifiers.checkIdentifier("a-b"))
    assert(!Identifiers.checkIdentifier("a b"))
    assert(!Identifiers.checkIdentifier("t;drop"))
  }
}
