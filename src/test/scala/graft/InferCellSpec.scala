package graft

import java.time.ZoneOffset

import scala.util.Random

import graft.csv.RawCell
import graft.infer.{GoTimeFormat, InferCell, InferRules, TypeInference}
import graft.pipeline.CopyWrite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native [[InferCell]] kernel: its path runs in the compat write and
  * keeps the stage JIT-sized, and per cell it agrees with the pure cascade
  * ([[TypeInference.inferCell]]) and with Catalyst's `try_to_timestamp`
  * and `try_cast` on the same strings. */
class InferCellSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  /** One layout per Go token of [[GoTimeFormat]] but the weekdays (see
    * the weekday test), and an all-digit one where rules 5 and 6 collide. */
  private val layouts = Seq(
    GoTimeFormat.defaultGoLayout,
    "2006-01-02T15:04:05Z07:00",
    "2006-01-02T15:04:05Z0700",
    "2006-01-02 15:04:05 -07:00",
    "2006-01-02 15:04 -07",
    "01/02/06 03:04:05 PM",
    "1/2/2006 3:4:5 pm",
    "Jan _2 2006 15:04:05.000",
    "02-January-2006 15:04:05.000000 MST",
    "Jan 02 15:04:05.000000000 2006",
    "2006-01-02",
    "20060102150405")

  private val fixed = Seq(
    "", "true", "false", "NULL", "null", "True", "FALSE", "yes", "no", "-", "+",
    "0", "-0", "+0", "007", "-007", "42", "+42", "-7", "++1", "1-", "1+1", " 123", "123 ",
    "123\n", "1_000", "٣", "0x10", "9223372036854775807", "9223372036854775808",
    "-9223372036854775808", "-9223372036854775809", "99999999999999999999",
    "00000000000000000000000000042", "-00000000000000000000009223372036854775808",
    "3.14", "-3.14", "+.5", ".5", "5.", "1e6", "1E-3", "-.5e+10", "e5", ".", "1e", "1.2.3",
    "1e5.5", "NaN", "Infinity", "1d", "1f", "1e400", "hello world", "N", "O", "R", "A",
    "2024-01-02 03:04:05+0000", "2024-01-02 03:04:05+0100", "2024-01-02 03:04:05",
    "2024-01-02T03:04:05Z", "2024-01-02t03:04:05z", "2024-02-30 00:00:00+0000",
    "2024-01-02", "20240102030405", "1994-05-26", "18.5", "27814.32", "0.06")

  /** A seeded corpus for `pat`: [[fixed]], strings Spark formats in the
    * layout, those strings damaged, and random strings over the layout's
    * alphabet. */
  private def corpus(pat: String, seed: Int): Seq[String] = {
    val rnd = new Random(seed)
    val fmt = TimestampFormatter(pat, ZoneOffset.UTC, LegacyDateFormats.SIMPLE_DATE_FORMAT,
      isParsing = false)
    val good = Seq.fill(40)(fmt.format(
      (rnd.nextLong() % 4000000000L).abs * 1000000L + rnd.nextInt(1000000)))
    def damage(s: String): String = if (s.isEmpty) s else {
      val i = rnd.nextInt(s.length)
      rnd.nextInt(5) match {
        case 0 => s.patch(i, "", 1)
        case 1 => s.patch(i, "x", 1)
        case 2 => s.take(i)
        case 3 => s.toUpperCase + " "
        case _ => s.toLowerCase
      }
    }
    val alphabet = "0123456789-+:/. TZaAPMpmJnu,"
    val random = Seq.fill(400)(
      Array.fill(rnd.nextInt(26))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    fixed ++ good ++ good.flatMap(s => Seq(damage(s), damage(s))) ++ random
  }

  private def micros(t: Any): Any = t match {
    case null => null
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case ts: java.sql.Timestamp => micros(ts.toInstant)
  }

  /** (tag, s, b, t as micros, l, d) of a collected tagged struct. */
  private def norm(r: Row): Seq[Any] =
    Seq(r.get(0), r.get(1), r.get(2), micros(r.get(3)), r.get(4), r.get(5))

  private def norm(r: InternalRow): Seq[Any] =
    Seq(r.getUTF8String(0).toString, Option(r.getUTF8String(1)).map(_.toString).orNull,
      r.get(2, BooleanType), r.get(3, TimestampType), r.get(4, LongType), r.get(5, DoubleType))

  private def interpreted(v: String, quoted: Boolean, cfg: CopyConfig): Seq[Any] =
    norm(InferCell(Literal.create(v, StringType), Literal(quoted), cfg.falseValue,
      cfg.trueValue, cfg.nullValue, GoTimeFormat.toJavaPattern(cfg.timeFormat),
      cfg.withDoubles, Some("UTC")).eval().asInstanceOf[InternalRow])

  private val longShape = "[+-]?[0-9]+".r
  private val doubleShape = "[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?".r

  /** Checks every (value, quoted) cell of `values` under `cfg`: the
    * kernel's generated and interpreted results agree with each other,
    * with the rules over Catalyst's `try_to_timestamp`/`try_cast`, and
    * with the pure cascade wherever its `java.time` rule 5 agrees with
    * Catalyst's. */
  private def pin(cfg: CopyConfig, values: Seq[String]): Unit = {
    val s = spark
    import s.implicits._
    val pat = GoTimeFormat.toJavaPattern(cfg.timeFormat)
    val cells = (values.map(v => (v, false)) ++ values.take(40).map(v => (v, true)) :+
      ((null: String, false))).distinct
    val rows = cells.toDF("v", "q").select(
      col("v"), col("q"),
      TypeInference.Exprs.cell(col("v"), col("q"), cfg).as("c"),
      try_to_timestamp(col("v"), lit(pat)).as("ts"),
      col("v").try_cast(LongType).as("l"),
      col("v").try_cast(DoubleType).as("d")).collect()
    assert(rows.length == cells.length)
    rows.foreach { r =>
      val v = r.getString(0)
      val q = r.getBoolean(1)
      val got = norm(r.getStruct(2))
      val ts = micros(r.get(3))
      val expected: Seq[Any] =
        if (v == null) Seq("null", null, null, null, null, null)
        else if (q) Seq("string", v, null, null, null, null)
        else if (v == cfg.falseValue) Seq("bool", null, false, null, null, null)
        else if (v == cfg.trueValue) Seq("bool", null, true, null, null, null)
        else if (v == cfg.nullValue) Seq("null", null, null, null, null, null)
        else if (ts != null) Seq("ts", null, null, ts, null, null)
        else if (longShape.matches(v))
          if (r.isNullAt(4)) Seq("string", v, null, null, null, null)
          else Seq("long", null, null, null, r.getLong(4), null)
        else if (cfg.withDoubles && doubleShape.matches(v))
          Seq("double", null, null, null, null, r.getDouble(5))
        else Seq("string", v, null, null, null, null)
      assert(got == expected, s"cell ${(v, q)} under ${cfg.timeFormat}")
      if (v != null) {
        assert(interpreted(v, q, cfg) == got, s"interpreted ${(v, q)}")
        val pure = TypeInference.toRow(TypeInference.inferCell(RawCell(v, q), cfg))
        val pureRow = Seq(pure._1, pure._2, pure._3, micros(pure._4), pure._5, pure._6)
        if ((pure._1 == "ts") == (got.head == "ts"))
          assert(pureRow == got, s"pure ${(v, q)} under ${cfg.timeFormat}")
      }
    }
  }

  test("dataType: the tagged struct, non-nullable tag and outer struct") {
    val expected = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("t", TimestampType, nullable = true),
      StructField("l", LongType, nullable = true),
      StructField("d", DoubleType, nullable = true)))
    assert(InferCell.Tagged == expected)
    val s = spark
    import s.implicits._
    val (parsed, _) = CopyWrite.parseRecords(Seq("1,\"a\"").toDS(), CopyConfig())
    val df = CopyWrite.inferTagged(parsed, Seq("x", "y"), CopyConfig())
    df.schema.fields.foreach { f =>
      assert(f.dataType == expected && !f.nullable, f.name)
    }
  }

  test("every layout: kernel = Catalyst rules = pure cascade, doubles off and on") {
    layouts.zipWithIndex.foreach { case (layout, i) =>
      val cfg = CopyConfig(timeFormat = layout, withDoubles = i % 2 == 1)
      pin(cfg, corpus(GoTimeFormat.toJavaPattern(layout), 7 + i))
    }
    pin(CopyConfig(withDoubles = true), corpus(GoTimeFormat.defaultJavaPattern, 99))
  }

  test("custom bool-style and null literals, ragged rows") {
    val cfg = CopyConfig(boolStyle = "yes,no", nullValue = "-")
    pin(cfg, fixed)
    pin(cfg.copy(withDoubles = true), fixed)
    // a literal equal to a long or timestamp string wins by rule order
    pin(CopyConfig(boolStyle = "1,0", nullValue = "2024-01-02 03:04:05+0000"), fixed)
    val s = spark
    import s.implicits._
    val (parsed, _) = CopyWrite.parseRecords(Seq("7", "\"q\",true,NULL").toDS(), cfg)
    val tags = CopyWrite.inferTagged(parsed, Seq("a", "b", "c"), cfg)
      .select(col("a.tag"), col("b.tag"), col("c.tag")).collect().map(_.toSeq).toSet
    assert(tags == Set(Seq("long", "null", "null"), Seq("string", "string", "string")))
  }

  test("declared long: inferSchemad decodes a cell exactly when rule 6 tags it long") {
    val s = spark
    import s.implicits._
    val cells = Seq("7\r", "123\u000b", "+5", "-0", "007")
    val (parsed, _) = CopyWrite.parseRecords(
      cells.zipWithIndex.map { case (c, i) => s"$i,$c" }.toDS(), CopyConfig())
    val schema = StructType(Seq(StructField("i", LongType), StructField("v", LongType)))
    val decoded = CopyWrite.inferSchemad(parsed, schema, CopyConfig()).collect()
      .map(r => cells(r.getLong(0).toInt) -> Option(r.get(1))).toMap
    assert(decoded == Map("7\r" -> None, "123\u000b" -> None,
      "+5" -> Some(5L), "-0" -> Some(0L), "007" -> Some(7L)))
    val tags = CopyWrite.inferTagged(parsed, Seq("i", "v"), CopyConfig())
      .select(col("i.l"), col("v.tag")).collect()
      .map(r => cells(r.getLong(0).toInt) -> r.getString(1)).toMap
    decoded.foreach { case (c, v) => assert(v.isDefined == (tags(c) == "long"), c) }
  }

  /** Rule 5's parser for `pat`, counting its calls. */
  private final class Counting(pat: String) extends (String => Long) {
    private val fmt = TimestampFormatter(pat, ZoneOffset.UTC,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true, forTimestampNTZ = false)
    var parses = 0
    def apply(s: String): Long = { parses += 1; fmt.parse(s) }
  }

  test("rule 5 parses only what passes the shape check, and the check drops no timestamp") {
    layouts.zipWithIndex.foreach { case (layout, i) =>
      val pat = GoTimeFormat.toJavaPattern(layout)
      val fmt = new Counting(pat)
      val rules = new InferRules("false", "true", "NULL", fmt, InferCell.shape(pat), false)
      val values = corpus(pat, 31 + i)
      val accepted = spark.createDataFrame(
        spark.sparkContext.parallelize(values.map(Row(_)), 2),
        StructType(Seq(StructField("v", StringType))))
        .select(col("v"), try_to_timestamp(col("v"), lit(pat)).as("ts"))
        .where(col("ts").isNotNull).collect().map(_.getString(0))
      assert(accepted.nonEmpty, layout)
      accepted.foreach(v => assert(rules.fits(UTF8String.fromString(v)), s"$layout: $v"))
      val walked = values.filterNot(Set("false", "true", "NULL"))
      walked.foreach(v => rules.walk(UTF8String.fromString(v), quoted = false))
      assert(fmt.parses == walked.count(v => rules.fits(UTF8String.fromString(v))), layout)
    }
    // lineitem-shaped cells never reach the parser under the default layout
    val pat = GoTimeFormat.defaultJavaPattern
    val fmt = new Counting(pat)
    val rules = new InferRules("false", "true", "NULL", fmt, InferCell.shape(pat), true)
    Seq("155190", "17", "21168.23", "0.04", "N", "O", "1996-03-13", "-7", "hello world",
      "9223372036854775808").foreach(v => rules.walk(UTF8String.fromString(v), quoted = false))
    assert(fmt.parses == 0)
    assert(InferCell.shape(pat).map(_.toChar).mkString == "-- ::")
    assert(InferCell.shape("yyyy-MM-dd'T'HH:mm[:ss]'Z'''").map(_.toChar).mkString == "--:")
  }

  test("weekday layouts: the kernel refuses them as try_to_timestamp does") {
    val s = spark
    import s.implicits._
    Seq("Monday, 02-Jan-2006", "Mon Jan 02 2006").foreach { layout =>
      val cfg = CopyConfig(timeFormat = layout)
      val pat = GoTimeFormat.toJavaPattern(layout)
      val df = Seq("x").toDF("v")
      val viaCatalyst = intercept[Exception](
        df.select(try_to_timestamp(col("v"), lit(pat))).collect())
      val viaKernel = intercept[Exception](
        df.select(TypeInference.Exprs.cell(col("v"), lit(false), cfg)).collect())
      assert(viaKernel.getClass == viaCatalyst.getClass, layout)
    }
  }

  private def plan(df: DataFrame): SparkPlan = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan
  }

  test("inferTagged over 6 and 16 columns: InferCell, no CaseWhen, JIT-sized stages") {
    val s = spark
    import s.implicits._
    Seq(6, 16).foreach { width =>
      val lines = (0 until 200).map { r =>
        (0 until width).map(c => (r * 31 + c) % 5 match {
          case 0 => (r * 7 + c).toString
          case 1 => s"${r % 90}.${c}5"
          case 2 => "\"txt\""
          case 3 => "2024-01-02 03:04:05+0000"
          case _ => "N"
        }).mkString(",")
      }
      val (parsed, _) = CopyWrite.parseRecords(lines.toDS(), CopyConfig())
      val p = plan(CopyWrite.inferTagged(parsed, (0 until width).map(c => s"c$c"), CopyConfig()))
      val exprs = collect(p) { case n => n.expressions }.flatMap(_.flatMap(e => e.collect { case x => x }))
      assert(exprs.count(_.isInstanceOf[InferCell]) == width, s"$width columns")
      assert(!exprs.exists(_.isInstanceOf[CaseWhen]), s"$width columns")
      val stages = collect(p) { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty)
      val largest = stages.map { w =>
        val (_, code) = w.doCodeGen()
        CodeGenerator.compile(code)._2.maxMethodCodeSize
      }.max
      info(s"$width columns: largest generated method $largest bytes")
      assert(largest < 8000, s"$width columns: largest generated method $largest bytes")
    }
  }
}
