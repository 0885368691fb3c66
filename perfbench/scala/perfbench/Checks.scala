package perfbench

import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter

import graft.csv.{CsvParseException, QuoteCsv}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** Output checks, run outside the timed window. Each returns the list of
  * failures; empty means the output is exactly what the generator
  * expects. */
object Checks {
  /** Canonical (tag, value) of a typed value as Spark hands it back. */
  def typed(v: Any): (String, String) = v match {
    case null => ("null", "")
    case s: String => ("string", s)
    case b: java.lang.Boolean => ("bool", b.toString)
    case l: java.lang.Long => ("long", l.toString)
    case d: java.lang.Double => ("double", java.lang.Double.toString(d))
    case t: java.sql.Timestamp => ("ts", Digest.micros(t).toString)
    case other => ("other:" + other.getClass.getName, other.toString)
  }

  /** Row hash of a row of typed columns (Derby read-back, parquet source). */
  def sourceRowHash(r: Row): Long = {
    val n = r.length
    val tags = new Array[String](n)
    val values = new Array[String](n)
    var i = 0
    while (i < n) {
      val (t, v) = typed(r.get(i))
      tags(i) = t; values(i) = v
      i += 1
    }
    Digest.row(tags, values)
  }

  /** Row hash of a row of tagged-union cell structs (compat parquet). */
  def taggedRowHash(r: Row): Long = {
    val n = r.length
    val tags = new Array[String](n)
    val values = new Array[String](n)
    var i = 0
    while (i < n) {
      val c = r.getStruct(i)
      tags(i) = c.getString(0)
      values(i) = tags(i) match {
        case "string" => c.getString(1)
        case "bool" => c.getBoolean(2).toString
        case "ts" => Digest.micros(c.getTimestamp(3)).toString
        case "long" => c.getLong(4).toString
        case "double" => java.lang.Double.toString(c.getDouble(5))
        case _ => ""
      }
      i += 1
    }
    Digest.row(tags, values)
  }

  private def digestCheck(what: String, df: DataFrame, hash: Row => Long, exp: Expected)
      : Seq[String] = {
    val (n, digest) = df.rdd.map(r => (1L, hash(r))).fold((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    val good = exp.rows - exp.planted
    Seq(
      if (n != good) Some(s"$what: $n rows, expected $good") else None,
      if (digest != exp.digest) Some(s"$what: cell digest differs from the generator's") else None,
    ).flatten
  }

  /** write-compat: row count and digest of the tagged (tag, value) cells. */
  def compat(df: DataFrame, exp: Expected): Seq[String] =
    digestCheck("write-compat parquet", df, taggedRowHash, exp)

  /** write-jdbc: read-back through JdbcBackend.readTable. */
  def jdbc(df: DataFrame, exp: Expected): Seq[String] =
    digestCheck("write-jdbc read-back", df, sourceRowHash, exp)

  /** Planted malformed lines are correct rejections only when the parse
    * error count matches them exactly. */
  def parseErrors(seen: Long, exp: Expected): Seq[String] =
    if (seen != exp.planted) Seq(s"parseErrors = $seen, planted ${exp.planted}") else Nil

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ssZ")
  private val NullLiteral = "NULL"

  /** Per exported line: (row hash, wrong quoted bits, unreadable cells,
    * NULL literals per column). */
  private def readLine(line: String): (Long, Long, Long, Array[Long]) = {
    val n = Gen.ReadCols.length
    val nulls = new Array[Long](n)
    val cells =
      try QuoteCsv.parseRecord(line)
      catch { case _: CsvParseException => return (0L, 0L, 1L, nulls) }
    if (cells.length != n) return (0L, 0L, 1L, nulls)
    val tags = new Array[String](n)
    val values = new Array[String](n)
    var badQuote = 0L
    var bad = 0L
    var i = 0
    while (i < n) {
      val c = cells(i)
      val isString = Gen.ReadStringCols(i)
      if (!c.quoted && c.value == NullLiteral) {
        nulls(i) += 1; tags(i) = "null"; values(i) = ""
      } else if (c.quoted != isString) {
        badQuote += 1; tags(i) = "?"; values(i) = c.value
      } else {
        val tv: (String, String) =
          try i match {
            case 0 => ("long", c.value.toLong.toString)
            case 1 => ("double", java.lang.Double.toString(c.value.toDouble))
            case 2 if c.value == "true" || c.value == "false" => ("bool", c.value)
            case 3 =>
              val inst = OffsetDateTime.parse(c.value, tsFormat).toInstant
              ("ts", (inst.getEpochSecond * 1000000L + inst.getNano / 1000L).toString)
            case _ if isString => ("string", c.value)
            case _ => bad += 1; ("?", c.value)
          } catch { case _: Exception => bad += 1; ("?", c.value) }
        tags(i) = tv._1; values(i) = tv._2
      }
      i += 1
    }
    (Digest.row(tags, values), badQuote, bad, nulls)
  }

  /** read-export: every line re-parsed with QuoteCsv.parseRecord; quoted
    * bit exactly on the string columns, NULL as the bare literal, values
    * equal to the source rows the offset bound keeps, skipped count exact. */
  def readExport(lines: Dataset[String], exp: Expected, sourceRows: Long): Seq[String] = {
    val zero = (0L, 0L, 0L, 0L, new Array[Long](Gen.ReadCols.length))
    val (n, digest, badQuote, bad, nulls) = lines.rdd.map { l =>
      val (h, q, b, nl) = readLine(l)
      (1L, h, q, b, nl)
    }.fold(zero) { case ((a1, a2, a3, a4, a5), (b1, b2, b3, b4, b5)) =>
      (a1 + b1, a2 + b2, a3 + b3, a4 + b4, a5.zip(b5).map { case (x, y) => x + y })
    }
    val skipped = sourceRows - n
    Seq(
      if (skipped != exp.skipped) Some(s"read-export: offset bound skipped $skipped rows, expected ${exp.skipped}") else None,
      if (badQuote > 0) Some(s"read-export: $badQuote cells with a wrong quoted bit") else None,
      if (bad > 0) Some(s"read-export: $bad unreadable lines or cells") else None,
      if (nulls.toSeq != exp.nulls) Some(s"read-export: NULL literals per column ${nulls.mkString(",")}, expected ${exp.nulls.mkString(",")}") else None,
      if (digest != exp.digest) Some("read-export: exported values differ from the source rows") else None,
    ).flatten
  }

  def readExport(spark: SparkSession, outDir: String, exp: Expected, sourceRows: Long): Seq[String] =
    readExport(spark.read.textFile(outDir), exp, sourceRows)
}
