package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Order-independent digest of typed cells. A cell is canonicalised to
  * (tag, value) with the tags of the tagged-union cell struct
  * (string|bool|ts|long|double|null); a row hash mixes its cells with their
  * column index through a non-linear finaliser, and a table digest is the
  * wrapping sum of its row hashes. Moving a cell to another row, dropping a
  * row or changing one tag or value all change the digest. */
object Digest {
  def cell(col: Int, tag: String, value: String): Long = {
    val a = MurmurHash3.stringHash(value, 0x3c6ef372 + 31 * col + tag.hashCode)
    val b = MurmurHash3.stringHash(tag, 0x1b873593 ^ (col * 0x9e3779b9))
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  def row(tags: Array[String], values: Array[String]): Long = {
    var acc = 0x27d4eb2f165667c5L
    var i = 0
    while (i < tags.length) {
      acc = fmix(acc ^ cell(i, tags(i), values(i))) + i
      i += 1
    }
    fmix(acc)
  }

  def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
}

/** What the generator planted and what the verb must produce from it. */
final case class Expected(rows: Long, planted: Long, digest: Long,
    skipped: Long = 0L, nulls: Seq[Long] = Nil)

/** Seeded inputs. Only files reach the verbs; the expectations are derived
  * from the generator's own draws (write side) or from the source table
  * with plain Spark operators (read side), never from the code under test. */
object Gen {
  /** Columns of the lineitem-shaped CSV that `graft.tools.IngestBench` and
    * `graft.tools.JdbcIngestBench` ingest: the repo's own measured write
    * input, as the `read` verb renders it (strings quoted, the rest bare). */
  val LineitemCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "long", "l_partkey" -> "long", "l_quantity" -> "double",
    "l_extendedprice" -> "double", "l_returnflag" -> "string", "l_shipdate" -> "timestamp")

  val CompatCols: Seq[String] = LineitemCols.map(_._1)
  /** Declared `col:type` list of the write-jdbc workload: JdbcIngestBench's. */
  val JdbcCols: Seq[(String, String)] = LineitemCols

  val ReadCols: Seq[String] = Seq("k", "d", "b", "ts", "s1", "s2")
  val ReadStringCols: Set[Int] = Set(4, 5)

  // quoted-string pieces: embedded quotes, commas and a quoted "NULL"
  private val quotedPieces = Array("plain", "with,comma", "say \"hi\"", "a\"\"b",
    "NULL", "x, \"y\", z", "", "true", "123", "tab\there")
  private val returnFlags = Array("R", "A", "N")

  private val minEpoch = 946684800L   // 2000-01-01
  private val spanEpoch = 946080000L  // ~30 years
  private val minShipDay = 8036       // 1992-01-02, TPC-H's first ship date
  private val shipDays = 2525         // to 1998-12-01

  /** A ship date at midnight UTC in the default layout, as `read` renders
    * lineitem's l_shipdate cast to a timestamp; returns its epoch micros. */
  private def shipDate(r: SplittableRandom, sb: java.lang.StringBuilder): Long = {
    val day = java.time.LocalDate.ofEpochDay(minShipDay + r.nextInt(shipDays))
    def two(n: Int): Unit = { if (n < 10) sb.append('0'); sb.append(n) }
    sb.append(day.getYear).append('-'); two(day.getMonthValue); sb.append('-')
    two(day.getDayOfMonth); sb.append(" 00:00:00+0000")
    day.toEpochDay * 86400L * 1000000L
  }

  private def quoted(sb: java.lang.StringBuilder, s: String): Unit =
    sb.append('"').append(s.replace("\"", "\"\"")).append('"')

  /** Splits `rows` lines over `files` text files, one seeded stream per
    * file; `line` renders one record into `sb` and returns its row hash, or
    * None for a planted malformed line. */
  private def writeLines(dir: File, files: Int, rows: Int, seed: Long)
      (line: (SplittableRandom, java.lang.StringBuilder) => Option[Long]): (Long, Long, Long) = {
    dir.mkdirs()
    var good = 0L; var bad = 0L; var digest = 0L
    for (f <- 0 until files) {
      val r = new SplittableRandom(seed * 1000003L + f)
      val n = rows / files + (if (f < rows % files) 1 else 0)
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$f%05d.csv")), StandardCharsets.UTF_8), 1 << 16)
      try {
        val sb = new java.lang.StringBuilder(256)
        var i = 0
        while (i < n) {
          sb.setLength(0)
          line(r, sb) match {
            case Some(h) => good += 1; digest += h
            case None => bad += 1
          }
          w.append(sb).append('\n')
          i += 1
        }
      } finally w.close()
    }
    (good, bad, digest)
  }

  /** One lineitem cell of column `i` (TPC-H value domains); returns its
    * (tag, value) as the typed side sees it. */
  private def lineitemCell(i: Int, r: SplittableRandom, sb: java.lang.StringBuilder): (String, String) =
    i match {
      case 0 | 1 =>
        val l = if (i == 0) 1L + r.nextLong(6000000L) else 1L + r.nextInt(200000)
        sb.append(l); ("long", l.toString)
      case 2 | 3 =>
        val qty = 1 + r.nextInt(50)
        val d = if (i == 2) qty.toDouble else (qty * (90000L + r.nextInt(120000))) / 100.0
        val v = java.lang.Double.toString(d)
        sb.append(v); ("double", v)
      case 4 =>
        val v = returnFlags(r.nextInt(returnFlags.length)); quoted(sb, v); ("string", v)
      case _ => ("ts", shipDate(r, sb).toString)
    }

  /** write-compat input: lineitem-shaped rows (bare decimals fall to rule
    * 7, there being no float rule). Lineitem has no bool literal or NULL
    * cell, so 2% of cells each are replaced by one of those; together with
    * lineitem's quoted strings, timestamps and int64 that reaches rules 1-7.
    * It has no int64-overflow digit string either, and none is added: the
    * program throws on one under Spark's default ANSI mode, which
    * [[overflowProbe]] and the self-test report. About 0.2% of the lines
    * are malformed. */
  def compat(dir: File, files: Int, rows: Int, seed: Long): Expected = {
    val n = CompatCols.length
    val tags = new Array[String](n)
    val values = new Array[String](n)
    val (good, bad, digest) = writeLines(dir, files, rows, seed) { (r, sb) =>
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(',')
        val k = r.nextInt(100)
        if (k < 2) {                        // rules 2-3: bool literals
          val b = r.nextBoolean(); sb.append(b); tags(i) = "bool"; values(i) = b.toString
        } else if (k < 4) {                 // rule 4: NULL
          sb.append("NULL"); tags(i) = "null"; values(i) = ""
        } else {                            // rules 1, 5, 6 and 7 (decimals)
          val (t, v) = lineitemCell(i, r, sb)
          tags(i) = if (t == "double") "string" else t; values(i) = v
        }
        i += 1
      }
      if (r.nextInt(500) == 0) {
        // planted malformed record: the parser must reject it
        r.nextInt(3) match {
          case 0 => sb.append(",ab\"cd")         // bare quote in an unquoted field
          case 1 => sb.append(",\"unterminated") // unterminated quoted field
          case _ => sb.append(",\"ab\"x")        // text after a closing quote
        }
        None
      } else Some(Digest.row(tags, values))
    }
    Expected(good + bad, bad, digest)
  }

  /** Input of the int64-overflow probe: `rows` lines of one bare digit
    * string each, 20 to 24 digits with an optional sign, so every cell
    * overflows int64 and must fall through rule 6 to rule 7 (string). */
  def overflowProbe(dir: File, files: Int, rows: Int, seed: Long): Expected = {
    val tags = Array("string")
    val values = new Array[String](1)
    val (good, bad, digest) = writeLines(dir, files, rows, seed) { (r, sb) =>
      val start = sb.length
      if (r.nextInt(4) == 0) sb.append('-')
      sb.append(1 + r.nextInt(9))
      for (_ <- 0 until 19 + r.nextInt(5)) sb.append(r.nextInt(10))
      values(0) = sb.substring(start)
      Some(Digest.row(tags, values))
    }
    Expected(good + bad, bad, digest)
  }

  /** write-jdbc input: lineitem-shaped rows, every cell valid for its
    * declared type. */
  def jdbc(dir: File, files: Int, rows: Int, seed: Long): Expected = {
    val n = JdbcCols.length
    val tags = new Array[String](n)
    val values = new Array[String](n)
    val (good, bad, digest) = writeLines(dir, files, rows, seed) { (r, sb) =>
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(',')
        val (t, v) = lineitemCell(i, r, sb)
        tags(i) = t; values(i) = v
        i += 1
      }
      Some(Digest.row(tags, values))
    }
    Expected(good + bad, bad, digest)
  }

  /** read-export source: a typed parquet table in `files` files, and an
    * exclusive `--offset` key bound that skips a seeded ~20% of the keys. */
  def readTable(spark: SparkSession, dir: String, files: Int, rows: Long, seed: Long): Long = {
    val keySpace = 1L << 40
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    def nullable(salt: Int, c: org.apache.spark.sql.Column) =
      when(pmod(h(salt), lit(20L)) === 0L, lit(null)).otherwise(c)
    val pieces = array(quotedPieces.map(lit).toIndexedSeq: _*)
    def str(salt: Int) = nullable(salt, concat(
      element_at(pieces, (pmod(h(salt + 1), lit(quotedPieces.length.toLong)) + 1).cast("int")),
      lit("-"), col("id").cast("string")))
    spark.range(0L, rows, 1L, files)
      .select(
        pmod(h(1), lit(keySpace)).as("k"),
        nullable(2, (pmod(h(3), lit(2000000000L)) - 1000000000L) / 1000.0).as("d"),
        nullable(4, pmod(h(5), lit(2L)) === 0L).as("b"),
        nullable(6, timestamp_seconds(lit(minEpoch) + pmod(h(7), lit(spanEpoch)))).as("ts"),
        str(8).as("s1"),
        str(10).as("s2"))
      .write.mode("overwrite").parquet(dir)
    val share = 0.18 + new SplittableRandom(seed).nextDouble() * 0.04
    (share * keySpace).toLong
  }

  /** Expectations over the rows of the source table the bound keeps, from
    * one pass with plain Spark operators. */
  def readExpected(spark: SparkSession, dir: String, offset: Long): Expected = {
    val n = ReadCols.length
    val zero = (0L, 0L, 0L, new Array[Long](n))
    val (kept, skipped, digest, nulls) = spark.read.parquet(dir).rdd.map { r =>
      if (r.getLong(0) > offset)
        (1L, 0L, Checks.sourceRowHash(r), Array.tabulate(n)(i => if (r.isNullAt(i)) 1L else 0L))
      else (0L, 1L, 0L, new Array[Long](n))
    }.fold(zero) { case ((a1, a2, a3, a4), (b1, b2, b3, b4)) =>
      (a1 + b1, a2 + b2, a3 + b3, a4.zip(b4).map { case (x, y) => x + y })
    }
    Expected(kept, 0L, digest, skipped = skipped, nulls = nulls.toSeq)
  }
}
