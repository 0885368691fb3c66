package perfbench

import java.io.File
import java.sql.DriverManager

import graft.Cli
import graft.pipeline.{CopyRead, CopyWrite}
import graft.sources.JdbcBackend
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One workload: its generated inputs, the verb call, the cumulative layer
  * cuts of the traced run, and its output checks. */
abstract class Workload(val name: String, val work: File, val nproc: Int) {
  val inDir: String = new File(work, "in").getPath
  /** Files the generator writes: at least nproc scan splits. */
  val files: Int = 2 * nproc
  /** Verb reps run and discarded after set-up. The first call in a JVM
    * pays code generation and a cold JIT, and reps keep getting faster for
    * tens of seconds after it; a fixed count puts every run's timed reps at
    * the same point of that curve. */
  val warmups: Int = 3
  /** Input rows: one verb call takes about 2 s on 4 cores. */
  val rows: Long

  var exp: Expected = _
  def inputRows: Long = exp.rows

  def generate(spark: SparkSession, seed: Long, rows: Long): Unit
  def verbArgs: Array[String]
  final def verb(spark: SparkSession): Unit = Cli.run(verbArgs, spark)

  /** Cumulative cuts, cheapest first; each ends in the noop sink. Self
    * times: cut 1, cut 2 - cut 1, verb - cut 2, named by [[layers]]. */
  def cuts(spark: SparkSession): Seq[(String, () => Unit)]
  def layers: Seq[String]

  /** Rows of the last verb call that are not accounted for, from the
    * stage counters and cheap counts. */
  def repFailed(spark: SparkSession, m: StageMeter): Long
  /** Full output check of the last verb call. */
  def finalCheck(spark: SparkSession): Seq[String]
  def outBytesPerInByte(spark: SparkSession): Double
  def inputSplits(spark: SparkSession): Int
  /** Rows the offset bound removed in the last verb call. */
  def rowsSkipped: Long = 0L
  /** Planted defects for the self-test: each must make a check fail. */
  def defects(spark: SparkSession): Seq[(String, () => Seq[String])]

  protected def cfg = Cli.parseFlags(verbArgs.drop(3).toSeq)._1
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workload {
  val names: Seq[String] = Seq("write-compat", "write-jdbc", "read-export")

  def apply(name: String, work: File, nproc: Int): Workload = name match {
    case "write-compat" => new WriteWorkload(name, work, nproc, compat = true)
    case "write-jdbc" => new WriteWorkload(name, work, nproc, compat = false)
    case "read-export" => new ReadWorkload(name, work, nproc)
    case other => sys.error(s"unknown workload $other (want ${names.mkString("|")})")
  }

  /** Bytes of the data files under a directory (Spark's own marker and
    * checksum files excluded). */
  def dataBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new File(dir))
  }
}

final class WriteWorkload(name: String, work: File, nproc: Int, compat: Boolean)
    extends Workload(name, work, nproc) {
  val rows: Long = if (compat) 40000L else 80000L
  private val outDir = new File(work, "out").getPath
  /** parseErrors accumulator of the last verb call. */
  private var lastParseErrors = 0L
  private lazy val url = JdbcBackend.derbyUrl(new File(work, "derby").getPath)
  private val colSpec =
    if (compat) Gen.CompatCols.mkString(",")
    else Gen.JdbcCols.map { case (n, t) => s"$n:$t" }.mkString(",")

  def generate(spark: SparkSession, seed: Long, rows: Long): Unit = {
    val dir = new File(inDir)
    exp = if (compat) Gen.compat(dir, files, rows.toInt, seed) else Gen.jdbc(dir, files, rows.toInt, seed)
  }

  // the reference defaults (chunk 1000 rows, 20 kB, 5 attempts), pinned
  def verbArgs: Array[String] = Array("write", "t", colSpec, "--in", inDir,
    "--out", if (compat) outDir else url, "--num-processes", nproc.toString,
    "--chunk-size", "1000", "--max-batch-size", "20", "--max-attempts", "5")

  def cuts(spark: SparkSession): Seq[(String, () => Unit)] = {
    val c = cfg
    val (cols, declared) = Cli.parseCols(colSpec.split(",").toSeq)
    def parsed = CopyWrite.parseRecords(spark.read.textFile(inDir), c)._1
    Seq(
      "parse" -> (() => noop(parsed)),
      "parse+infer" -> (() => noop(
        if (compat) CopyWrite.inferTagged(parsed, cols, c)
        else CopyWrite.inferSchemad(parsed, declared.get, c))))
  }
  val layers = Seq("csv.parse_s", "infer.self_s", "sink.self_s")

  private def jdbcCount(): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM t")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  /** Rows written other than the good ones, plus the planted lines when
    * parseErrors does not count them exactly. */
  def repFailed(spark: SparkSession, m: StageMeter): Long = {
    lastParseErrors = m.acc("parseErrors")
    val written = if (compat) m.recordsWritten else jdbcCount()
    math.abs(written - (exp.rows - exp.planted)) +
      (if (Checks.parseErrors(lastParseErrors, exp).nonEmpty) math.max(exp.planted, 1L) else 0L)
  }

  def finalCheck(spark: SparkSession): Seq[String] =
    Checks.parseErrors(lastParseErrors, exp) ++
      (if (compat) Checks.compat(spark.read.parquet(outDir), exp)
      else Checks.jdbc(JdbcBackend.readTable(spark, url, "t", Some(Gen.JdbcCols.head._1),
        -(1L << 62), 1L << 62, nproc), exp))

  def outBytesPerInByte(spark: SparkSession): Double = {
    val out =
      if (compat) Workload.dataBytes(outDir)
      else {
        val conn = DriverManager.getConnection(url)
        try {
          val rs = conn.createStatement().executeQuery(
            "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE (SYSCS_DIAG.SPACE_TABLE('APP', 'T')) AS S")
          rs.next(); rs.getLong(1)
        } finally conn.close()
      }
    out.toDouble / Workload.dataBytes(inDir)
  }

  def inputSplits(spark: SparkSession): Int = spark.read.textFile(inDir).rdd.getNumPartitions

  /** One more planted line than the generator wrote, the good rows
    * unchanged: only the parse-error count is then wrong. */
  private def parseErrorsOffByOne(spark: SparkSession): Seq[String] = {
    val real = exp
    exp = real.copy(rows = real.rows + 1, planted = real.planted + 1)
    try finalCheck(spark) finally exp = real
  }

  def defects(spark: SparkSession): Seq[(String, () => Seq[String])] =
    if (compat) {
      val df = spark.read.parquet(outDir)
      val rows = df.collect().toSeq
      def check(rs: Seq[org.apache.spark.sql.Row]) =
        Checks.compat(spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), df.schema), exp)
      Seq(
        "dropped row" -> (() => check(rows.tail)),
        "flipped tag" -> (() => check(org.apache.spark.sql.Row.fromSeq(rows.head.toSeq.updated(0,
          org.apache.spark.sql.Row("string", "tampered", null, null, null, null))) +: rows.tail)),
        "parse errors off by one" -> (() => parseErrorsOffByOne(spark)))
    } else {
      def tamper(sql: String): Seq[String] = {
        val conn = DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(sql) finally conn.close()
        finalCheck(spark)
      }
      Seq(
        "parse errors off by one" -> (() => parseErrorsOffByOne(spark)),
        "changed value" -> (() => tamper(
          "UPDATE t SET l_returnflag = 'X' WHERE l_orderkey = (SELECT MAX(l_orderkey) FROM t)")),
        "dropped row" -> (() => tamper(
          "DELETE FROM t WHERE l_orderkey = (SELECT MIN(l_orderkey) FROM t)")))
    }
}

final class ReadWorkload(name: String, work: File, nproc: Int)
    extends Workload(name, work, nproc) {
  // short reps: more discarded reps take the JIT's compile work out of the
  // timed window
  override val warmups = 4
  val rows = 1600000L
  private val outDir = new File(work, "out").getPath
  private var offset = 0L
  private var sourceRows = 0L
  private var lastWritten = 0L
  override def inputRows: Long = sourceRows

  /** Writes the source table and takes the expectation in one more pass
    * over it, both before the warm-up reps. */
  def generate(spark: SparkSession, seed: Long, rows: Long): Unit = {
    offset = Gen.readTable(spark, inDir, files, rows, seed)
    sourceRows = rows
    exp = Gen.readExpected(spark, inDir, offset)
  }

  def verbArgs: Array[String] = Array("read", "t", Gen.ReadCols.mkString(","), "--in", inDir,
    "--out", outDir, "--offset", offset.toString, "--num-processes", nproc.toString)

  def cuts(spark: SparkSession): Seq[(String, () => Unit)] = {
    val c = cfg
    def scanned = spark.read.parquet(inDir).where(col(Gen.ReadCols.head) > offset)
      .select(Gen.ReadCols.map(col): _*)
    Seq(
      "scan" -> (() => noop(scanned)),
      "scan+render" -> (() => noop(CopyRead.toCsvLines(scanned, c).toDF())))
  }
  val layers = Seq("scan.self_s", "render.self_s", "export.self_s")

  def repFailed(spark: SparkSession, m: StageMeter): Long = {
    lastWritten = m.recordsWritten
    math.abs(lastWritten - exp.rows)
  }

  override def rowsSkipped: Long = sourceRows - lastWritten

  def finalCheck(spark: SparkSession): Seq[String] =
    Checks.readExport(spark, outDir, exp, sourceRows)

  def outBytesPerInByte(spark: SparkSession): Double =
    Workload.dataBytes(outDir).toDouble / Workload.dataBytes(inDir)

  def inputSplits(spark: SparkSession): Int = spark.read.parquet(inDir).rdd.getNumPartitions

  def defects(spark: SparkSession): Seq[(String, () => Seq[String])] = {
    import spark.implicits._
    val lines = spark.read.textFile(outDir).collect().toSeq
    def check(ls: Seq[String]) = Checks.readExport(ls.toDS(), exp, sourceRows)
    /** Rewrites the first line `f` changes. */
    def tamper(f: IndexedSeq[graft.csv.RawCell] => Option[IndexedSeq[graft.csv.RawCell]]) = {
      val i = lines.indexWhere(l => f(graft.csv.QuoteCsv.parseRecord(l)).isDefined)
      require(i >= 0, "no line to tamper with")
      lines.updated(i, graft.csv.QuoteCsv.renderRecord(f(graft.csv.QuoteCsv.parseRecord(lines(i))).get))
    }
    Seq(
      "dropped line" -> (() => check(lines.tail)),
      "flipped quoted bit" -> (() => check(tamper { cells =>
        val s = cells(4)
        if (s.quoted && !s.value.exists(c => c == ',' || c == '"')) Some(cells.updated(4, s.copy(quoted = false)))
        else None
      })),
      "NULL not rendered as the literal" -> (() => check(tamper { cells =>
        val d = cells(1)
        if (!d.quoted && d.value == "NULL") Some(cells.updated(1, d.copy(value = ""))) else None
      })))
  }
}
