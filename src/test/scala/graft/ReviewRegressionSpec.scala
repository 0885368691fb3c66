package graft

import graft.csv.RawCell
import graft.infer.{GoTimeFormat, TypeInference}
import graft.pipeline.{CopyRead, CopyWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Regression pins for the round-1 code-review findings — each test
  * fails on the pre-fix behavior. */
class ReviewRegressionSpec extends AnyFunSuite with SparkFixture {

  private val base = new java.io.File(Scratch.unique("rr")).getAbsolutePath

  override def beforeAll(): Unit = {
    super.beforeAll()
    Files.createDirectories(Paths.get(base))
  }

  /** Runs `f` with `spark.sql.files.maxPartitionBytes` lowered, so the
    * text scan under [[CopyWrite.read]] cuts one small file into many
    * byte-range splits. */
  private def withMaxPartitionBytes[T](bytes: Long)(f: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", bytes)
    try f finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("split boundary: record starting exactly at maxSplitBytes is read exactly once") {
    // 11-byte lines; split size a multiple → every boundary is a record start
    val n = 100
    val lines = (0 until n).map(i => f"$i%010d").mkString("\n") + "\n"
    Files.writeString(Paths.get(s"$base/aligned.csv"), lines)
    val schema = StructType(Seq(StructField("id", LongType)))
    withMaxPartitionBytes(110) {
      val (df, errs) = CopyWrite.read(spark, s"$base/aligned.csv", Seq("id"),
        CopyConfig(), Some(schema))
      assert(df.rdd.getNumPartitions == 10)
      val agg = df.agg(count(lit(1)), countDistinct(col("id")), sum(col("id"))).head()
      assert(agg.toSeq == Seq(n.toLong, n.toLong, n.toLong * (n - 1) / 2))
      errs.check()
    }
  }

  test("byte-range splits: one big file parallelizes, no row lost or duplicated") {
    val big = s"$base/big"
    Files.createDirectories(Paths.get(big))
    val n = 20000
    val body = (1 to n).map(i => s"""$i,"name-$i",${i % 2 == 0},note $i""").mkString("\n")
    Files.writeString(Paths.get(s"$big/data.csv"), body)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("flag", BooleanType), StructField("note", StringType)))
    withMaxPartitionBytes(64 * 1024) { // force many splits
      val (df, errs) = CopyWrite.read(spark, big, schema.fieldNames.toSeq,
        CopyConfig(), Some(schema))
      assert(df.rdd.getNumPartitions > 4, s"got ${df.rdd.getNumPartitions}")
      assert(df.count() == n)
      // exactly-once across split boundaries: ids sum and distinct count
      val agg = df.agg(sum(col("id")), countDistinct(col("id"))).head()
      assert(agg.getLong(0) == n.toLong * (n + 1) / 2)
      assert(agg.getLong(1) == n)
      assert(df.where(col("id") > (n - 100L)).count() == 100)
      errs.check()
    }
  }

  test("verb write → read round-trip through Spark's file commit protocol") {
    val out = s"$base/roundtrip"
    val src = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select(col("l_orderkey"),
        col("l_returnflag").as("flag"),
        col("l_quantity"),
        col("l_shipdate").cast(TimestampType).as("ship"))
    CopyRead.run(spark, src, src.columns.toSeq, "l_orderkey", CopyConfig(), out)
    assert(Files.exists(Paths.get(s"$out/_SUCCESS")))
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("flag", StringType),
      StructField("l_quantity", DoubleType), StructField("ship", TimestampType)))
    val (back, errs) = CopyWrite.read(spark, out, schema.fieldNames.toSeq,
      CopyConfig(), Some(schema))
    assert(back.count() == src.count())
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast(DecimalType(38, 0)))).head.getDecimal(0)
    assert(sig(src).compareTo(sig(back)) == 0) // value-exact round-trip
    errs.check()
  }

  test("CopyRead default offset is a true no-op (NULL keys survive)") {
    val src = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(java.lang.Long.valueOf(1L), "a"),
        org.apache.spark.sql.Row(null, "b")),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    val out = s"$base/nullkey"
    CopyRead.run(spark, src, Seq("k", "v"), "k", CopyConfig(), out)
    val back = spark.read.text(out)
    assert(back.count() == 2) // NULL-key row exported, rendered as NULL literal
    assert(back.where(col("value") === "NULL,\"b\"").count() == 1)
  }

  test("declared-schema read: inference + quote dominance + multiline quotes") {
    val dir = s"$base/declared"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/a.csv"),
      """1,"Ada",true,2024-01-02 03:04:05+0000
        |2,"Bob",false,NULL
        |3,"3",17,note""".stripMargin)
    Files.writeString(Paths.get(s"$dir/b.csv"),
      """4,unquoted,true,x
        |5,"q,with comma",false,"multi
        |line"
        |6,123,"true",3.14
        |7,true,NULL,"NULL"""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("flag", BooleanType), StructField("note", StringType)))
    val (typed, errs) = CopyWrite.read(spark, dir, schema.fieldNames.toSeq,
      CopyConfig(), Some(schema), multiline = true)
    val rows = typed.orderBy("id").collect()
    errs.check()
    assert(rows.length == 7)
    // declared StringType keeps the cell text verbatim, quoted or not
    assert(rows.map(_.getAs[String]("name")).toSeq ==
      Seq("Ada", "Bob", "3", "unquoted", "q,with comma", "123", "true"))
    assert(rows(5).getAs[String]("note") == "3.14")
    // 17 is no bool literal, a quoted "true" never decodes to a bool
    // (quote dominance), and the unquoted NULL literal is NULL
    assert(rows.map(r => Option(r.getAs[java.lang.Boolean]("flag"))).toSeq ==
      Seq(Some(true), Some(false), None, Some(true), Some(false), None, None))
    assert(rows(1).isNullAt(3))                          // unquoted NULL literal
    assert(rows(6).getAs[String]("note") == "NULL")      // quoted NULL is text
    assert(rows(4).getAs[String]("note") == "multi\nline") // embedded newline survives
  }

  test("DSv2 declared StringType keeps verbatim text for numeric/bool/null-ish cells") {
    // the declared-schema decode now lives in CopyWrite.read (inferSchemad)
    Files.writeString(Paths.get(s"$base/verbatim.csv"), "123,true,3.14\n")
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType),
      StructField("c", StringType)))
    val (df, errs) = CopyWrite.read(spark, s"$base/verbatim.csv", schema.fieldNames.toSeq,
      CopyConfig(), Some(schema))
    assert(df.head().toSeq == Seq("123", "true", "3.14")) // arbiter schema
    errs.check()
  }

  test("ANSI session: overflow digits stay string, mismatched declared cells are NULL") {
    val ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    import ansi.implicits._
    val overflow = "99999999999999999999" // passes the digit guard, overflows int64
    val (parsed, _) = CopyWrite.parseRecords(Seq(overflow).toDS(), CopyConfig())
    val tagged = CopyWrite.inferTagged(parsed, Seq("v"), CopyConfig())
      .select(col("v.tag"), col("v.s")).head()
    val pure = TypeInference.inferCell(RawCell(overflow, quoted = false), CopyConfig())
    assert(pure == TypeInference.StringValue(overflow))
    assert(tagged.toSeq == Seq(TypeInference.toRow(pure)._1, overflow))
    Files.writeString(Paths.get(s"$base/ansi.csv"), s"1,$overflow,abc\n2,7,2.5\n")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("l", LongType), StructField("d", DoubleType)))
    val (typed, errs) = CopyWrite.read(ansi, s"$base/ansi.csv", schema.fieldNames.toSeq,
      CopyConfig(), Some(schema))
    val rows = typed.orderBy("id").collect()
    errs.check()
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(1).getLong(1) == 7L && rows(1).getDouble(2) == 2.5)
  }

  test("zone-less time layout parses in the pure cascade (parity with Catalyst path)") {
    val cfg = CopyConfig(timeFormat = "2006-01-02 15:04:05")
    val r = TypeInference.inferCell(RawCell("2024-01-02 03:04:05", quoted = false), cfg)
    assert(r == TypeInference.TimestampValue(1704164645000000L)) // UTC semantics
  }

  test("Go layout Z0700 accepts a literal Z suffix (UTC), like Go") {
    val cfg = CopyConfig(timeFormat = "2006-01-02T15:04:05Z0700")
    val r = TypeInference.inferCell(RawCell("2024-01-02T03:04:05Z", quoted = false), cfg)
    assert(r == TypeInference.TimestampValue(1704164645000000L))
    assert(GoTimeFormat.toJavaPattern("2006-01-02T15:04:05Z0700") == "yyyy-MM-dd'T'HH:mm:ssXX")
  }

  test("ragged records: missing trailing cells render as NULL literal, no column shift") {
    val s = spark
    import s.implicits._
    val (parsed, _) = CopyWrite.parseRecords(Seq("1,only-two").toDS(), CopyConfig())
    val tagged = CopyWrite.inferTagged(parsed, Seq("a", "b", "c", "d"), CopyConfig())
    assert(tagged.select(col("c.tag"), col("d.tag")).head.toSeq == Seq("null", "null"))
    val line = CopyRead.toCsvLines(tagged, CopyConfig()).head()
    assert(line == "1,\"only-two\",NULL,NULL") // 4 cells, aligned
  }

  test("ranged splits over non-ASCII CSV lose no records (mid-UTF-8 split starts)") {
    // 2-byte Greek letters make most byte offsets fall inside a character;
    // a split must realign at the byte level, or boundary records drift
    // into a neighbour split or out of every split
    val n = 400
    val lines = (0 until n).map(i => f"$i%06d,αβγδε").mkString("\n") + "\n"
    Files.writeString(Paths.get(s"$base/utf8.csv"), lines)
    // line = 6+1+10 bytes payload + '\n' = 18 bytes; 97 is coprime → splits
    // land mid-line and mid-character
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    withMaxPartitionBytes(97) {
      val (df, errs) = CopyWrite.read(spark, s"$base/utf8.csv", schema.fieldNames.toSeq,
        CopyConfig(), Some(schema))
      assert(df.rdd.getNumPartitions > 10)
      assert(df.count() == n)
      assert(df.agg(countDistinct(col("id"))).head.getLong(0) == n)
      assert(df.where(col("s") === "αβγδε").count() == n)
      errs.check()
    }
  }

  test("bool-style follows the reference order: trueValue first (write.go:117)") {
    val c = CopyConfig(boolStyle = "yes,no")
    assert(c.trueValue == "yes" && c.falseValue == "no")
    assert(TypeInference.inferCell(RawCell("yes", quoted = false), c) ==
      TypeInference.BoolValue(true))
    assert(TypeInference.inferCell(RawCell("no", quoted = false), c) ==
      TypeInference.BoolValue(false))
  }

  test("per-file headers: reading back our own multi-part header'd export is clean") {
    val src = Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey"), col("o_orderpriority")).repartition(4)
    val out = s"$base/hdr"
    val cfg = CopyConfig(header = true)
    CopyRead.run(spark, src, src.columns.toSeq, "o_orderkey", cfg, out)
    // 4 part files, each opening with the quoted-name header line
    val header = "\"o_orderkey\",\"o_orderpriority\""
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 4)
    parts.foreach(p => assert(Files.readAllLines(p.toPath).get(0) == header, p))
    assert(spark.read.textFile(out).where(col("value") === header).count() == 4)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderpriority", StringType)))
    val (typed, errs) = CopyWrite.read(spark, out, schema.fieldNames.toSeq, cfg, Some(schema))
    assert(typed.count() == src.count()) // no header rows leaked into data
    assert(typed.where(col("o_orderkey").isNull).count() == 0)
    errs.check()
  }
}
