package graft

import graft.pipeline.CopyWrite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end checks of the FIXTURES.md §A fixtures through the
  * real file-based pipeline (every expectation cited there). */
class GoldenFixtureSpec extends AnyFunSuite with SparkFixture {

  private val res = "src/test/resources"

  test("A1 infer_basic.csv: the 7-rule cascade, rule order asserted") {
    val cols = Seq("id", "name", "active", "score", "created", "note")
    val (typed, errs) = CopyWrite.read(spark, s"$res/infer_basic.csv", cols,
      CopyConfig(header = true))
    val rows = typed
      .select(col("id.tag"), col("id.l"), col("name.tag"), col("active.tag"),
        col("score.tag"), col("score.s"), col("created.tag"), col("note.tag"),
        col("note.s"))
      .orderBy(col("id.l").asc_nulls_last)
      .collect()
    errs.check()
    assert(rows.length == 3)
    // row 1: 1 → long; "Ada" → string; true → bool; NULL → null; ts → ts; "42" quoted → string
    assert(rows(0).toSeq == Seq("long", 1L, "string", "bool", "null", null, "ts", "string", "42"))
    // row 2: 17 unquoted → long(score tag long → s null); unquoted text → string
    assert(rows(1).getString(4) == "long" && rows(1).getString(6) == "ts")
    assert(rows(1).getString(7) == "string")
    // row 3: "3" quoted → string id; TRUE case-sensitive → string; 3.14 → string (no float); NULL → null
    assert(rows(2).toSeq.take(1) == Seq("string"))
    assert(rows(2).getString(3) == "string")        // TRUE ≠ true
    assert(rows(2).getString(4) == "string" && rows(2).getString(5) == "3.14")
    assert(rows(2).getString(6) == "string")        // not-a-date → string
    assert(rows(2).getString(7) == "null")          // unquoted NULL
  }

  test("A2 rfc4180_edges.csv: embedded quotes, multiline fields, empty-cell semantics") {
    val cols = Seq("a", "b", "c")
    val (typed, errs) = CopyWrite.read(spark, s"$res/rfc4180_edges.csv", cols,
      CopyConfig(header = true), multiline = true)
    val rows = typed.select(
        col("a.tag"), col("a.s"), col("b.tag"), col("b.s"), col("c.tag"), col("c.s"))
      .collect().sortBy(r => Option(r.getString(1)).getOrElse(""))
    errs.check()
    assert(rows.length == 2)
    // "",NULL,"NULL": quoted empty → string ""; unquoted NULL → null; quoted NULL → string
    assert(rows(0).toSeq == Seq("string", "", "null", null, "string", "NULL"))
    // "he said ""hi""", multiline b, trailing empty unquoted → cascade → string ""
    assert(rows(1).getString(1) == "he said \"hi\"")
    assert(rows(1).getString(3) == "line1\nline2")
    assert(rows(1).getString(4) == "string" && rows(1).getString(5) == "")
  }

  test("edge inputs: empty file, header-only, single column, blank lines") {
    val parent = java.nio.file.Paths.get("/root/repo/target/tmp")
    java.nio.file.Files.createDirectories(parent) // suite order-independent
    val dir = java.nio.file.Files.createTempDirectory(parent, "edge").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/empty.csv"), "")
    val (t1, e1) = CopyWrite.read(spark, s"$dir/empty.csv", Seq("a"), CopyConfig())
    assert(t1.count() == 0); e1.check()

    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/header_only.csv"), "a,b\n")
    val (t2, e2) = CopyWrite.read(spark, s"$dir/header_only.csv", Seq("a", "b"),
      CopyConfig(header = true))
    assert(t2.count() == 0); e2.check()

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/single.csv"), "1\n\n\"two\"\n\nNULL\n")
    val (t3, e3) = CopyWrite.read(spark, s"$dir/single.csv", Seq("v"), CopyConfig())
    val tags = t3.select(col("v.tag")).collect().map(_.getString(0)).sorted
    assert(tags.toSeq == Seq("long", "null", "string")) // blank lines skipped
    e3.check()
  }

  test("A3 parse_errors.csv: budget counts bad rows, good rows survive") {
    val (typed, errs) = CopyWrite.read(spark, s"$res/parse_errors.csv",
      Seq("k", "v"), CopyConfig(maxParseErrors = 2))
    assert(typed.count() == 3)        // rows 1, 2, 3
    assert(errs.acc.value == 2)       // two malformed rows counted
    errs.check()                      // within budget → no abort
    val (typed2, errs2) = CopyWrite.read(spark, s"$res/parse_errors.csv",
      Seq("k", "v"), CopyConfig(maxParseErrors = 1))
    typed2.count()
    intercept[IllegalStateException](errs2.check()) // budget 1 < 2 → abort
  }
}
