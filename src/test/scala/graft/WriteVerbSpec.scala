package graft

import java.nio.file.{Files, Paths}

import graft.obs.Meter
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite

/** The parquet branch of the `write` verb: one job with no exchange, the
  * printed row count taken from that job, one file per non-empty task,
  * and the parse-error budget still enforced after the action. */
class WriteVerbSpec extends AnyFunSuite with SparkFixture {

  private val localFs = FileSystem.getLocal(new Configuration())

  /** `files` CSV files of `rows` two-column lines each under a fresh dir. */
  private def csvInput(name: String, files: Int, rows: Int): String = {
    val dir = Paths.get(Scratch.unique(name), "in")
    Files.createDirectories(dir)
    (0 until files).foreach { f =>
      val lines = (0 until rows).map(i => s"${f * rows + i},\"v$i\"")
      Files.writeString(dir.resolve(s"part-$f.csv"), lines.mkString("", "\n", "\n"))
    }
    dir.toString
  }

  /** Runs `body` with `System.err` also copied into the returned text. */
  private def withStderr[T](body: => T): (T, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try (body, buf.toString("UTF-8")) finally System.setErr(old)
  }

  test("write verb to parquet: one job, no shuffle, and the printed count is the rows written") {
    val in = csvInput("verb_one_job", files = 3, rows = 50)
    val out = s"${Paths.get(in).getParent}/out"
    val ((_, rec), err) = withStderr(Meter.measure(spark) {
      Cli.run(Array("write", "t", "id,v", "--in", in, "--out", out, "--num-processes", "8"), spark)
    })
    assert(rec.jobs == 1, rec.line)
    assert(rec.shuffleWriteBytes == 0, rec.line)
    val printed = """\[graft\] wrote (\d+) rows to """.r.findFirstMatchIn(err)
      .map(_.group(1).toLong)
    assert(printed.contains(spark.read.parquet(out).count()), err)
    assert(printed.contains(150L), err)
  }

  test("--chunk-size does not cut the parquet output: one split writes one file") {
    val in = csvInput("verb_one_file", files = 1, rows = 100)
    val out = s"${Paths.get(in).getParent}/out"
    Cli.run(Array("write", "t", "id,v", "--in", in, "--out", out, "--chunk-size", "10"), spark)
    assert(Scratch.dataFiles(localFs, out) == 1L)
    assert(spark.read.parquet(out).count() == 100L)
  }

  test("write verb to parquet: the parse-error budget aborts past its limit") {
    val dir = Paths.get(Scratch.unique("verb_budget"), "in")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-0.csv"),
      Seq("1,ok", "bad\"row,x", "2,\"fine\"", "oops\"", "oops\"").mkString("", "\n", "\n"))
    val err = intercept[IllegalStateException] {
      Cli.run(Array("write", "t", "id,v", "--in", dir.toString,
        "--out", s"${dir.getParent}/out", "--max-parse-errors", "2"), spark)
    }
    assert(err.getMessage.contains("parse-error budget exceeded: 3 > 2"))
  }
}
