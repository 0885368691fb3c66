package graft

import graft.streaming.DeadLetter
import graft.streaming.DeadLetter.{Ev, Routed, WmState}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the late-data dead-letter router (q121): the pure keyed-
  * watermark transition (first-batch grace, late classification against
  * the PRIOR watermark only, watermark advance over all observed rows,
  * window assembly), and the end-to-end face invariants — multi-batch
  * delivery really happened, nothing was dropped (routed totals sum to
  * the corpus), and both channels are non-empty. */
class DeadLetterSpec extends AnyFunSuite with SparkFixture {

  private def ev(ts: Long*): Iterator[Ev] =
    ts.iterator.zipWithIndex.map { case (t, i) => Ev("k", i.toLong, t) }

  test("first batch: no prior state, nothing is late, watermark set") {
    val (st, out) = DeadLetter.step(None, ev(100L, 205L, 120L), 50L, 100L)
    assert(st == WmState(205L))
    assert(out == Seq(Routed("k", "ontime", 100L, 2L), Routed("k", "ontime", 200L, 1L)))
  }

  test("late iff t < priorMax - delay; current batch can't self-late") {
    // prior max 1000, delay 50 -> threshold 950
    val (st, out) = DeadLetter.step(Some(WmState(1000L)), ev(949L, 950L, 2000L, 949L), 50L, 100L)
    // 2000 arrives in the SAME batch as the 949s: they stay judged
    // against the prior watermark, not 2000's
    assert(out.contains(Routed("k", "late", -1L, 2L)))
    assert(out.contains(Routed("k", "ontime", 900L, 1L)))   // the 950
    assert(st == WmState(2000L))
  }

  test("watermark advances over late rows too; never retreats") {
    val (st1, _) = DeadLetter.step(Some(WmState(1000L)), ev(100L), 50L, 100L)
    assert(st1 == WmState(1000L)) // late row below stored max: no retreat
    val (st2, out2) = DeadLetter.step(Some(st1.copy()), ev(940L), 50L, 100L)
    assert(out2 == Seq(Routed("k", "late", -1L, 1L)) && st2 == WmState(1000L))
  }

  test("face: nothing dropped, both channels populated, really multi-batch") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.Pipelines.streamDeadLetter(spark, sf).cache()
    val total = got.agg(sum(col("n"))).head.getLong(0)
    val nEvents = Tables.events(spark, sf).count()
    assert(total == nEvents, s"routed $total != corpus $nEvents")
    val kinds = got.select(col("kind")).distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("ontime", "late"),
      s"expected both channels, got $kinds")
    val inDir = graft.ops.Pipelines.streamDeadLetterInputDir
    assert(inDir.isDirectory, s"q121 input dir missing: $inDir")
    val inFiles = inDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(inFiles >= 3, s"expected >=3 delivery files, found $inFiles")
  }
}
