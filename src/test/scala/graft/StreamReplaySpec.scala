package graft

import graft.ops.{Ivf, Pipelines}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-replay idempotence for the foreachBatch streams (r13 verdict
  * item 4): q149/q161's at-least-once safety was ARGUED from the
  * per-batch OVERWRITE layout but never exercised — no test ever
  * re-executed a batch against state that batch had already committed.
  *
  * foreachBatch's contract is at-least-once: after a crash (or a lost
  * sink-side commit record) the SAME batch re-runs against whatever
  * state the first attempt left — anywhere from nothing to fully
  * committed. Full re-execution after a COMPLETE first attempt is the
  * adversarial end of that spectrum (every partial-write state is a
  * subset of it, and every write is an overwrite, so idempotence there
  * implies idempotence for any partial crash point): the replayed batch
  * sees its own prior admissions/index generation on disk and must (a)
  * not double-count them into its own verdicts/receipts — the
  * `batch < batchId` / `batch <= batchId` prunes — and (b) leave state
  * bit-identical. These specs run each stream to completion, then call
  * the extracted batch body a SECOND time for the middle wave and
  * assert nothing moved. */
class StreamReplaySpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("q149 replay: re-executing a committed admission batch changes nothing") {
    val out1 = rowsOf(Pipelines.streamDedupAdmission(spark, sf))
    val base = "target/tmp/sda_q149"
    val admBefore = rowsOf(spark.read.parquet(s"$base/adm_sig"))
    val verdictsBefore = rowsOf(spark.read.parquet(s"$base/stage/verdicts_1"))
    assert(verdictsBefore.nonEmpty, "fixture must have a wave-1 verdict set")
    // the replayed batch: wave 1's delivery, re-read from the table —
    // identical rows to what the file source handed batchId=1
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val wave1 = docs.where(col("doc_id") % 7 === 0 &&
      pmod(col("doc_id"), lit(3)) === 1)
    Pipelines.sdaProcessBatch(base, wave1, 1L)
    assert(rowsOf(spark.read.parquet(s"$base/stage/verdicts_1")) == verdictsBefore,
      "replayed verdicts must be bit-identical")
    assert(rowsOf(spark.read.parquet(s"$base/adm_sig")) == admBefore,
      "replayed admitted state must be bit-identical (no double-append)")
    // and the operator's own final output would re-assemble identically
    val reread = rowsOf(spark.read.parquet(
      (0 to 2).map(i => s"$base/stage/verdicts_$i"): _*)
      .select(col("new_doc"), (col("new_doc") % 3).as("wave"),
        col("n_corpus_dups"), col("n_admitted_dups"), col("admitted")))
    assert(reread == out1)
  }

  test("q161 replay: re-executing a committed index batch changes nothing") {
    val out1 = rowsOf(Pipelines.streamIndexMaintenance(spark, sf))
    val base = "target/tmp/sim_q161"
    val idxBefore = rowsOf(spark.read.parquet(s"$base/index"))
    val receipt1Before = rowsOf(spark.read.parquet(s"$base/stage/receipt_1"))
    assert(receipt1Before.nonEmpty, "fixture must have a wave-1 receipt")
    val qe = Ivf.quantizedEmbeddings(spark, sf)
    val existing = qe.where(col("vec_id") % 10 =!= 0)
    val cent = qe.where(col("vec_id") % 100 === 0 && col("vec_id") < 6400)
      .select(col("vec_id").as("cent_id"), col("q8").as("cq"))
    val wave1 = qe.where(col("vec_id") % 10 === 0 &&
      pmod(col("vec_id"), lit(3)) === 1).select(col("vec_id"), col("q8"))
    Pipelines.simProcessBatch(base, cent, existing, wave1, 1L)
    // the replayed receipt is the ORIGINAL receipt — in particular
    // n_indexed_after must NOT have grown to include batch 2's rows
    // (the batch <= batchId prune) and n_missing_after stays 0
    assert(rowsOf(spark.read.parquet(s"$base/stage/receipt_1")) == receipt1Before,
      "replayed receipt must be bit-identical")
    assert(rowsOf(spark.read.parquet(s"$base/index")) == idxBefore,
      "replayed index state must be bit-identical (no double-append)")
    val reread = rowsOf(spark.read.parquet(
      (0 to 2).map(i => s"$base/stage/receipt_$i"): _*).orderBy(col("wave")))
    assert(reread == out1)
  }

  test("q182 replay: re-executing a committed drift batch changes nothing") {
    val out1 = rowsOf(Pipelines.streamDriftMonitor(spark, sf))
    val base = "target/tmp/sdr_q182"
    val receipt1Before = rowsOf(spark.read.parquet(s"$base/stage/receipt_1"))
    assert(receipt1Before.nonEmpty, "fixture must have a wave-1 receipt")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
    val wave1 = docs.where(pmod(col("doc_id"), lit(3)) === 1)
    Pipelines.sdrProcessBatch(base, wave1, 1L)
    // the replayed receipt is a pure function of the staged prefix ≤ 1
    // plus the static reference — in particular its TVD must NOT be
    // recomputed over wave 2's staged rows
    assert(rowsOf(spark.read.parquet(s"$base/stage/receipt_1")) == receipt1Before,
      "replayed receipt must be bit-identical")
    val reread = rowsOf(spark.read.parquet(
      (0 to 2).map(i => s"$base/stage/receipt_$i"): _*).orderBy(col("wave")))
    assert(reread == out1)
  }

  test("q192 replay: re-executing a committed admission-meter batch changes nothing") {
    val out1 = rowsOf(Pipelines.streamBudgetAdmission(spark, sf))
    val base = "target/tmp/sba_q192"
    val receipt1Before = rowsOf(spark.read.parquet(s"$base/stage/receipt_1"))
    assert(receipt1Before.nonEmpty, "fixture must have a wave-1 receipt")
    val wave1 = graft.ops.TextAnalysis.sourceQualityFrame(spark, sf)
      .select(col("doc_id"), col("source"), col("nt"))
      .where(pmod(col("doc_id"), lit(3)) === 1)
    Pipelines.sbaProcessBatch(base, wave1, 1L)
    // the replayed meter is re-derived from the staged prefix ≤ 1 —
    // wave 2's staged arrivals must NOT leak into the closure count
    assert(rowsOf(spark.read.parquet(s"$base/stage/receipt_1")) == receipt1Before,
      "replayed receipt must be bit-identical")
    val reread = rowsOf(spark.read.parquet(
      (0 to 2).map(i => s"$base/stage/receipt_$i"): _*).orderBy(col("wave")))
    assert(reread == out1)
  }
}
