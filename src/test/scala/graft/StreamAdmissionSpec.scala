package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for streaming delta-dedup admission (q149, 11th streaming
  * class). The load-bearing claims: (1) verdicts against the PERSISTED
  * corpus index match q127's one-shot semantics; (2) cross-batch state
  * works — a doc admitted in wave 0 rejects its near-dup arriving in
  * wave 2, intra-wave dups are both admitted (neither can see the
  * other's verdict mid-batch), and REJECTED docs never enter state;
  * (3) the admitted-state artifact contains exactly the admitted signed
  * docs; (4) delivery really was multi-batch. */
class StreamAdmissionSpec extends AnyFunSuite with SparkFixture {

  /** 24 distinct words per seed; word sets across seeds are disjoint
    * (position-salted), so only identical-seed docs can near-dup. */
  private def mkText(seed: Int): String =
    (0 until 24).map(i => s"w${(seed * 31 + i * 7) % 9973}x$i").mkString(" ")

  private def writeDocs(rows: Seq[(Long, String)], tmp: String): String = {
    val s = spark; import s.implicits._
    rows.map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(2).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("planted: corpus dup rejected; wave-0 admission rejects its wave-2 near-dup (state load-bearing); intra-wave dups both admitted") {
    val tCorp = mkText(1); val tB = mkText(2); val tIJ = mkText(3); val tE = mkText(4)
    // wave = doc_id % 3 for doc_id % 7 == 0
    val rows = Seq(
      1L -> tCorp, // corpus
      35L -> tCorp, // wave 2: corpus dup -> rejected via the INDEX
      21L -> tB, // wave 0: unique -> admitted
      14L -> tB, // wave 2: near-dup of the admitted 21 -> rejected via STATE
      42L -> tIJ, // wave 0 \ intra-wave pair: neither can see the
      84L -> tIJ, // wave 0 / other's verdict -> BOTH admitted
      28L -> tIJ, // wave 1: rejected, BOTH admitted intra-wave dups counted
      7L -> tE) // wave 1: unique -> admitted
    val d = writeDocs(rows, "target/tmp/sda_spec")
    val out = graft.ops.Pipelines.streamDedupAdmission(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(35L) == ((1L, 0L, false)))
    assert(out(21L) == ((0L, 0L, true)))
    assert(out(14L) == ((0L, 1L, false)))
    assert(out(42L) == ((0L, 0L, true)))
    assert(out(84L) == ((0L, 0L, true)))
    assert(out(28L) == ((0L, 2L, false)))
    assert(out(7L) == ((0L, 0L, true)))
    // the admitted-state artifact holds EXACTLY the admitted docs —
    // rejected docs (35, 14, 28) never poison the state
    val admIds = spark.read
      .parquet(graft.ops.Pipelines.streamDedupAdmissionStateDirs.head.getPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admIds == Set(21L, 42L, 84L, 7L))
    // delivery really was multi-batch (one file per wave)
    val inFiles = graft.ops.Pipelines.streamDedupAdmissionInputDir
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(inFiles >= 3, s"expected >=3 delivery files, found $inFiles")
  }

  test("face at sf0.001: a verdict for every new doc; admitted <=> both counts zero; wave column consistent") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.ops.Pipelines.streamDedupAdmission(spark, sf).cache()
    val nNew = Tables.documents(spark, sf).where(col("doc_id") % 7 === 0).count()
    assert(out.count() == nNew)
    assert(out.where(col("admitted") =!=
      (col("n_corpus_dups") === 0 && col("n_admitted_dups") === 0)).count() == 0)
    assert(out.where(col("wave") =!= col("new_doc") % 3).count() == 0)
    out.unpersist()
  }

  test("streamIndexMaintenance (q161): receipts monotone and whole; final index holds exactly the corpus ids") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Pipelines.streamIndexMaintenance(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 3, s"expected 3 wave receipts, got ${rows.length}")
    // zero-missing invariant per wave; index strictly grows by the batch
    rows.foreach(r => assert(r.getLong(4) == 0L, s"coverage hole: $r"))
    val sizes = rows.map(_.getLong(3))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => b > a })
    rows.foreach(r => assert(r.getLong(2) >= 1L))
    // delivery really was multi-batch
    val inFiles = graft.ops.Pipelines.streamIndexMaintenanceInputDir
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(inFiles >= 3)
    // the persisted index holds exactly the corpus id set
    val qe = graft.ops.Ivf.quantizedEmbeddings(spark, sf)
    val idxIds = spark.read.parquet("target/tmp/sim_q161/index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val corpusIds = qe.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(idxIds == corpusIds)
  }
}
