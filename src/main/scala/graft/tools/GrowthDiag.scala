package graft.tools

import org.apache.spark.sql.functions._

/** Decompose the gate's two steepest growth curves (r7 verdict item 5:
  * q89 13× and q92 8.6× wall at 100× data) into the ROW VOLUMES each
  * plan actually processes, AnnDiag-style — confirming wall tracks the
  * work the operator is defined to do (postings / components), not a
  * superlinear artifact. One SF dir per run, so the session is sized
  * from the data it measures; compare decades across runs.
  *
  *  - q89 (ngram novelty, [[graft.ops.Curation.ngramNovelty]]): cost is
  *    the (doc, bigram)-distinct POSTINGS table feeding two map-side
  *    combined aggregates — per bigram (df and its min doc, the owner
  *    of a df=1 bigram) and per doc (bigram totals) — plus a small one
  *    over the df=1 owners, so the work is LINEAR IN POSTINGS (≈
  *    tokens), not in docs. Reports docs, postings rows, distinct
  *    bigrams, and the novelty wall; the verdict metric is
  *    ns-per-posting, which a healthy plan holds ~flat (or falling, as
  *    fixed costs amortize) while postings grow 100×.
  *  - q92 (random projection): cost is n×16 aggregate-HOF dots over
  *    64-dim arrays = n×1024 multiply-adds. Reports n, the quantize-only
  *    wall (the shared prefix), and the full projection wall; healthy =
  *    (full − quantize) / n flat across SFs.
  *
  * Usage: graft.tools.GrowthDiag <sfDir>
  */
object GrowthDiag {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.tools.GrowthDiag <sfDir>")
    val d = args(0)
    val spark = graft.Session.tool(d)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // q89 decomposition
    val docs = graft.Tables.documents(spark, d)
    val nDocs = docs.count()
    val postings = graft.ops.Curation.bigramPostings(docs, col("doc_id"), col("text"))
    val nPostings = postings.count()
    val nDistinctBg = postings.select(col("bg")).distinct().count()
    // warm + 2 samples, keep min (probe convention: min defeats noise)
    val t89 = (1 to 3).map(_ => timed(noop(
      graft.ops.Curation.ngramNoveltyGate(spark, d)))).drop(1).min
    println(f"[q89] $d: docs=$nDocs postings=$nPostings distinct_bg=$nDistinctBg " +
      f"wall=$t89%.2fs ns_per_posting=${t89 * 1e9 / nPostings}%.0f")

    // q92 decomposition
    val emb = graft.Tables.embeddings(spark, d)
    val nVec = emb.count()
    val tQuant = (1 to 3).map(_ => timed(noop(
      graft.ops.Ivf.quantizeInt8(emb).select(col("vec_id"), col("q8")))))
      .drop(1).min
    val tProj = (1 to 3).map(_ => timed(noop(
      graft.ops.Similarity.randomProjectionGate(spark, d)))).drop(1).min
    println(f"[q92] $d: vectors=$nVec quantize_wall=$tQuant%.2fs " +
      f"full_wall=$tProj%.2fs project_ns_per_vec=${(tProj - tQuant) * 1e9 / nVec}%.0f")
    spark.stop()
  }
}
