package graft.tools

import org.apache.spark.sql.functions._

/** Diagnose ANN-LSH bucket skew in one corpus: report n, auto-sized band
  * width, per-band bucket occupancy stats, and the implied candidate-pair
  * volume Σ occ·(occ−1)/2 — the join cost the probe actually pays. One
  * SF dir per run, so the session is sized from the data it measures.
  * It stays because bucket occupancy is a property of the data, which no
  * `Profile` record carries.
  * Usage: graft.tools.AnnDiag <sfDir> */
object AnnDiag {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.tools.AnnDiag <sfDir>")
    val d = args(0)
    val spark = graft.Session.tool(d)
    val n = graft.ops.Similarity.corpusCount(spark, d)
    val bpb = graft.ops.Similarity.bitsForCorpus(n)
    // the SAME banded table the engine joins on — measured, not a copy
    val banded = graft.ops.Similarity.bandedSignatures(spark, d, bpb)
    val occ = banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("occ"))
    val stats = occ.agg(
      count(lit(1)).as("n_buckets"),
      max(col("occ")).as("max_occ"),
      avg(col("occ")).as("avg_occ"),
      sum(col("occ") * (col("occ") - 1) / 2).as("cand_pairs")).head()
    println(s"$d: n=$n bpb=$bpb buckets=${stats.getLong(0)} " +
      f"max_occ=${stats.getLong(1)} avg_occ=${stats.getDouble(2)}%.1f " +
      f"cand_pairs=${stats.getDouble(3)}%.3e")
    spark.stop()
  }
}
