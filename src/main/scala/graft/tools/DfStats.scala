package graft.tools

import org.apache.spark.sql.functions._

/** Quantifies the shingle df-tail shift across ScaleUp decades: the
  * exact-Jaccard family's work is Σ C(df,2) over the capped shingle
  * universe (candidate pairs), so if cloning makes the df TAIL itself
  * grow with corpus size, every exact plan's wall grows faster than
  * postings even though each is linear IN CANDIDATES. This prints, for
  * one SF dir: postings (Σ df), candidate pairs (Σ C(df,2)), their
  * ratio, max df, and the count of shingles above half the cap — the
  * numbers that separate "operator superlinear" from "synthetic corpus
  * grows its own tail" in BASELINE.md. Run it once per decade: the
  * session is sized from the dir it measures. It stays because Σ C(df,2)
  * is a property of the corpus, which no `Profile` record carries.
  * Usage: DfStats <sfDir> */
object DfStats {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.tools.DfStats <sfDir>")
    val d = args(0)
    val spark = graft.Session.tool(d)
    val dfreq = graft.ops.Dedup.shingles(graft.Tables.documents(spark, d))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") <= 100)
    val st = dfreq.agg(
      sum(col("df")).as("postings"),
      sum(expr("df * (df - 1) div 2")).as("cand"),
      max(col("df")).as("maxdf"),
      sum(when(col("df") > 50, 1L).otherwise(0L)).as("hot50"),
      count(lit(1)).as("shingles")).head
    val (p, c) = (st.getLong(0), st.getLong(1))
    println(f"[dfstats] $d postings=$p cand_pairs=$c " +
      f"pairs_per_posting=${c.toDouble / p}%.2f maxdf=${st.getLong(2)} " +
      f"shingles_df_gt50=${st.getLong(3)} distinct_shingles=${st.getLong(4)}")
    spark.stop()
  }
}
