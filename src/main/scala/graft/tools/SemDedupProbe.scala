package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.{Ivf, Similarity}

/** Scale probe for q115 in its PRODUCTION configuration: SemDeDup's
  * recipe holds expected cluster occupancy constant by growing k with
  * the corpus (k ≈ n / target-occupancy), so the within-cluster pair
  * join stays linear — probing the gate face's fixed k=8 at sf30 would
  * time a configuration the operator documentation explicitly rules
  * out (8 clusters over 600k vectors is an all-pairs join in disguise).
  * Seeds stay the first-k rule, so k is capped at the base-copy id
  * range here; occupancy (printed) is the honest stat.
  * Usage: SemDedupProbe <sfDir> <k> <runs> */
object SemDedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val k = args(1).toInt; val runs = args(2).toInt
    val spark = graft.Session.tool(sfDir)
    val n = graft.Tables.embeddings(spark, sfDir).count()
    println(s"[semdedup-probe] n=$n k=$k expected-occupancy=${n / k}")
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      val qe = Ivf.quantizeInt8(graft.Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("q8"))
      Similarity.semDedupOn(qe, k = k, iters = 2, tauNum = 2, tauDen = 5)
        .write.format("noop").mode("overwrite").save()
      println(f"q115_semdedup(k=$k) run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      spark.catalog.clearCache()
    }
    // candidate audit (r9 verdict item 5): the within-cluster pair join
    // generates Σ_c C(size_c, 2) candidates — report it per vector, with
    // the occupancy tail, measured on the REAL converged clusters
    val qe = Ivf.quantizeInt8(graft.Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("q8"))
    val cents = Similarity.kmeansFit(qe, k, 2)
    val sizes = Similarity.kmeansAssign(qe, cents, k > Similarity.KmeansMaxExprK)
      .groupBy(col("cluster")).agg(count(lit(1)).as("c"))
    val st = sizes.agg(
      sum(col("c") * (col("c") - 1) / 2).as("cand"),
      max(col("c")).as("maxc"), avg(col("c")).as("avgc"),
      count(lit(1)).as("nonempty")).head
    println(f"[semdedup-probe] candidates=${st.getAs[Any]("cand")} " +
      f"candidates-per-vector=${st.getAs[Number]("cand").doubleValue() / n}%.1f " +
      f"max-cluster=${st.getAs[Long]("maxc")} avg-cluster=${st.getAs[Double]("avgc")}%.1f " +
      f"nonempty-clusters=${st.getAs[Long]("nonempty")}")
    spark.stop()
  }
}
