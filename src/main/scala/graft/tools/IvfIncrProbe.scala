package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.{Ivf, Similarity}

/** Scale probe for q126 in its PRODUCTION configuration: the gate
  * face's fixed centStride (cells ∝ n) is the measured knee — routing
  * costs n·cells = n²/stride (180 s at sf10, probe_r10.txt). The
  * production recipe holds cells ≈ √n by growing the stride with the
  * corpus; this probes it, printing the cell count and occupancy so
  * the honest stat is on record (the SemDedupProbe convention).
  * Usage: IvfIncrProbe <sfDir> <centStride> <runs> — centStride 0
  * probes the library DEFAULT (self-sized stride ≈ √n, r11). */
object IvfIncrProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val stride = args(1).toInt; val runs = args(2).toInt
    val spark = graft.Session.tool(sfDir)
    val n = graft.Tables.embeddings(spark, sfDir)
      .where(col("vec_id") % 10 =!= 0).count()
    val effStride = Ivf.stride(stride, n)
    val cells = math.max(1L, n / effStride)
    println(s"[ivf-probe] n_existing=$n stride=$effStride" +
      (if (stride == 0) " (auto ~sqrt(n))" else "") +
      s" cells~$cells occupancy~${n / cells}")
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      Similarity.ivfIncremental(spark, sfDir, k = 3, centStride = stride)
        .write.format("noop").mode("overwrite").save()
      println(f"q126(stride=$stride) run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
