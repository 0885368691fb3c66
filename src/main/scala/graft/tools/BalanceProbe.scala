package graft.tools

/** Decade probe for q152 (IVF balance audit) in its PRODUCTION
  * configuration: the gate face pins centStride = 100 for oracle parity
  * (cells ∝ n — the known fixed-stride knee), the default self-sizes to
  * ≈ √n. Also probes q151 (LSH quality audit) on the same dir in its
  * default self-sized-sample configuration. It stays because `Profile`
  * runs only the gate faces, which pin the stride. Usage:
  * BalanceProbe <sfDir> <centStride> <runs>. */
object BalanceProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val stride = args(1).toInt; val runs = args(2).toInt
    val spark = graft.Session.tool(sfDir)
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      val r = graft.ops.Similarity.ivfBalanceAudit(spark, sfDir, stride).collect().head
      println(f"q152(stride=$stride) run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
        s"-> n_cells=${r.getLong(0)} n_vecs=${r.getLong(1)} max/mean_ppm=${r.getLong(4)} " +
        s"over2x=${r.getLong(5)} under_half=${r.getLong(6)}")
      spark.catalog.clearCache()
    }
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      val r = graft.ops.Dedup.lshQualityAudit(spark, sfDir).collect().head
      println(f"q151(default sample) run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
        s"-> n_lsh=${r.getLong(0)} n_lsh_true=${r.getLong(1)} " +
        s"n_truth_sample=${r.getLong(2)} n_hit_sample=${r.getLong(3)} " +
        s"precision_ppm=${if (r.isNullAt(4)) "null" else r.getLong(4)} " +
        s"recall_ppm=${if (r.isNullAt(5)) "null" else r.getLong(5)}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
