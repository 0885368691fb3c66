package graft.tools

/** Decade probe for the coverage pair (q156 audit / q159 repair) on the
  * LIBRARY default geometry (centStride = 0 → ≈ √n cells) — the gate
  * faces pin stride 100 for oracle parity, which makes cells ∝ n and
  * the cell-partitioned index write a small-files tax at decade SFs
  * (the q126 lesson); the default recipe is the scale path and is what
  * this probe times. It stays because `Profile` runs only the gate
  * faces, which pin the stride. Usage: CoverageProbe <sfDir> [reps]
  */
object CoverageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.tool(sfDir)
    (1 to reps).foreach { i =>
      var t0 = System.nanoTime()
      val audit = graft.ops.Similarity.ivfCoverageAudit(spark, sfDir).collect().head
      val tAudit = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val repair = graft.ops.Similarity.ivfCoverageRepair(spark, sfDir).collect().head
      val tRepair = (System.nanoTime() - t0) / 1e9
      println(f"run $i: q156_default ${tAudit}%6.2f s  (missing=${audit.getAs[Long]("n_missing")}, stale_cells=${audit.getAs[Long]("n_stale_cells")}); " +
        f"q159_default ${tRepair}%6.2f s  (repaired=${repair.getAs[Long]("n_repaired")}, after=${repair.getAs[Long]("n_missing_after")})")
    }
    spark.stop()
  }
}
