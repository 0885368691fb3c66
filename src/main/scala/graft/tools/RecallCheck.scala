package graft.tools

/** One-off recall audit: do the approximate dedup paths (MinHash-LSH,
  * winnowing) recover the exact jaccard≥0.5 pairs at a given SF? */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.tool(sfDir)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val exact = pairs(graft.ops.Dedup.jaccardPairs(spark, sfDir))
    val lsh = pairs(graft.ops.Dedup.minhashLshPairs(spark, sfDir))
    val winnow = pairs(graft.ops.TextAnalysis.winnowPairs(spark, sfDir))
    println(s"exact=${exact.size} lsh=${lsh.size} winnow=${winnow.size}")
    println(s"lsh missed: ${(exact -- lsh).size}  winnow missed: ${(exact -- winnow).size}")
    spark.stop()
  }
}
