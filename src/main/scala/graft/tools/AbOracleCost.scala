package graft.tools

/** Controlled same-window A/B for the two bench deltas the r7
  * `--bench-diff` tool flagged (r7 verdict, next-round item 1):
  *
  *  - q51 (+62% in the quiet-window diff): is the cost the oracle-flip's
  *    FUSED md5 DIGEST (key_sum + 40-bit md5 row digest added to the
  *    source scan), or window noise? Variants: digest on / off.
  *  - q54 (+50%): is the cost the oracle-flip's SECOND MEASURED SIDE
  *    (the source-table aggregation alongside the stream-sink one), or
  *    window noise? Variants: both sides / sink side only.
  *
  * Protocol = the r7 median-study methodology: one JVM, one warm-up of
  * each variant (JIT/codegen paid outside the samples), then N
  * INTERLEAVED passes (A,B,A',B' per pass) so every variant samples the
  * same load windows; medians and mins reported per variant, delta =
  * on−off of the same statistic. Same noop-forced evaluation as Bench.
  *
  * Usage: graft.tools.AbOracleCost <sfDir> [passes=5]
  */
object AbOracleCost {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 5
    val spark = graft.Session.tool(sfDir)

    val variants: Seq[(String, () => Unit)] = Seq(
      ("q51_digest_on", () =>
        graft.ops.Pipelines.csvRoundtripImpl(spark, sfDir, withDigest = true)
          .write.format("noop").mode("overwrite").save()),
      ("q51_digest_off", () =>
        graft.ops.Pipelines.csvRoundtripImpl(spark, sfDir, withDigest = false)
          .write.format("noop").mode("overwrite").save()),
      ("q54_both_sides", () =>
        graft.ops.Pipelines.streamIngestSummaryImpl(spark, sfDir, measureSource = true)
          .write.format("noop").mode("overwrite").save()),
      ("q54_sink_only", () =>
        graft.ops.Pipelines.streamIngestSummaryImpl(spark, sfDir, measureSource = false)
          .write.format("noop").mode("overwrite").save()))

    // warm-up: one untimed run per variant
    variants.foreach(_._2())
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val loads = scala.collection.mutable.ListBuffer.empty[Double]
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    for (p <- 1 to passes) {
      loads += osBean.getSystemLoadAverage
      variants.foreach { case (name, run) =>
        val t0 = System.nanoTime()
        run()
        samples(name) :+= (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[ab] pass $p/$passes done (load=${loads.last}%.1f)")
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def stats(n: String) = (median(samples(n)), samples(n).min)
    val out = variants.map(_._1).map { n =>
      val (med, mn) = stats(n)
      f""""$n":{"median":$med%.3f,"min":$mn%.3f,"samples":[${samples(n).map(x => f"$x%.3f").mkString(",")}]}"""
    }.mkString(",")
    def delta(a: String, b: String) = {
      val (ma, na) = stats(a); val (mb, nb) = stats(b)
      f""""median_delta":${ma - mb}%.3f,"min_delta":${na - nb}%.3f"""
    }
    spark.stop()
    println(s"""{"sf":"$sfDir","passes":$passes,"load_avg":[${loads.map(x => f"$x%.1f").mkString(",")}],$out,""" +
      s""""q51_digest_cost":{${delta("q51_digest_on", "q51_digest_off")}},""" +
      s""""q54_source_side_cost":{${delta("q54_both_sides", "q54_sink_only")}}}""")
  }
}
