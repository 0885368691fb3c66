package graft.tools

/** Ad-hoc profiling entry: time one or more SparkEntry queries repeatedly.
  * Usage: graft.tools.Profile <sfDir> <repeat> <queryName>... */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeat = args(1).toInt
    val names = args.drop(2)
    val spark = graft.Session.tool(sfDir)
    // r17: count Spark jobs per run — at gate SF most faces are
    // fixed-cost bound, so #jobs × per-job overhead is the cost model;
    // a face whose wall-clock is high relative to its job count is
    // planning/codegen-bound instead (guide §7.3).
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
      })
    for (name <- names; i <- 1 to repeat) {
      val j0 = nJobs.get()
      val t0 = System.nanoTime()
      // noop DSv2 sink: full evaluation of every output row, same forced
      // eval as Bench (`.count()` would prune the very projections being
      // profiled)
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$name run $i: $dt%.2fs jobs=${nJobs.get() - j0}")
      spark.catalog.clearCache() // runs stay independent (SharedPlans re-persists)
    }
    spark.stop()
  }
}
