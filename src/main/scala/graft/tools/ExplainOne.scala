package graft.tools

/** Print one gate query's formatted physical plan against a given SF dir
  * — the per-operator iteration loop of PLANS.md (which dumps all 97).
  * Usage: graft.tools.ExplainOne <sfDir> <queryName> [executedToo] [k=v ...]
  * With a third arg that is not `k=v`, also runs the query (noop sink)
  * and prints the AQE-final executed plan — the one that shows which
  * join strategy actually ran. Trailing key=value args become session
  * confs (the seam for printing a conf-gated path's plan honestly).
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val spark = graft.Session.tool(sfDir)
    val (confs, flags) = args.drop(2).partition(_.contains("="))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    }
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    if (flags.nonEmpty) {
      df.write.format("noop").mode("overwrite").save()
      println("=== executed (AQE-final) ===")
      println(df.queryExecution.executedPlan.toString.take(20000))
    }
    spark.stop()
  }
}
