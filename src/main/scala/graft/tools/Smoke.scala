package graft.tools

/** Mirrors the driver's t1 smoke: the verb session (no engine conf —
  * AQE, state store and aggregate fallback stay at Spark's defaults)
  * running SparkEntry.entry — proves the flagship query doesn't depend on
  * any engine conf the bench profile injects. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.verb(4, "graft-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"entry rows=$n")
    require(n > 0, "smoke failed: entry returned no rows")
    spark.stop()
  }
}
