package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decompose q98's wall-clock at a given SF: edge build + cache
  * materialization, degree aggregation, and each PageRank iteration
  * separately (noop-forced), plus the row volumes that define the work.
  * Usage: graft.tools.GraphDiag <sfDir>
  */
object GraphDiag {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val spark = graft.Session.tool(d)

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[$label] ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val pairs = graft.Tables.orders(spark, d).select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))

    val e = edges.repartition(32, col("src")).persist()
    val nE = timed("edge build+cache")(e.count())
    println(s"[edges] $nE")
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    timed("deg agg")(noop(deg))
    val nV = deg.count()
    println(s"[nodes] $nV")
    val r0 = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    val dd = deg.select(col("src").as("dnode"), col("deg"))

    var r: DataFrame = r0
    (1 to 3).foreach { i =>
      val contrib = r.join(dd.hint("shuffle_hash"), col("node") === col("dnode"))
        .select(col("dnode").as("csrc"), expr("r div deg").as("cr"))
      val next = e.join(contrib.hint("shuffle_hash"), col("src") === col("csrc"))
        .groupBy(col("dst"))
        .agg(sum(col("cr")).as("c"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(85 * c) div 100")).as("r"))
        .persist() // isolate: each iteration measured from materialized ranks
      timed(s"iter $i")(noop(next))
      r = next
    }
    spark.stop()
  }
}
