package graft.tools

import org.apache.spark.sql.functions._

/** One-question probe for the q126 serve-path redesign (r11 verdict
  * item 2): does Spark's dynamic partition pruning fire on the exact
  * q126 join shape — a cent_id-partitioned parquet index broadcast-
  * joined by a small filtered batch on the partition column — WITHOUT
  * the collected in-list? Prints the formatted plan so the
  * PartitionFilters line answers directly. Usage: DppProbe <sfDir>. */
object DppProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.tool(sfDir)
    val base = graft.Scratch.fresh("dpp_probe")
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), (col("vec_id") % 50).as("cent_id"))
    e.repartition(col("cent_id")).write.partitionBy("cent_id")
      .parquet(s"$base/index")
    val index = spark.read.parquet(s"$base/index")
    val batch = graft.Tables.embeddings(spark, sfDir)
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), (col("vec_id") % 7).as("qcell"))
    val joined = index.join(broadcast(batch), col("cent_id") === col("qcell"))
      .groupBy(col("qcell")).agg(count(lit(1)).as("n"))
    joined.explain("formatted")
    println("== rows: " + joined.count())
    // variant 2: explicit left-semi prune then the value join
    val served = index.join(
      broadcast(batch.select(col("qcell").as("cent_id")).distinct()),
      Seq("cent_id"), "left_semi")
    val j2 = served.join(broadcast(batch), col("cent_id") === col("qcell"))
      .groupBy(col("qcell")).agg(count(lit(1)).as("n"))
    j2.explain("formatted")
    println("== rows2: " + j2.count())
    spark.stop()
  }
}
