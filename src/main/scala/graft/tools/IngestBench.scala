package graft.tools

import graft.{CopyConfig, Tables}
import graft.pipeline.{CopyRead, CopyWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-throughput parity check against the reference's one published
  * number: "easily does 50k inserts per second" (`README.md:8`,
  * BASELINE.md). Times the full write verb — CSV text → quote-preserving
  * parse → inference → typed parquet sink — at the reference's default
  * worker count (8), and prints rows/sec.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.tool(sfDir)
    val cfg = CopyConfig() // reference defaults incl. numProcesses=8
    val base = graft.Scratch.path(s"ingestbench_${System.nanoTime()}")

    // materialize the CSV input (not timed - the reference reads stdin)
    val src = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_partkey"),
      col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"), col("l_shipdate").cast(TimestampType).as("l_shipdate"))
    CopyRead.run(spark, src.repartition(8), src.columns.toSeq, "l_orderkey", cfg, s"$base/csv")
    val n = src.count()

    // timed: parse + infer + typed sink (the write verb end to end)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_shipdate", TimestampType)))
    val t0 = System.nanoTime()
    val (typed, errs) = CopyWrite.read(spark, s"$base/csv", schema.fieldNames.toSeq,
      cfg, Some(schema))
    CopyWrite.sink(typed, s"$base/out", cfg, errs)
    val secs = (System.nanoTime() - t0) / 1e9
    val written = spark.read.parquet(s"$base/out").count()
    require(written == n, s"row loss: $written != $n")
    println(f"""{"metric":"ingest_rows_per_sec","value":${n / secs}%.0f,"rows":$n,"sec":$secs%.2f,"workers":8}""")
    spark.stop()
  }
}
