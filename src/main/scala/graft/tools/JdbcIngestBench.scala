package graft.tools

import graft.{CopyConfig, Tables}
import graft.pipeline.{CopyRead, CopyWrite}
import graft.sources.JdbcBackend
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-throughput parity check through the PREPARED-INSERT sink
  * (r11 verdict item 6): the reference's published "50k inserts/s"
  * (`/root/reference/README.md:8`) is against a real prepared-statement
  * store, so the closest analog in this harness is q55's JDBC/Derby
  * backend — CSV text → quote-preserving parse → 7-rule inference →
  * typed rows → batched prepared `INSERT` transactions
  * ([[graft.pipeline.BatchingSink]], chunk 1000 / 20 kB reference
  * defaults, retry-with-backoff commit) — not the parquet sink
  * [[IngestBench]] times. Runs at the reference's default 8 workers and
  * prints rows/sec. Embedded Derby is a single-JVM row store (its write
  * path is itself a throughput ceiling a networked cluster wouldn't
  * have), so this number is a FLOOR for the sink architecture.
  */
object JdbcIngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // second backend (r12 verdict item 6): `duckdb` runs the IDENTICAL
    // sink (same BatchingSink, same prepared INSERT, same budgets)
    // against an embedded columnar store with a faster write path —
    // the delta vs Derby is pure store ceiling, not sink architecture
    val backend = if (args.length > 1) args(1) else "derby"
    // worker-scaling leg (r13): vary the sink's parallelism to show
    // throughput tracks workers until the STORE saturates — the
    // sink-vs-store separation the r12 verdict asked for
    val workers = if (args.length > 2) args(2).toInt else 8
    val spark = graft.Session.tool(sfDir)
    val cfg = CopyConfig() // reference defaults incl. chunk/byte batching
    val base = s"target/tmp/jdbcingest_${System.nanoTime()}"

    // materialize the CSV input (not timed — the reference reads stdin)
    val src = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_partkey"),
      col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"), col("l_shipdate").cast(TimestampType).as("l_shipdate"))
    CopyRead.run(spark, src.repartition(8), src.columns.toSeq, "l_orderkey",
      cfg, s"$base/csv")
    val n = src.count()

    // timed: parse + infer + prepared-INSERT batches (the write verb
    // end to end against the row store)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_shipdate", TimestampType)))
    val url =
      if (backend == "duckdb") JdbcBackend.duckdbUrl(s"$base/db")
      else JdbcBackend.derbyUrl(s"$base/db")
    val t0 = System.nanoTime()
    val (typed, _) = CopyWrite.read(spark, s"$base/csv",
      schema.fieldNames.toSeq, cfg, Some(schema))
    JdbcBackend.writeTable(typed.repartition(workers), url, "ingest_bench", cfg)
    val secs = (System.nanoTime() - t0) / 1e9
    val written = JdbcBackend.readTable(spark, url, "ingest_bench").count()
    require(written == n, s"row loss: $written != $n")
    println(f"""{"metric":"jdbc_ingest_rows_per_sec","value":${n / secs}%.0f,"rows":$n,"sec":$secs%.2f,"workers":$workers,"sink":"$backend prepared-INSERT"}""")
    spark.stop()
  }
}
