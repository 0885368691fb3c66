package graft

import graft.obs.Meter
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The engine meter reads every counter off a drained listener bus: each
  * test asserts on the record right after `measure` returns, with no
  * polling, so a lost event, a missing drain or a missing registration
  * fails here. */
class MeterSpec extends AnyFunSuite with SparkFixture {

  test("records written equals the rows of a parquet write behind a slow listener") {
    // a listener ahead of the meter in the shared queue, slow on every
    // task end: the meter sees the write's tasks only after the action
    // has returned, so the record is whole only if `measure` drains
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    val n = 5000L
    val (_, rec) =
      try Meter.measure(spark) {
        spark.range(0, n, 1, 8).write.mode("overwrite").parquet(Scratch.unique("meter_write"))
      } finally spark.sparkContext.removeSparkListener(slow)
    assert(rec.recordsWritten == n, s"meter saw ${rec.recordsWritten}, wrote $n: ${rec.line}")
  }

  test("a groupBy runs jobs and writes shuffle bytes") {
    val dir = Scratch.unique("meter_group")
    spark.range(0, 1000, 1, 4).select((col("id") % 5).as("k"), col("id").as("v"))
      .write.parquet(dir)
    val (rows, rec) = Meter.measure(spark) {
      spark.read.parquet(dir).groupBy(col("k")).agg(sum(col("v"))).collect()
    }
    assert(rows.length == 5)
    assert(rec.jobs >= 1 && rec.stages >= rec.jobs && rec.tasks >= rec.stages, rec.line)
    assert(rec.shuffleWriteBytes > 0 && rec.shuffleReadBytes > 0, rec.line)
    assert(rec.inputRows == 1000 && rec.inputBytes > 0 && rec.batches.isEmpty, rec.line)
  }

  test("every driver action reports its planning phases") {
    val (_, rec) = Meter.measure(spark) {
      spark.range(100).where(col("id") > 10).count()
    }
    assert(rec.actions == 1, rec.line)
    assert(Set("analysis", "optimization", "planning").subsetOf(rec.planMs.keySet), rec.line)
  }

  test("a 3-wave maxFilesPerTrigger=1 stateful stream reports three batches") {
    val s = spark
    import s.implicits._
    val dir = Scratch.unique("meter_waves")
    val waves = (0 until 3).map(i => (i * 100L until i * 100L + 20L).toDF("k"))
    val in = graft.ops.Pipelines.deliverWaves(spark, dir, waves)
    val (_, rec) = Meter.measure(spark) {
      val q = spark.readStream.schema(StructType(Seq(StructField("k", LongType))))
        .option("maxFilesPerTrigger", 1).parquet(in)
        .groupBy(col("k") % 7).count()
        .writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "wave stream missed its deadline")
    }
    assert(rec.batchCount == 3 && rec.batches.map(_.batchId) == Seq(0L, 1L, 2L), rec.line)
    assert(rec.batches.map(_.inputRows).sum == 60L, rec.line)
    assert(rec.streamMs.contains("addBatch"), rec.line)
    assert(rec.peakStateRows == 7L && rec.peakStateBytes > 0, rec.line)
  }
}
