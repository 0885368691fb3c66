package graft

import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins Spark's exact outer-row eviction boundary for the stream-stream
  * left-outer interval join, at millisecond granularity: NO outer
  * emission while wm == ts + window - 1ms, emission exactly at
  * wm == ts + window. This is the rule the q108 oracle encodes
  * (ts + 24h <= watermark); if a Spark upgrade shifts the boundary,
  * this spec reds before the gate does. */
class OuterJoinBoundarySpec extends AnyFunSuite with SparkFixture {

  test("outer row emits exactly when wm reaches ts + window, not 1ms before") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(min: Int) = new java.sql.Timestamp((1000000 + min) * 60000L)
    val memL = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val memR = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = StreamIngest.intervalJoinStreamOuter(
      memL.toDF().toDF("user_id", "ts", "event_id"),
      memR.toDF().toDF("user_id", "rts", "value"),
      "user_id", window_ = "30 minutes", watermark = "10 minutes")
    val q = joined.select(col("event_id"), col("value"))
      .writeStream.format("memory").queryName("bp_out")
      .outputMode("append").start()
    def rows() = s.sql("SELECT event_id FROM bp_out WHERE value IS NULL")
      .collect().map(_.getLong(0)).toSet
    try {
      memL.addData((2L, ts(0), 200L))
      memR.addData((3L, ts(0), 1.0))
      q.processAllAvailable()
      // advance wm to ts(0)+30min MINUS 1ms on both streams
      def tsm(min: Int, ms: Int) = new java.sql.Timestamp((1000000 + min) * 60000L + ms)
      memL.addData((9L, tsm(40, -1), 899L)); memR.addData((9L, tsm(40, -1), 0.4))
      q.processAllAvailable()
      assert(rows().isEmpty, s"outer row emitted 1ms BEFORE the boundary: ${rows()}")
      // advance wm to EXACTLY ts(0)+30min on both streams
      memL.addData((9L, ts(40), 900L)); memR.addData((9L, ts(40), 0.5))
      q.processAllAvailable()
      assert(rows() == Set(200L), s"no outer row AT the boundary: ${rows()}")
      // later advances must not duplicate the outer row
      memL.addData((9L, ts(120), 902L)); memR.addData((9L, ts(120), 0.7))
      q.processAllAvailable()
      assert(rows() == Set(200L), s"outer row duplicated or lost: ${rows()}")
    } finally q.stop()
  }
}
