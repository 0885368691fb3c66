package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** r16: decompose the 2.97 s/face streaming machinery floor (r15
  * StreamFloorLedger) into its per-batch duration terms, straight from
  * Spark's own StreamingQueryProgress.durationMs — triggerExecution,
  * queryPlanning, walCommit, latestOffset, addBatch, commitOffsets —
  * plus query start/stop wall time. A/B: checkpoint on disk
  * (target/tmp) vs tmpfs (/dev/shm), to price WAL+commit-log fsyncs.
  *
  * Usage: StreamDurProbe <sfDir> [reps]
  */
object StreamDurProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.tool(sfDir)

    val durs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        import scala.jdk.CollectionConverters._
        durs.add(e.progress.durationMs.asScala.toMap.map {
          case (k, v) => k -> v.toLong })
      }
    })

    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    val base = "target/tmp/sdp_in"
    scala.reflect.io.Path(new java.io.File(base)).deleteRecursively()
    (0 until 3).foreach { i =>
      docs.where(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    }

    def run(label: String, ckptRoot: String): Unit = {
      (1 to reps).foreach { rep =>
        val ck = s"$ckptRoot/sdp_ckpt_$rep"
        scala.reflect.io.Path(new java.io.File(ck)).deleteRecursively()
        durs.clear()
        val t0 = System.nanoTime()
        var n = 0L
        val q = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            n += b.count(); ()
          }.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination(600000L)
        val wall = (System.nanoTime() - t0) / 1e9
        import scala.jdk.CollectionConverters._
        val batches = durs.asScala.toSeq
        val keys = batches.flatMap(_.keys).distinct.sorted
        val sums = keys.map(k => f"$k=${batches.map(_.getOrElse(k, 0L)).sum}%d")
        println(f"$label rep$rep wall=$wall%5.2fs batches=${batches.size} " +
          sums.mkString(" "))
      }
    }
    run("disk ", "target/tmp")
    run("tmpfs", "/dev/shm/graft_probe")
    spark.stop()
  }
}
