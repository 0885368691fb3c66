package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Decompose q57's wall-clock floor (r6 verdict item 7): how much of the
  * ~6.6 s is fixed streaming machinery (source listing + micro-batch
  * planning + checkpoint + sink commits) vs the stateful interval join
  * itself vs the parquet-sink round-trip?
  *
  * Variants, each a REAL streaming query over the same two event streams:
  *   passthrough — union of both filtered streams, stateless, parquet
  *                 sink + checkpoint (= all fixed costs, no join state)
  *   join+parquet — the production q57 shape (join, parquet sink,
  *                 checkpoint, batch re-agg of the sink)
  *   join+memory — same stateful join into the in-memory table sink
  *                 (drops the parquet write + re-read, keeps everything
  *                 else real)
  *
  * Usage: graft.tools.StreamJoinProfile <sfDir> <repeat>
  */
object StreamJoinProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeat = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.tool(sfDir)

    def signups(): DataFrame = graft.Tables.eventsStream(spark, sfDir)
      .where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    def views(): DataFrame = graft.Tables.eventsStream(spark, sfDir)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("rts"), col("value"))

    def freshBase(tag: String): String = {
      val dir = new java.io.File(s"target/tmp/sjp_$tag")
      scala.reflect.io.Path(dir).deleteRecursively()
      dir.getPath
    }

    def time(tag: String)(body: String => Unit): Unit = {
      for (i <- 1 to repeat) {
        val base = freshBase(tag)
        val t0 = System.nanoTime()
        body(base)
        println(f"$tag run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    }

    time("passthrough_parquet") { base =>
      val q = signups().select(col("user_id"), col("event_id"))
        .union(views().select(col("user_id"), col("value").cast("long").as("event_id")))
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(s"$base/out").write.format("noop").mode("overwrite").save()
    }

    time("join_parquet_q57") { base =>
      val q = graft.streaming.StreamIngest
        .intervalJoinStream(signups(), views(), "user_id")
        .select(col("event_id"), col("value"))
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(s"$base/out")
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_views"), round(sum(col("value")), 4).as("sum_value"))
        .write.format("noop").mode("overwrite").save()
    }

    time("join_memory") { base =>
      val name = s"sjp_mem_${System.nanoTime()}"
      val q = graft.streaming.StreamIngest
        .intervalJoinStream(signups(), views(), "user_id")
        .select(col("event_id"), col("value"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.table(name)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_views"), round(sum(col("value")), 4).as("sum_value"))
        .write.format("noop").mode("overwrite").save()
      spark.catalog.dropTempView(name)
    }

    spark.stop()
  }
}
