package graft.tools

import graft.obs.{Meter, Record}
import org.apache.spark.sql.SparkSession

/** Ad-hoc profiling entry: time one or more SparkEntry queries
  * repeatedly and print, per run, where the time went — jobs, tasks,
  * shuffle and spill bytes, planning ms per phase, driver actions and,
  * for a streaming face, Σ `durationMs` per micro-batch key and the
  * peak state (see [[graft.obs.Record]]). At gate scale most faces are
  * fixed-cost bound, so #jobs × per-job overhead is the cost model; a
  * face whose wall-clock is high relative to its jobs is planning- or
  * streaming-bound instead. `build=` is the part of the run spent
  * building the face before its sink action: eager analysis and any
  * driver-side jobs, which `plan_ms` does not count.
  * Usage: graft.tools.Profile <sfDir> <repeat> <queryName>... */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeat = args(1).toInt
    val names = args.drop(2)
    val spark = graft.Session.tool(sfDir)
    for (name <- names; i <- 1 to repeat) {
      val (dt, build, rec) = runFace(spark, sfDir, name)
      println(f"$name run $i: $dt%.2fs build=$build%.2fs ${rec.line}")
    }
    spark.stop()
  }

  /** One full evaluation of face `name` through the noop sink (the same
    * forced eval as Bench: `.count()` would prune the very projections
    * being profiled), timed and metered; the cache is cleared after, so
    * runs stay independent (SharedPlans re-persists). Returns the run's
    * seconds, the seconds of the face call alone (building the
    * DataFrame: its eager analysis and any driver-side collects, before
    * the sink action) and the record. */
  def runFace(spark: SparkSession, sfDir: String, name: String): (Double, Double, Record) = {
    val ((dt, build), rec) = Meter.measure(spark) {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9)
    }
    spark.catalog.clearCache()
    (dt, build, rec)
  }
}
