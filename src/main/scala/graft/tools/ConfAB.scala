package graft.tools

/** One-JVM interleaved A/B of a session-conf-gated code path — the one
  * A/B tool. Mode A = the shipped setting (the value the `tool` session
  * profile gives the key, or unset when the profile leaves it at Spark's
  * default), mode B = conf set to the given value; run order alternates
  * AB/BA each round so linear box drift cancels. Full face evaluation
  * through the noop sink, under the bench's engine confs ([[graft.Session]]),
  * each run printed with its build seconds ([[Profile.runFace]]) and
  * its [[graft.obs.Record]].
  *
  * Usage: ConfAB <sfDir> <rounds> <confKey=value> <query>...
  *
  * Recipes for the retired single-purpose A/B mains:
  *  - q98 PageRank routes: `graft.graph.driverMaxEdges=0 q98_pagerank`
  *  - streaming state width: `graft.stream.parts=N <streaming query>...`
  *  - AQE start width on the LSH family:
  *    `spark.sql.adaptive.coalescePartitions.initialPartitionNum=256 q38_dup_clusters` */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val rounds = args(1).toInt
    val Array(confKey, confVal) = args(2).split("=", 2)
    val names = args.drop(3)
    val spark = graft.Session.tool(sfDir)
    val shipped = spark.conf.getAll.get(confKey)
    println(s"[conf-ab] A: $confKey=${shipped.getOrElse("(unset)")}  B: $confKey=$confVal")
    val results =
      scala.collection.mutable.Map[(String, String), List[(Double, Long)]]()
    def runOne(name: String, mode: String, round: Int): Unit = {
      if (mode == "B") spark.conf.set(confKey, confVal)
      else shipped.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
      val (dt, build, rec) = Profile.runFace(spark, sfDir, name)
      println(f"[conf-ab] $name $mode round $round: $dt%.2fs build=$build%.2fs ${rec.line}")
      results((name, mode)) = (dt, rec.jobs) :: results.getOrElse((name, mode), Nil)
    }
    for (name <- names; r <- 1 to rounds) {
      val order = if (r % 2 == 1) Seq("A", "B") else Seq("B", "A")
      order.foreach(m => runOne(name, m, r))
    }
    for (name <- names; m <- Seq("A", "B")) {
      val ts = results.getOrElse((name, m), Nil)
      val warm = ts.dropRight(1) // drop the face's first round (cold JIT)
      if (warm.nonEmpty) {
        val ws = warm.map(_._1).sorted
        println(f"[conf-ab] $name $m warm-min=${ws.min}%.2fs " +
          f"warm-med=${ws(ws.size / 2)}%.2fs jobs=${warm.head._2}")
      }
    }
    spark.stop()
  }
}
