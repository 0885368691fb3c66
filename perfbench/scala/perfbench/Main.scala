package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import org.apache.spark.SPARK_VERSION
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Benchmark harness: one workload per JVM, run from the workload's work
  * directory.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --start-ns <epoch ns>
  *   perfbench.Main --self-test
  *
  * Untimed set-up: session, seeded inputs, discarded warm-up reps. Timed:
  * `graft.Cli.run` reps of the workload's verb until `--seconds` of reps
  * are measured. `--trace 1` instead runs rounds of an untraced verb call,
  * a traced verb call and the layer cuts, and reports per-layer metrics.
  * The last stdout line is the result object. */
object Main {
  val SelfTestRows = 3000L
  val MinReps = 3
  val MinRounds = 2

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val mainNs = epochNs()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    val work = new File(".").getCanonicalFile
    val spark = session(nproc, work)
    val sessionNs = epochNs()
    val ok =
      try {
        if (args.contains("--self-test")) selfTest(spark, work, nproc)
        else run(spark, work, nproc, opts("workload"), opts("seed").toLong,
          opts("seconds").toDouble, opts("trace") == "1", opts("start-ns").toLong, mainNs, sessionNs)
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  def session(nproc: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Times one call, after a GC so it pays no collection debt of the
    * previous one. */
  private def timed(spark: SparkSession, m: StageMeter)(body: => Unit): Timing = {
    System.gc()
    m.reset()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    ListenerDrain(spark.sparkContext)
    Timing(t0, t1, cpu)
  }

  /** Aggregate CPU tick counters of /proc/stat (empty where there is none). */
  private def cpuStat(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    } catch { case _: Exception => Array.empty }

  /** Share of CPU time the hypervisor took from this machine in between. */
  private def stealFrac(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = a.indices.map(i => b(i) - a(i))
      d(7).toDouble / math.max(1L, d.take(8).sum)
    }

  /** Milliseconds one thread takes for a fixed integer loop. Steal time
    * misses a host whose other tenants share this machine's cores, so a
    * slower probe is what shows such a run. */
  private def hostProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) System.err.print("") // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e6
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric is $v")
    java.lang.Double.toString(v)
  }

  private def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** First line of the innermost cause's message of a failed verb call. */
  private def failure(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val msg = Option(c.getMessage).getOrElse("").linesIterator.find(_.trim.nonEmpty).getOrElse("")
    s"${c.getClass.getSimpleName}: ${msg.take(300)}"
  }

  def run(spark: SparkSession, work: File, nproc: Int, name: String, seed: Long,
      seconds: Double, trace: Boolean, startNs: Long, mainNs: Long, sessionNs: Long): Boolean = {
    val w = Workload(name, work, nproc)
    val meter = new StageMeter
    spark.sparkContext.addSparkListener(meter)
    val load0 = os.getSystemLoadAverage
    val stat0 = cpuStat()
    val probe0 = hostProbeMs()

    val g0 = System.nanoTime()
    w.generate(spark, seed, w.rows)
    val genS = (System.nanoTime() - g0) / 1e9
    val splits = w.inputSplits(spark)

    var failed = 0L
    val warmupS, repS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def verbRep(): Timing = {
      val t = timed(spark, meter)(w.verb(spark))
      failed += w.repFailed(spark, meter)
      repS += t.wall
      t
    }

    // a verb call that throws ends the run: its rows count as failed and
    // no metric is reported
    var metrics: Seq[(String, Double, String)] = Nil
    val verbError =
      try {
        for (_ <- 0 until w.warmups) warmupS += timed(spark, meter)(w.verb(spark)).wall
        if (trace) w.cuts(spark).foreach(_._2())
        val setupS = (epochNs() - startNs) / 1e9
        metrics =
          if (!trace) {
            val times = scala.collection.mutable.ArrayBuffer.empty[Timing]
            while (times.map(_.wall).sum < seconds || times.length < MinReps) times += verbRep()
            val rows = w.inputRows.toDouble
            Seq(
              ("rows_per_s", rows / median(times.map(_.wall).toSeq), "rows/s"),
              ("cpu_s_per_mrow", median(times.map(_.cpuS).toSeq) / rows * 1e6, "s/Mrow"),
              ("setup_s", setupS, "s"))
          } else traced(spark, w, meter, seconds, nproc, genS, startNs, verbRep _)
        None
      } catch { case e: Exception => Some(failure(e)) }

    val c0 = System.nanoTime()
    verbError match {
      case Some(e) => failures += s"verb call failed: $e"
      case None => failures ++= w.finalCheck(spark)
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    if (failures.nonEmpty) failed += w.inputRows
    val attempted = w.inputRows * (repS.length + (if (verbError.isDefined) 1 else 0))
    val conditions = jsonObj(Seq(
      "workload" -> s""""$name"""", "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> nproc.toString, "load_avg_start" -> num(load0),
      "load_avg_end" -> num(os.getSystemLoadAverage), "input_rows" -> w.inputRows.toString,
      "input_splits" -> splits.toString, "input_files" -> w.files.toString,
      "warmup_reps_discarded" -> w.warmups.toString, "warmup_s" -> warmupS.map(num).mkString("[", ",", "]"),
      "verb_reps" -> repS.length.toString, "verb_s" -> repS.map(num).mkString("[", ",", "]"),
      "jvm_s" -> num((mainNs - startNs) / 1e9), "session_s" -> num((sessionNs - startNs) / 1e9),
      "cpu_steal_frac" -> num(stealFrac(stat0, cpuStat())),
      "host_probe_ms_start" -> num(probe0), "host_probe_ms_end" -> num(hostProbeMs()),
      "gen_s" -> num(genS),
      "check_s" -> num(checkS), "failed_frac" -> num(failed.toDouble / attempted),
      "java" -> s""""${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"""",
      "spark" -> s""""$SPARK_VERSION"""",
      "ansi" -> spark.conf.get("spark.sql.ansi.enabled"),
      "check_failures" -> failures.map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")))
    println(s"""{"conditions":$conditions}""")
    val out = new PrintWriter(new File(work, "conditions.json"))
    try out.println(conditions) finally out.close()
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val correct = failures.isEmpty && failed == 0
    val ms = metrics.map { case (k, v, u) => k -> s"""{"value":${num(v)},"unit":"$u"}""" }
    println(jsonObj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> jsonObj(ms))))
    correct
  }

  /** The traced run: rounds of [untraced verb, traced verb, cut 1, cut 2];
    * layer self times are per-round differences of the cumulative cuts. */
  private def traced(spark: SparkSession, w: Workload, meter: StageMeter, seconds: Double,
      nproc: Int, genS: Double, startNs: Long, verbRep: () => Timing)
      : Seq[(String, Double, String)] = {
    val spans = new Spans(System.nanoTime() - (epochNs() - startNs))
    val engine = new EngineMeter
    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      if (on) {
        spark.sparkContext.addSparkListener(engine)
        spark.listenerManager.register(engine)
      } else {
        spark.sparkContext.removeSparkListener(engine)
        spark.listenerManager.unregister(engine)
      }
      tracing = on
    }
    val cuts = w.cuts(spark)
    val untraced, verb, cut1, cut2, util = scala.collection.mutable.ArrayBuffer.empty[Double]
    val samples = scala.collection.mutable.ArrayBuffer.empty[EngineSample]
    var parseErrors, failedBatches = 0L
    heapPools.foreach(_.resetPeakUsage())
    var round = 0
    while ((untraced.sum + verb.sum + cut1.sum + cut2.sum) < seconds || round < MinRounds) {
      val root = spans.root("round", round)
      def tracedVerb(): Unit = {
        setTracing(true)
        engine.reset()
        val t = verbRep()
        spans.add("verb", root, round, t)
        verb += t.wall
        val e = engine.sample()
        samples += e
        util += e.taskRunS / (t.wall * nproc)
        parseErrors = meter.acc("parseErrors")
        failedBatches = math.max(failedBatches, meter.acc("jdbcFailedBatches"))
      }
      def plainVerb(): Unit = {
        setTracing(false)
        val t = verbRep()
        spans.add("verb.untraced", root, round, t)
        untraced += t.wall
      }
      // alternate which verb call goes first so neither always follows the cuts
      if (round % 2 == 0) { plainVerb(); tracedVerb() } else { tracedVerb(); plainVerb() }
      setTracing(true)
      Seq(cut1 -> cuts(0), cut2 -> cuts(1)).foreach { case (buf, (cutName, cut)) =>
        val t = timed(spark, meter)(cut())
        spans.add(s"cut:$cutName", root, round, t)
        buf += t.wall
      }
      setTracing(false)
      spans.close(root)
      round += 1
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val out = new PrintWriter(new File(w.work, "trace-spans.json"))
    try out.print(spans.toJson) finally out.close()

    val idx = verb.indices
    val self = Seq(median(cut1.toSeq), median(idx.map(i => cut2(i) - cut1(i))),
      median(idx.map(i => verb(i) - cut2(i))))
    val layerTimes = Seq("csv.parse_s", "infer.self_s", "sink.self_s",
      "scan.self_s", "render.self_s", "export.self_s").map { n =>
      val i = w.layers.indexOf(n)
      (n, if (i >= 0) self(i) else 0.0, "s")
    }
    def med(f: EngineSample => Double) = median(samples.map(f).toSeq)
    layerTimes ++ Seq(
      ("sink.failed_batches", failedBatches.toDouble, "count"),
      ("sink.out_bytes_per_in_byte", w.outBytesPerInByte(spark), "ratio"),
      ("csv.parse_errors", parseErrors.toDouble, "count"),
      ("scan.rows_skipped", w.rowsSkipped.toDouble, "count"),
      ("engine.plan_ms", med(_.planMs.toDouble), "ms"),
      ("engine.jobs", med(_.jobs.toDouble), "count"),
      ("engine.stages", med(_.stages.toDouble), "count"),
      ("engine.tasks", med(_.tasks.toDouble), "count"),
      ("engine.input_splits", med(_.inputSplits.toDouble), "count"),
      ("engine.task_run_s", med(_.taskRunS), "s"),
      ("engine.task_cpu_s", med(_.taskCpuS), "s"),
      ("engine.gc_s", med(_.gcS), "s"),
      ("engine.slot_util", median(util.toSeq), "ratio"),
      ("engine.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble), "bytes"),
      ("engine.spill_bytes", med(_.spillBytes.toDouble), "bytes"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("gen_s", genS, "s"),
      ("trace.overhead_frac", 1.0 - median(untraced.toSeq) / median(verb.toSeq), "ratio"))
  }

  /** Each check must pass on a clean verb output and fail on each planted
    * defect. */
  def selfTest(spark: SparkSession, work: File, nproc: Int): Boolean = {
    val results = Workload.names.flatMap { name =>
      val dir = new File(work, name)
      val w = Workload(name, dir, nproc)
      val meter = new StageMeter
      spark.sparkContext.addSparkListener(meter)
      w.generate(spark, 7L, SelfTestRows)
      val verbError =
        try { timed(spark, meter)(w.verb(spark)); None }
        catch { case e: Exception => Some(failure(e)) }
      val problems = verbError.map(e => Seq(s"verb call failed: $e")).getOrElse(
        (if (w.repFailed(spark, meter) != 0) Seq("rows unaccounted for") else Nil) ++
          w.finalCheck(spark))
      spark.sparkContext.removeSparkListener(meter)
      println(s"self-test $name clean output: " +
        (if (problems.isEmpty) "passes" else s"FAILS (${problems.mkString("; ")})"))
      if (verbError.isDefined) Seq(false)
      else (problems.isEmpty) +: w.defects(spark).map { case (defect, check) =>
        val caught = check()
        println(s"self-test $name $defect: " +
          (if (caught.nonEmpty) s"caught (${caught.mkString("; ")})" else "NOT CAUGHT"))
        caught.nonEmpty
      }
    }
    val probe = overflowProbe(spark, new File(work, "overflow-probe"), nproc)
    println("self-test program probe, int64-overflow digit strings fall through to rule 7: " +
      (if (probe.isEmpty) "passes" else s"FAILS (${probe.mkString("; ")})"))
    val ok = results.forall(identity) && probe.isEmpty
    println(if (ok) "self-test: every check passes clean output and catches its planted defects"
      else "self-test: FAILED")
    ok
  }

  /** The write-compat verb on cells that overflow int64, which the timed
    * input leaves out: each must come back as the same digits tagged
    * string. Returns the failures. */
  def overflowProbe(spark: SparkSession, dir: File, nproc: Int): Seq[String] = {
    val in = new File(dir, "in")
    val out = new File(dir, "out").getPath
    val exp = Gen.overflowProbe(in, nproc, SelfTestRows.toInt, 7L)
    try {
      graft.Cli.run(Array("write", "t", "v", "--in", in.getPath, "--out", out,
        "--num-processes", nproc.toString), spark)
      Checks.compat(spark.read.parquet(out), exp)
    } catch { case e: Exception => Seq(s"verb call failed: ${failure(e)}") }
  }
}
