package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every entry point —
  * Bench, Verify, the tools, the specs and the CLI verbs — takes its
  * session from here, so the engine confs live in one list and one
  * core-count rule sets the width.
  *
  * Width: `SPARK_GRAFT_CPUS` if set, else `Runtime.availableProcessors`
  * (`local[width]`, `width` shuffle partitions). The test profile runs
  * at the fixed [[TestWidth]] instead.
  *
  * Profiles (engine confs = [[confs]]; `bench` is the reference map):
  *
  *  | profile | width     | engine confs                    | log level |
  *  |---------|-----------|---------------------------------|-----------|
  *  | bench   | core rule | the full list                   | WARN      |
  *  | verify  | core rule | same as bench                   | WARN      |
  *  | tool    | core rule | same as bench                   | ERROR     |
  *  | test    | 4         | bench minus the AQE start width | ERROR     |
  *
  * [[departures]] names, per profile, the conf keys in which it differs
  * from `bench` at the same width; a spec pins that nothing else does.
  * Every profile also caps the state-store logger at ERROR, so a
  * maintenance-thread WARN cannot land after Bench's contract line.
  * Bench alone sets the `graft.q51.digest=off` system property (see
  * Bench) — a query knob for timing passes, not a session conf.
  *
  * The CLI verbs use [[verb]] instead: width, UTC and app name only, no
  * engine conf — Spark's default session mode, the one the verb
  * benchmark measures. */
object Session {

  sealed abstract class Profile(val logLevel: String)
  object Profile {
    case object Bench extends Profile("WARN")
    case object Verify extends Profile("WARN")
    case object Tool extends Profile("ERROR")
    case object Test extends Profile("ERROR")
  }

  /** Width of the test profile: fixed, so specs see one partition layout
    * on every machine. */
  val TestWidth = 4

  val InitialPartitionNum = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Conf keys in which each profile departs from `bench` at equal
    * width. The test profile has no SF dir to size the AQE start width
    * from, so it leaves that key at Spark's default. */
  val departures: Map[Profile, Set[String]] = Map(
    Profile.Bench -> Set.empty,
    Profile.Verify -> Set.empty,
    Profile.Tool -> Set.empty,
    Profile.Test -> Set(InitialPartitionNum))

  /** Session width: `SPARK_GRAFT_CPUS` if set, else every core the JVM
    * sees. */
  def width: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine confs of `profile` at `width` over `sfDir`. */
  def confs(profile: Profile, width: Int, sfDir: String): Map[String, String] = {
    val engine = base(width) ++ Map(
      // sketch aggregates (TypedImperativeAggregate) carry ~256B buffers;
      // the 128-group sort-fallback default defeats them
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
      // gate SFs carry tiny streaming state -> the measured small-state
      // knee (r9: q57 8.9->3.2 s at 32->8 state partitions); the library
      // default stays the session width, which is the scale-safe choice
      "graft.stream.parts" -> graft.ops.Pipelines.StreamParts.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // RocksDB state store: the r9 A/B (probe_statestore_r9.txt) had it
      // faster on every streaming face (q57/q103/q108/q111 total
      // 21.6 -> 20.3 s at sf0.1); at real state sizes the gap widens —
      // incremental snapshots vs HDFSBacked's full-map rewrite per commit
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // r18: changelog checkpointing commits the batch's CHANGELOG instead
      // of a full RocksDB snapshot per store per batch. Two sf1
      // interleaved A/Bs read it equal or faster on every stateful face
      // (q57 −6%, q121 −7%, q108 −14% warm-min; q103/q192 flat), and the
      // saving grows with state size. Checkpoint format only; results
      // and receipts are byte-identical.
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      // r15: the state-store maintenance thread fired at shutdown, after
      // Bench's contract line, and its WARN stack ate the driver's stdout
      // tail. The interval moves past any bench duration (and the logger
      // cap in `build` catches a stray fire).
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
      "spark.ui.enabled" -> "false")
    profile match {
      case Profile.Test => engine
      // AQE start width sized to the input volume: decade corpora get
      // the 256-wide start that fixed the r10 sf30/sf100 spill
      // superlinearity, gate SFs keep the session width (a flat 256 was
      // a measured ~1.5-2x tax on the LSH family at sf0.1, r11)
      case _ => engine + (InitialPartitionNum ->
        Tables.aqeInitialPartitions(sfDir, width).toString)
    }
  }

  def bench(sfDir: String): SparkSession = build(Profile.Bench, width, sfDir)
  def verify(sfDir: String): SparkSession = build(Profile.Verify, width, sfDir)
  def tool(sfDir: String): SparkSession = build(Profile.Tool, width, sfDir)
  def test(appName: String): SparkSession =
    build(Profile.Test, TestWidth, "", Some(appName))

  /** The verb session of `graft.Cli`: `SPARK_MASTER` or `local[width]`,
    * the base confs (width, UTC) and no engine conf. */
  def verb(width: Int, appName: String): SparkSession =
    open(sys.env.getOrElse("SPARK_MASTER", s"local[$width]"), Some(appName), base(width))

  /** Confs every session carries, the verb session included. */
  private def base(width: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> width.toString,
    "spark.sql.session.timeZone" -> "UTC")

  private def build(profile: Profile, width: Int, sfDir: String,
      appName: Option[String] = None): SparkSession = {
    val spark = open(s"local[$width]", appName, confs(profile, width, sfDir))
    spark.sparkContext.setLogLevel(profile.logLevel)
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state",
      org.apache.logging.log4j.Level.ERROR)
    catch { case e: Throwable =>
      System.err.println(s"[session] log4j level set failed: ${e.getMessage}") }
    spark
  }

  private def open(master: String, appName: Option[String],
      confs: Map[String, String]): SparkSession = {
    val b = SparkSession.builder().master(master)
    appName.foreach(b.appName)
    confs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
