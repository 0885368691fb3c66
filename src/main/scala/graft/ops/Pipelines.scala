package graft.ops

import graft.{CopyConfig, Scratch, Tables}
import graft.infer.TypeInference
import graft.pipeline.{CopyRead, CopyWrite}
import graft.ops.Similarity.{centCte, fixedGrid, quantizeCtes, routed}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Query-surface entries that exercise the reference's two verbs — the
  * inference cascade and the CSV round-trip — over harness tables, so the
  * correctness gate covers the compat core, not just the relational ops.
  */
object Pipelines {

  private val cfg = CopyConfig()

  /** Runs independent driver-side jobs on a pool of `threads`, waits
    * for all of them and returns their values in submission order. On
    * the first failure, in completion order, the siblings are stopped
    * before the failure is rethrown: their Spark jobs are cancelled by a
    * per-call job tag, their threads interrupted (`shutdownNow`) and
    * awaited, so none is still writing under a base directory the
    * caller already treats as failed. */
  private[graft] def runConcurrently[A](s: SparkSession, threads: Int)(
      jobs: Seq[() => A]): Seq[A] = {
    import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    val sc = s.sparkContext
    val tag = s"graft-pool-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(threads)
    val done = new ExecutorCompletionService[(Int, A)](pool)
    try {
      jobs.zipWithIndex.foreach { case (job, i) =>
        done.submit(new Callable[(Int, A)] {
          def call(): (Int, A) = {
            sc.addJobTag(tag)
            try (i, job()) finally sc.removeJobTag(tag)
          }
        })
      }
      val values = jobs.map(_ => done.take().get()).toMap
      jobs.indices.map(values)
    } catch {
      case t: Throwable =>
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        pool.awaitTermination(10, TimeUnit.MINUTES)
        throw (t match {
          case e: ExecutionException if e.getCause != null => e.getCause
          case other => other
        })
    } finally pool.shutdown()
  }

  /** Writes each of `waves` as one file into `base/stage_w<i>`, on one
    * [[runConcurrently]] pool with the independent `alongside` jobs,
    * then moves them into `base/in` through [[Scratch.stageWaves]].
    * Returns the `in` dir: a file stream source over it with
    * `maxFilesPerTrigger = k` sees waves `k·b … k·b+k−1` in micro-batch
    * `b`. */
  private[graft] def deliverWaves(s: SparkSession, base: String,
      waves: Seq[DataFrame], alongside: Seq[() => Unit] = Nil): String = {
    val stages = waves.indices.map(i => s"$base/stage_w$i")
    val writes = stages.zipWithIndex.map { case (stage, i) => () =>
      s.sparkContext.setJobDescription(s"wave $i of $base")
      waves(i).coalesce(1).write.mode("overwrite").parquet(stage)
    }
    val jobs = alongside ++ writes
    runConcurrently(s, math.min(jobs.size, 4))(jobs) // q149's four setup jobs at once
    val in = s"$base/in"
    Scratch.stageWaves(
      new Path(in).getFileSystem(s.sparkContext.hadoopConfiguration), stages, in)
    in
  }

  /** The per-batch dirs `base/stage/<prefix>*` a foreachBatch face
    * staged, read as one table. The dirs are listed, not globbed in the
    * read: a glob path is probed for streaming-sink metadata and logs a
    * benign stack trace. No dir means no micro-batch ever committed —
    * empty input or a silently failed stream — which fails loudly. */
  private def readStaged(s: SparkSession, base: String, prefix: String): DataFrame = {
    val pattern = new Path(s"$base/stage/$prefix*")
    val dirs = pattern.getFileSystem(s.sparkContext.hadoopConfiguration)
      .globStatus(pattern).map(_.getPath.toString).sorted
    require(dirs.nonEmpty, s"$base: the stream staged no $prefix* batches — " +
      "empty input or a silently failed stream")
    s.read.parquet(dirs.toIndexedSeq: _*)
  }

  /** The per-batch dirs `base/stage/b_<i>` with `i ≤ batchId` that a
    * foreachBatch face has staged, keyed by batch id: the arrival
    * record a batch re-derives its prefix from. */
  private def stagedPrefix(bs: SparkSession, base: String,
      batchId: Long): Seq[(Long, String)] = {
    val fs = new Path(base).getFileSystem(bs.sparkContext.hadoopConfiguration)
    (0L to batchId).map(i => (i, s"$base/stage/b_$i"))
      .filter { case (_, p) => fs.exists(new Path(p)) }
  }

  /** State-partition width for the STATEFUL streaming faces, set via
    * `graft.stream.parts`. A streaming query pays a per-partition
    * state-store commit EVERY micro-batch, so the width must be sized
    * to state VOLUME — and that is a deployment fact, not a library
    * guess, so the DEFAULT is the session's own shuffle width (scale-
    * safe) and the knob is opt-in where the caller knows its state is
    * small. The r9 A/B (probe_r9b.txt annex; re-run it as
    * `ConfAB <sf> <rounds> graft.stream.parts=N <query>...`) measured
    * the knee MOVING with state size: at sf0.1 (tiny state) 8 wins —
    * q57 8.9→3.2 s, q103 8.8→5.4 s — so the [[graft.Session]]
    * profiles set `graft.stream.parts=8`; at sf30 (4.5M-key CDC state,
    * two-sided join state) 16–32 wins — q103 160 s @16 vs 219 s @8,
    * q108 44 s @32 vs 130 s @8 — so the library default (conf unset)
    * stays the session width. */
  private[graft] val StreamParts = 8 // measured small-state knee (the Session profiles opt in)

  /** Streaming-face completion deadline. MUST be generous and MUST fail
    * loud: `awaitTermination(timeout)` returns `false` on expiry with
    * the query STILL RUNNING, and the original 120 s deadline silently
    * did exactly that on q103 at sf30 (the face then aggregated a
    * half-written sink while the stream kept writing, and the next
    * run's scratch cleanup raced the live query into
    * TASK_WRITE_FAILED — caught by the r9 partition probe). */
  private val StreamTimeoutMs = 1800000L

  /** Run a streaming query with the session's shuffle-partition conf
    * (which fixes a NEW query's state-partition count at first
    * checkpoint) temporarily set to the streaming width, restoring the
    * batch width afterwards. Throws if the query misses the deadline —
    * a face must never read its sink under a live writer. */
  private def runStream(s: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, s.conf.getOption("graft.stream.parts").getOrElse(prev))
    try {
      val q = start
      if (!q.awaitTermination(StreamTimeoutMs)) {
        q.stop()
        throw new IllegalStateException(
          s"streaming face still running after $StreamTimeoutMs ms")
      }
    } finally s.conf.set(key, prev)
  }

  /** The 7-rule cascade (SURVEY.md §1.3) applied to strings constructed
    * deterministically from orders — every rule exercised, oracle-checked
    * against an identical CASE cascade in DuckDB. Timestamps surface as
    * epoch seconds so the comparison is timezone-representation-proof. */
  def inferCascade(s: SparkSession, d: String): DataFrame = {
    val src = Tables.orders(s, d).select(
      col("o_orderkey"),
      (col("o_orderkey") % 7).cast("int").as("kind"))
    val str = when(col("kind") === 0, "true")
      .when(col("kind") === 1, "false")
      .when(col("kind") === 2, "NULL")
      .when(col("kind") === 3, col("o_orderkey").cast(StringType))
      .when(col("kind") === 4, "2024-01-02 03:04:05+0000")
      .when(col("kind") === 5, "3.14")
      .otherwise("hello world")
    val cell = TypeInference.Exprs.cell(str, lit(false), cfg)
    src.select(col("o_orderkey"), cell.as("c"))
      .select(
        col("o_orderkey"),
        col("c.tag").as("tag"),
        col("c.s").as("s_val"),
        col("c.b").as("b_val"),
        col("c.l").as("l_val"),
        unix_timestamp(col("c.t")).as("ts_epoch"))
      .orderBy(col("o_orderkey"))
  }

  val inferCascadeSql: String =
    """WITH src AS (
      |  SELECT o_orderkey,
      |    CASE CAST(o_orderkey % 7 AS INT)
      |      WHEN 0 THEN 'true' WHEN 1 THEN 'false' WHEN 2 THEN 'NULL'
      |      WHEN 3 THEN CAST(o_orderkey AS VARCHAR)
      |      WHEN 4 THEN '2024-01-02 03:04:05+0000'
      |      WHEN 5 THEN '3.14' ELSE 'hello world' END AS s
      |  FROM orders),
      | tagged AS (
      |  SELECT o_orderkey, s,
      |    CASE WHEN s = 'false' THEN 'bool' WHEN s = 'true' THEN 'bool'
      |         WHEN s = 'NULL' THEN 'null'
      |         WHEN try_strptime(s, '%Y-%m-%d %H:%M:%S%z') IS NOT NULL THEN 'ts'
      |         WHEN regexp_matches(s, '^[+-]?[0-9]+$')
      |              AND TRY_CAST(s AS BIGINT) IS NOT NULL THEN 'long'
      |         ELSE 'string' END AS tag
      |  FROM src)
      |SELECT o_orderkey, tag,
      |  CASE WHEN tag = 'string' THEN s END AS s_val,
      |  CASE WHEN tag = 'bool' THEN s = 'true' END AS b_val,
      |  CASE WHEN tag = 'long' THEN CAST(s AS BIGINT) END AS l_val,
      |  CASE WHEN tag = 'ts' THEN CAST(floor(epoch(try_strptime(s, '%Y-%m-%d %H:%M:%S%z'))) AS BIGINT)
      |  END AS ts_epoch
      |FROM tagged ORDER BY o_orderkey""".stripMargin

  /** The cascade WITH the double extension (rule 5.5, `withDoubles=true`):
    * same construction as [[inferCascade]], but "3.14" now tags `double`
    * with its value in the `d` slot — while q50 (strict compat) keeps it
    * a string, byte-identical to the reference's behavior. Both are
    * oracle-checked, so the mode switch itself is verified. */
  def doubleCascade(s: SparkSession, d: String): DataFrame = {
    val cfgD = cfg.copy(withDoubles = true)
    val src = Tables.orders(s, d).select(
      col("o_orderkey"),
      (col("o_orderkey") % 7).cast("int").as("kind"))
    val str = when(col("kind") === 0, "true")
      .when(col("kind") === 1, "false")
      .when(col("kind") === 2, "NULL")
      .when(col("kind") === 3, col("o_orderkey").cast(StringType))
      .when(col("kind") === 4, "2024-01-02 03:04:05+0000")
      .when(col("kind") === 5, "3.14")
      .otherwise("hello world")
    val cell = TypeInference.Exprs.cell(str, lit(false), cfgD)
    src.select(col("o_orderkey"), cell.as("c"))
      .select(
        col("o_orderkey"),
        col("c.tag").as("tag"),
        col("c.s").as("s_val"),
        col("c.l").as("l_val"),
        col("c.d").as("d_val"))
      .orderBy(col("o_orderkey"))
  }

  val doubleCascadeSql: String =
    """WITH src AS (
      |  SELECT o_orderkey,
      |    CASE CAST(o_orderkey % 7 AS INT)
      |      WHEN 0 THEN 'true' WHEN 1 THEN 'false' WHEN 2 THEN 'NULL'
      |      WHEN 3 THEN CAST(o_orderkey AS VARCHAR)
      |      WHEN 4 THEN '2024-01-02 03:04:05+0000'
      |      WHEN 5 THEN '3.14' ELSE 'hello world' END AS s
      |  FROM orders),
      | tagged AS (
      |  SELECT o_orderkey, s,
      |    CASE WHEN s = 'false' THEN 'bool' WHEN s = 'true' THEN 'bool'
      |         WHEN s = 'NULL' THEN 'null'
      |         WHEN try_strptime(s, '%Y-%m-%d %H:%M:%S%z') IS NOT NULL THEN 'ts'
      |         WHEN regexp_matches(s, '^[+-]?[0-9]+$')
      |              AND TRY_CAST(s AS BIGINT) IS NOT NULL THEN 'long'
      |         WHEN NOT regexp_matches(s, '^[+-]?[0-9]+$')
      |              AND regexp_matches(s, '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$')
      |              AND TRY_CAST(s AS DOUBLE) IS NOT NULL THEN 'double'
      |         ELSE 'string' END AS tag
      |  FROM src)
      |SELECT o_orderkey, tag,
      |  CASE WHEN tag = 'string' THEN s END AS s_val,
      |  CASE WHEN tag = 'long' THEN CAST(s AS BIGINT) END AS l_val,
      |  CASE WHEN tag = 'double' THEN CAST(s AS DOUBLE) END AS d_val
      |FROM tagged ORDER BY o_orderkey""".stripMargin

  /** q51's artifact dir name, keyed by sf dir: a Bench run at another SF
    * between Verify and the driver's DuckDB pass writes a DIFFERENT dir,
    * so it cannot clobber the artifact the oracle is about to read. */
  def q51ArtifactName(d: String): String =
    s"roundtrip_q51_${d.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Full write→read round-trip through real files: lineitem → typed CSV
    * (CopyRead rendering) → CopyWrite parse + schema'd inference → compare.
    *
    * ORACLE-CHECKED since r7 (was rows-only): the engine emits SOURCE-side
    * ground truth — count, key sum, and an md5-based content digest
    * computed straight off the parquet source — while the DuckDB oracle
    * recomputes key sum and digest by PARSING THE CSV ARTIFACT this query
    * wrote (`read_csv` over the same files; Verify substitutes the
    * absolute path at dump time). The two sides agree iff the written CSV
    * faithfully encodes the source — a corrupted render, quote, null, or
    * timestamp surfaces as a hash mismatch, because the oracle consumes
    * the artifact and the engine consumes the source. Since r8 the
    * oracle no longer races later q51 re-runs: Verify SNAPSHOTS the part
    * files into its own outDir at dump time and substitutes that path,
    * so Bench/probe re-runs rewriting the scratch dir can't clobber what
    * DuckDB reads. The internal write→read comparison (xxhash signature
    * over the read-back path) still runs and THROWS on mismatch, so the
    * engine's own parse path stays asserted too. */
  /** Default ON so every ad-hoc/Verify run emits the full oracle face;
    * Bench opts out with `-Dgraft.q51.digest=off` (r8 interleaved A/B,
    * `probe_ab_r8.txt`: the fused digest costs 0.52 s median / 0.57 s
    * min at sf0.1 — real cost, only needed when DuckDB will replay it). */
  def q51DigestEnabled: Boolean = !sys.props.get("graft.q51.digest").contains("off")

  def csvRoundtrip(s: SparkSession, d: String): DataFrame =
    csvRoundtripImpl(s, d, withDigest = q51DigestEnabled)

  /** [[csvRoundtrip]] with the oracle-digest aggregates switchable — the
    * r8 A/B knob that priced the fused md5 digest (key_sum + 40-bit md5
    * row digest on the source scan). `withDigest=false` emits zeros for
    * those two columns and measures the bare round-trip. */
  private[graft] def csvRoundtripImpl(s: SparkSession, d: String,
      withDigest: Boolean): DataFrame = {
    val tmp = Scratch.fresh(q51ArtifactName(d))
    val src = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
        col("l_returnflag"), col("l_shipdate").cast(TimestampType).as("l_shipdate"),
        col("l_quantity"))
    // one parquet file in = one partition; fan out so the CSV write AND
    // the read-back parse both run on all cores. Width = the session's
    // default parallelism, not a constant 32 (r18, VERDICT r17 item 6 /
    // guide §6): at local[32] this is the identical plan, on a cluster
    // the write side scales with the executors instead of being pinned
    // to one node's worth of tasks.
    CopyRead.run(s, src.repartition(s.sparkContext.defaultParallelism),
      src.columns.toSeq, "l_orderkey", cfg, tmp)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", LongType),
      StructField("l_returnflag", StringType), StructField("l_shipdate", TimestampType),
      StructField("l_quantity", DoubleType)))
    val (typed, errs) = CopyWrite.read(s, tmp, schema.fieldNames.toSeq, cfg, Some(schema))
    // order-insensitive multiset compare, ONE action per side: count +
    // sum of per-row 64-bit hashes (collision odds ~2^-64; the gate only
    // needs equal-or-not, ScalaTest asserts 0). decimal(38) accumulator —
    // a long sum of 64-bit hashes would overflow-throw under ANSI mode.
    // cross-engine content digest over the SOURCE (the oracle computes the
    // same digest from the CSV artifact): 40-bit md5 prefix per row keeps
    // the modded sum far from long overflow at any probe SF
    val rowStr = concat_ws("|",
      col("l_orderkey").cast(StringType), col("l_linenumber").cast(StringType),
      col("l_returnflag"), unix_timestamp(col("l_shipdate")).cast(StringType),
      col("l_quantity").cast(LongType).cast(StringType))
    val hv = conv(substring(md5(rowStr), 1, 10), 16, 10).cast(LongType) % 1000000007L
    // ONE action per side: count + xxhash signature (+ key_sum and the
    // oracle digest fused into the source pass — each side is scanned
    // exactly once). decimal(38) accumulator for the signature — a long
    // sum of 64-bit hashes would overflow-throw under ANSI mode.
    def signature(df: org.apache.spark.sql.DataFrame, withDigest: Boolean) = {
      val cols = df.columns.map(col)
      val sig = sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)))
      val aggs =
        if (withDigest) Seq(sig, sum(col("l_orderkey")), sum(hv))
        else Seq(sig)
      df.agg(count(lit(1)), aggs: _*).head
    }
    val srcRow = signature(src, withDigest)
    val backRow = signature(typed, withDigest = false)
    errs.check()
    val (nSrc, srcSig) = (srcRow.getLong(0), srcRow.getDecimal(1))
    val (nBack, backSig) = (backRow.getLong(0), backRow.getDecimal(1))
    require(nSrc == nBack && srcSig.compareTo(backSig) == 0,
      s"csv round-trip mismatch: src=($nSrc, $srcSig) back=($nBack, $backSig)")
    val (keySum, digest) =
      if (withDigest) (srcRow.getLong(2), srcRow.getLong(3)) else (0L, 0L)
    import s.implicits._
    Seq((nSrc, nBack, keySum, digest))
      .toDF("n_source", "n_roundtrip", "key_sum", "digest")
  }

  /** Oracle for q51 — see [[csvRoundtrip]]. `__Q51_ARTIFACT__` is replaced
    * by Verify with the artifact's absolute path at oracle-dump time. */
  val csvRoundtripSql: String =
    """WITH back AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |    CAST(floor(epoch(try_strptime(l_shipdate, '%Y-%m-%d %H:%M:%S%z'))) AS BIGINT) AS ship_epoch,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM read_csv('__Q51_ARTIFACT__/part-*', header=false, delim=',',
      |    quote='"', escape='"', nullstr='NULL',
      |    columns={'l_orderkey':'BIGINT','l_linenumber':'BIGINT',
      |             'l_returnflag':'VARCHAR','l_shipdate':'VARCHAR',
      |             'l_quantity':'DOUBLE'})),
      | dig AS (
      |  SELECT count(*) AS n_roundtrip,
      |    CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      |    CAST(sum(CAST('0x' || substr(md5(concat_ws('|',
      |        CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
      |        l_returnflag, CAST(ship_epoch AS VARCHAR),
      |        CAST(qty AS VARCHAR))), 1, 10) AS BIGINT) % 1000000007)
      |      AS BIGINT) AS digest
      |  FROM back)
      |SELECT (SELECT count(*) FROM lineitem) AS n_source,
      |  n_roundtrip, key_sum, digest
      |FROM dig""".stripMargin

  /** q204's artifact dir, keyed by sf dir (the q51 rule: a Bench run at
    * another SF between Verify and the driver's DuckDB pass writes a
    * DIFFERENT dir and cannot clobber what the oracle reads). */
  def q204ArtifactName(d: String): String =
    s"jsonl_q204_${d.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** JSONL (newline-delimited JSON) sink + re-read round-trip — the
    * interchange format every LLM-data pipeline actually ships beside
    * parquet. Where the reference's CSV sink must hand-build framing
    * with typed quoting (`read.go:181-186`), JSONL gets framing from
    * the format itself: the writer escapes every control character, so
    * one record per line survives embedded newlines/tabs — which is
    * exactly what the planted canaries prove (negative doc_ids, the
    * q157/q187 disjoint-canary convention): a quote/backslash row, a
    * tab+newline+CR row, and a multi-byte row (accented latin, CJK, an
    * astral-plane emoji).
    *
    * The face writes a doc subset + canaries as JSONL, re-reads the
    * artifact with a declared schema, and emits per-row null-safe
    * value-match flags plus md5(text) — the md5 makes the check
    * CROSS-ENGINE: the DuckDB oracle parses the SAME artifact files
    * (path substituted by Verify at dump time, the q51 snapshot rule)
    * against its own canary literals, so a writer escape bug, a parser
    * bug, or a canary literal drift on either side lands as a hash
    * mismatch, not a silent pass.
    *
    * Scale: the subset filter and the join are doc_id-keyed and linear;
    * the `coalesce(1)` exists ONLY so the artifact is one deterministic
    * file for the oracle glob — a production JSONL export keeps the
    * session's write parallelism (every part file is independently
    * valid JSONL, exactly like the CSV sink's part files). */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tmp = Scratch.fresh(q204ArtifactName(d))
    val subset = Tables.documents(s, d).where(col("doc_id") % 11 === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val canaries = Seq(
      (-3L, "quote \" backslash \\ slash / end", "zz", "canary", 901L),
      (-2L, "tab\there newline\nhere cr\rhere", "zz", "canary", 902L),
      (-1L, "caf\u00e9 \u4e2d\u6587 \ud83d\ude00 ctlend", "zz", "canary", 903L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val all = subset.unionByName(canaries)
    all.orderBy(col("doc_id")).coalesce(1)
      .write.mode("overwrite").option("ignoreNullFields", "false").json(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val back = s.read.schema(schema).json(tmp)
    back.as("b").join(all.as("a"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("a.text") <=> col("b.text"), 1L).otherwise(0L).as("ok_text"),
        when(col("a.lang") <=> col("b.lang"), 1L).otherwise(0L).as("ok_lang"),
        when(col("a.source") <=> col("b.source"), 1L).otherwise(0L).as("ok_source"),
        when(col("a.n_chars") <=> col("b.n_chars"), 1L).otherwise(0L).as("ok_nchars"),
        md5(col("b.text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for q204 — parses the SAME JSONL artifact (path substituted
    * by Verify) and joins it against the source subset plus its own
    * canary literals. The md5 column is what forces byte-level text
    * agreement across engines. */
  val jsonlRoundtripSql: String =
    "WITH back AS (\n" +
      "  SELECT doc_id, text, lang, source, n_chars\n" +
      "  FROM read_json('__Q204_JSONL__/part-*',\n" +
      "    format='newline_delimited',\n" +
      "    columns={'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR',\n" +
      "             'source':'VARCHAR','n_chars':'BIGINT'})),\n" +
      " src AS (\n" +
      "  SELECT doc_id, text, lang, source, n_chars FROM documents\n" +
      "  WHERE doc_id % 11 = 0\n" +
      "  UNION ALL\n" +
      "  SELECT * FROM (VALUES\n" +
      "    (CAST(-3 AS BIGINT), 'quote \" backslash \\ slash / end', 'zz', 'canary', CAST(901 AS BIGINT)),\n" +
      "    (CAST(-2 AS BIGINT), 'tab\there newline\nhere cr\rhere', 'zz', 'canary', CAST(902 AS BIGINT)),\n" +
      "    (CAST(-1 AS BIGINT), 'caf\u00e9 \u4e2d\u6587 \ud83d\ude00 ctlend', 'zz', 'canary', CAST(903 AS BIGINT))\n" +
      "  ) AS t(doc_id, text, lang, source, n_chars))\n" +
      "SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,\n" +
      "  CASE WHEN a.text IS NOT DISTINCT FROM b.text THEN 1 ELSE 0 END AS ok_text,\n" +
      "  CASE WHEN a.lang IS NOT DISTINCT FROM b.lang THEN 1 ELSE 0 END AS ok_lang,\n" +
      "  CASE WHEN a.source IS NOT DISTINCT FROM b.source THEN 1 ELSE 0 END AS ok_source,\n" +
      "  CASE WHEN a.n_chars IS NOT DISTINCT FROM b.n_chars THEN 1 ELSE 0 END AS ok_nchars,\n" +
      "  md5(b.text) AS text_md5\n" +
      "FROM src a FULL OUTER JOIN back b ON a.doc_id = b.doc_id\n" +
      "ORDER BY doc_id"

  /** End-to-end through both verbs: orders → typed CSV files
    * ([[CopyRead.run]]) → the write verb's schema'd ingest
    * ([[CopyWrite.read]] with a declared schema, as q51) → range filter →
    * aggregate. Oracle: the same aggregate straight off the orders table —
    * so the render → parse → decode → filter → agg chain must be
    * value-exact. The gate id keeps its historical `dsv2` name.
    *
    * The data-derived bound comes in as a BROADCAST SCALAR (the q02
    * pattern) — no driver-side `.head` serializing scan → driver →
    * re-plan. */
  def verbIngestAgg(s: SparkSession, d: String): DataFrame = {
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    // `div`: long division to match the oracle's `//` (plain `/` is double)
    val bound = src.agg(expr("max(o_orderkey) div 2").as("bound"))
    val tmp = Scratch.fresh("dsv2agg_q53")
    CopyRead.run(s, src.repartition(8), src.columns.toSeq, "o_orderkey", cfg, tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType)))
    val (typed, _) = CopyWrite.read(s, tmp, schema.fieldNames.toSeq, cfg, Some(schema))
    typed
      .join(broadcast(bound))
      .where(col("o_orderkey") > col("bound"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val verbIngestAggSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderkey > (SELECT max(o_orderkey) // 2 FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Streaming face end-to-end inside one query: orders → CSV files →
    * readStream (AvailableNow) through the same parse/inference path →
    * checkpointed parquet sink → summary vs source. Proves the streaming
    * pipeline computes exactly what the batch verb computes.
    *
    * ORACLE-CHECKED since r7 (was rows-only): the oracle states the
    * CONTRACT — the streamed side must equal the batch side — by
    * computing BOTH column pairs from the orders table; the engine
    * reports each side as measured (source scan vs parquet sink written
    * by the streaming query). Any dropped, duplicated, or corrupted row
    * in the stream path diverges n_streamed/cents_streamed from the
    * oracle's expectation → hash mismatch. Sums are exact integer CENTS
    * (o_totalprice has 2dp by construction) so the compare is immune to
    * float summation order on either engine. */
  def streamIngestSummary(s: SparkSession, d: String): DataFrame =
    streamIngestSummaryImpl(s, d, measureSource = true)

  /** [[streamIngestSummary]] with the source-side aggregation switchable
    * — the r8 A/B knob that priced the oracle flip's second measured
    * side. `measureSource=false` emits zeros for n_source/cents_source
    * and measures only the stream path + sink aggregation. */
  private[graft] def streamIngestSummaryImpl(s: SparkSession, d: String,
      measureSource: Boolean): DataFrame = {
    val base = Scratch.fresh("stream_q54")
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    CopyRead.run(s, src.repartition(8), src.columns.toSeq, "o_orderkey", cfg, s"$base/csv")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType)))
    // stateless file ingest: no state store, keep the batch width —
    // but the same loud deadline as runStream
    val q = graft.streaming.StreamIngest.writeParquetStream(
      graft.streaming.StreamIngest.readCsvStream(s, s"$base/csv", schema, cfg),
      s"$base/out", s"$base/ckpt")
    if (!q.awaitTermination(StreamTimeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"q54 ingest stream still running after $StreamTimeoutMs ms")
    }
    val out = s.read.parquet(s"$base/out")
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    def side(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(cents)).head
      (r.getLong(0), r.getLong(1))
    }
    val (nSrc, cSrc) = if (measureSource) side(src) else (0L, 0L)
    val (nOut, cOut) = side(out)
    import s.implicits._
    Seq((nSrc, nOut, cSrc, cOut))
      .toDF("n_source", "n_streamed", "cents_source", "cents_streamed")
  }

  /** Oracle for q54 — see [[streamIngestSummary]]: the stream≡batch
    * contract, both sides computed from the source table. */
  val streamIngestSummarySql: String =
    """SELECT count(*) AS n_source, count(*) AS n_streamed,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_source,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_streamed
      |FROM orders""".stripMargin

  /** Gate face (q57) for [[graft.streaming.StreamIngest.intervalJoinStream]]
    * — the stream-stream interval join run as a REAL streaming query
    * (two file-source streams over events, symmetric-hash stateful join,
    * checkpointed parquet sink), then aggregated in batch to q46's exact
    * shape. Oracle = [[graft.ops.Temporal.signupViewWindowsSql]] — a hash
    * check, not rows-only, because completeness holds by construction:
    * events.parquet is a single file, so AvailableNow processes the whole
    * corpus in ONE micro-batch; the watermark is still at its initial 0
    * during that batch, so no state is evicted before every (signup,view)
    * pair has met. Late-data eviction — the thing the watermark exists
    * for at 100 TB — is exercised separately in StreamingSpec. */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    // shared seam with the batch face: Tables.eventsStream carries the
    // same nanos→micros ts handling as Tables.events
    def src(): DataFrame = Tables.eventsStream(s, d)
    val signups = src().where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = src().where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("rts"), col("value"))
    val base = Scratch.fresh("sij_q57")
    runStream(s) {
      graft.streaming.StreamIngest
      .intervalJoinStream(signups, views, "user_id") // [ts, ts+24h), q46's window
      .select(col("event_id"), col("value"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    s.read.parquet(s"$base/out")
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_views"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("event_id"))
  }

  /** Gate face (q108) for
    * [[graft.streaming.StreamIngest.intervalJoinStreamOuter]] — the
    * LEFT OUTER stream-stream join, q57's sixth streaming class: outer
    * emission on state eviction. Same single-pass AvailableNow harness
    * as q57; the data batch emits every matched row, then the no-data
    * batch advances the global watermark to min(max signup ts, max view
    * ts) − 1 h and the join evicts every signup whose ENTIRE match
    * window [ts, ts+24h) now lies at-or-below it, emitting the
    * null-padded outer row. Output: per-signup view count and value sum,
    * where an outer-emitted signup contributes (0, NULL) — so the gate
    * hashes BOTH the matched aggregate (q57's face) and the exact
    * outer-emission set. The oracle recomputes the eviction rule in
    * DuckDB: unmatched signups with ts + 24h ≤ watermark. A join that
    * emitted an outer row early (state bug), late (watermark bug), or
    * alongside matches (duplication bug) diverges the hash. The ≤
    * boundary is Spark's MEASURED rule, pinned at millisecond
    * granularity by OuterJoinBoundarySpec (no emission at wm =
    * ts+window−1ms, emission exactly at wm = ts+window) — a Spark
    * upgrade that shifts it reds that spec before this gate.
    *
    * Scale: identical state shape to q57 (symmetric hash join,
    * watermark-trimmed both sides); outer rows ride the existing
    * eviction pass — no extra state, no extra shuffle. */
  def streamOuterIntervalJoin(s: SparkSession, d: String): DataFrame = {
    def src(): DataFrame = Tables.eventsStream(s, d)
    val signups = src().where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    val views = src().where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("rts"), col("value"))
    val base = Scratch.fresh("soj_q108")
    runStream(s) {
      graft.streaming.StreamIngest
      .intervalJoinStreamOuter(signups, views, "user_id")
      .select(col("event_id"), col("value"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    s.read.parquet(s"$base/out")
      .groupBy(col("event_id"))
      .agg(count(col("value")).as("n_views"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("event_id"))
  }

  val streamOuterIntervalJoinSql: String =
    """WITH wm AS (SELECT least(
      |    (SELECT max(epoch_ms(ts)) FROM events WHERE event_type = 'signup'),
      |    (SELECT max(epoch_ms(ts)) FROM events WHERE event_type = 'view'))
      |    - 3600000 AS w),
      | matched AS (
      |  SELECT s.event_id, count(v.value) AS n_views, round(sum(v.value), 4) AS sum_value
      |  FROM events s
      |  JOIN events v ON v.user_id = s.user_id AND v.event_type = 'view'
      |    AND epoch_ms(v.ts) >= epoch_ms(s.ts)
      |    AND epoch_ms(v.ts) < epoch_ms(s.ts) + 86400000
      |  WHERE s.event_type = 'signup'
      |  GROUP BY s.event_id),
      | closed_unmatched AS (
      |  SELECT s.event_id, 0 AS n_views, CAST(NULL AS DOUBLE) AS sum_value
      |  FROM events s, wm
      |  WHERE s.event_type = 'signup'
      |    AND s.event_id NOT IN (SELECT event_id FROM matched)
      |    AND epoch_ms(s.ts) + 86400000 <= wm.w)
      |SELECT event_id, CAST(n_views AS BIGINT) AS n_views, sum_value FROM matched
      |UNION ALL
      |SELECT event_id, CAST(n_views AS BIGINT) AS n_views, sum_value
      |FROM closed_unmatched
      |ORDER BY event_id""".stripMargin

  /** Gate face (q111) — STREAMING Misra–Gries heavy hitters: the q104
    * sketch maintained as streaming-aggregation state across real
    * micro-batches (the 7th streaming class: sketch state). The corpus
    * arrives in three waves (doc_id mod 3, maxFilesPerTrigger=1), so the
    * MG buffer is updated in batch 1, then MERGED with the restored state
    * in batches 2 and 3 — the cross-batch path a single-batch run never
    * executes. The MG theorem is order- and merge-independent, so the
    * streamed sketch satisfies exactly the q104 contract: the gate emits
    * the same guaranteed-set flags (computed against batch-exact counts)
    * and the oracle asserts them — a sketch whose state mis-restored
    * (lost counts, doubled counts, dropped keys) breaks
    * underestimate/bound/found and reds the hash. n_total rides the same
    * streaming state (a second agg buffer), so a dropped batch reds the
    * count parity too.
    *
    * Scale: state = ONE bounded MG buffer (≤ cap entries) + a long —
    * constant regardless of stream length; each micro-batch shuffles
    * tasks×cap partial entries, the q104 argument per batch. */
  /** Where [[streamHeavyHitters]] stages its delivery files — exposed for
    * the q111 spec's multi-batch assertion so the test doesn't re-derive
    * Scratch.fresh's layout (a rename here updates both sides). */
  private[graft] def streamHeavyHittersInputDir: java.io.File =
    new java.io.File(Scratch.path(s"$ShhName/in"))
  private val ShhName = "shh_q111"

  def streamHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val cap = 64
    val base = Scratch.fresh(ShhName)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val in = deliverWaves(s, base,
      (0 until 3).map(i => docs.where(pmod(col("doc_id"), lit(3)) === i)))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    runStream(s) {
      stream
      .select(explode(graft.ops.TextAnalysis.words(col("text"))).as("word"))
      .agg(graft.functions.MgAgg.mgSketch(col("word"), cap).as("sk"),
        count(lit(1)).as("n_total"))
      .writeStream.format("memory").queryName("shh_q111_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    // complete mode: the memory table holds the LATEST full result (one
    // row: the cross-batch sketch + stream-total count)
    val fin = s.table("shh_q111_out").cache()
    val entries = fin.select(explode(col("sk")).as(Seq("word", "est")))
    val toks = docs.select(explode(graft.ops.TextAnalysis.words(col("text"))).as("word"))
    val exact = toks.groupBy(col("word")).agg(count(lit(1)).as("n_true"))
    exact.crossJoin(broadcast(fin.select(col("n_total"))))
      .where(col("n_true") * (cap + 1) > col("n_total"))
      .join(entries, Seq("word"), "left")
      .select(col("word"), col("n_true"), col("n_total"),
        col("est").isNotNull.as("found"),
        coalesce(col("est") <= col("n_true"), lit(false)).as("le_true"),
        coalesce(col("est") * (cap + 1) + col("n_total") >=
          col("n_true") * (cap + 1), lit(false)).as("ge_lower"))
      .orderBy(col("n_true").desc, col("word"))
  }

  /** Oracle for q111: identical contract to q104 — the guaranteed set
    * and N recomputed from scratch; the STREAMED sketch must satisfy the
    * same theorem flags the batch sketch does (state restore is just
    * another merge order). */
  val streamHeavyHittersSql: String = graft.ops.Relational.mgHeavyHittersSql

  /** Streaming parquet source over the single events file (q57's trick);
    * delegates to [[graft.Tables.eventsStream]] so ts normalization has
    * exactly one definition shared with the batch loader. */
  private def eventStream(s: SparkSession, d: String): DataFrame =
    Tables.eventsStream(s, d)

  /** Gate face (q58) for [[graft.streaming.StreamIngest.windowedEventCounts]]
    * — watermarked tumbling-window aggregation run as a REAL streaming
    * query in APPEND mode, checkpointed parquet sink. This one tests the
    * watermark CONTRACT itself, not just plumbing: append mode emits a
    * window exactly when the watermark passes its end, so after the data
    * batch (watermark 0, nothing emitted) AvailableNow's no-data batch
    * advances the watermark to max(ts) and flushes every CLOSED window —
    * the one window still open at end-of-stream stays in state, unemitted.
    * The oracle recomputes precisely that semantic in batch: all windows
    * with window_end <= max event time. Hash check, no completeness
    * hand-waving — the inequality IS the assertion. */
  def streamWindows(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d).select(col("ts"), col("event_type"), col("value"))
    val base = Scratch.fresh("swin_q58")
    runStream(s) {
      graft.streaming.StreamIngest
      .windowedEventCounts(ev, watermark = "0 seconds", window_ = "10 minutes")
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    s.read.parquet(s"$base/out")
      .select(unix_timestamp(col("window_start")).as("window_start"),
        col("event_type"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val streamWindowsSql: String =
    """WITH m AS (SELECT max(epoch_ms(ts)) AS wm FROM events)
      |SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 AS window_start,
      |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events, m
      |WHERE ((CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 + 600) * 1000 <= wm
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Gate face (q59) for [[graft.streaming.StreamIngest.dedupStream]] —
    * dropDuplicatesWithinWatermark as a real streaming query. The output
    * is the DEDUPED KEY SET (not first-arrival payloads: which duplicate
    * survives is arrival-order-dependent, the key set is not), so the
    * oracle is batch DISTINCT. Single-file source → one micro-batch →
    * nothing evicted mid-corpus (q57's completeness argument); watermark
    * EVICTION is spec-tested in StreamingSpec with multi-batch input. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d).select(col("ts"), col("user_id"), col("event_type"))
    val base = Scratch.fresh("sdd_q59")
    runStream(s) {
      graft.streaming.StreamIngest
      .dedupStream(ev, Seq("user_id", "event_type"), watermark = "10 minutes")
      .select(col("user_id"), col("event_type"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    s.read.parquet(s"$base/out")
      .orderBy(col("user_id"), col("event_type"))
  }

  val streamDedupSql: String =
    """SELECT DISTINCT user_id, event_type
      |FROM events ORDER BY user_id, event_type""".stripMargin

  /** Gate face (q91) for [[graft.streaming.StreamIngest.enrichStream]] —
    * the stream-STATIC enrichment join, the fourth streaming join class
    * in the gate (stream-stream q57, windowed agg q58, dedup q59). Each
    * micro-batch of the events stream broadcast-joins the customer
    * dimension (stateless: no watermark, no state store), lands in a
    * checkpointed parquet sink, and is aggregated in batch to a shape
    * DuckDB recomputes as a plain batch join — completeness by the q57
    * single-micro-batch argument. */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
      .select(col("user_id"), col("event_type"), col("value"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val base = Scratch.fresh("enr_q91")
    runStream(s) {
      graft.streaming.StreamIngest.enrichStream(ev, dim, "user_id")
      .select(col("segment"), col("event_type"), col("value"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    s.read.parquet(s"$base/out")
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("segment"), col("event_type"))
  }

  val streamEnrichSql: String =
    """SELECT c.c_mktsegment AS segment, e.event_type,
      |  count(*) AS n_events, round(sum(e.value), 4) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Second-backend round-trip through the pluggable seam: supplier →
    * prepared-INSERT batches into embedded Derby ([[graft.sources.JdbcBackend]]
    * — the role Cassandra plays for the reference) → `spark.read.jdbc`
    * back out → aggregate. Oracle: the same aggregate straight off the
    * parquet table, so typed fidelity through DDL + INSERT + JDBC scan
    * must be value-exact. */
  def jdbcRoundtrip(s: SparkSession, d: String): DataFrame = {
    // a unique dir, never deleted here: embedded Derby keeps each booted
    // database open for the JVM's lifetime. Bench sweeps the `derby_`
    // dirs and Verify the whole root, at startup, before any boots.
    val db = Scratch.unique("derby")
    val u = graft.sources.JdbcBackend.derbyUrl(db)
    val src = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      .repartition(8) // fan the INSERT batches out (one parquet file = 1 split)
    graft.sources.JdbcBackend.writeTable(src, u, "supplier_rt", cfg)
    graft.sources.JdbcBackend.readTable(s, u, "supplier_rt")
      .toDF("s_suppkey", "s_nationkey", "s_acctbal") // Derby uppercases identifiers
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum(col("s_acctbal")), 2).as("total_bal"))
      .orderBy(col("s_nationkey"))
  }

  val jdbcRoundtripSql: String =
    """SELECT s_nationkey, count(*) AS n_suppliers,
      |  round(sum(s_acctbal), 2) AS total_bal
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Quote-dominance path (rule 1) through the real parser: CSV lines with
    * quoted and unquoted variants of the same payloads, via inferTagged.
    * Deterministic tag histogram per column position.
    *
    * ORACLE-CHECKED since r7 (was rows-only): the quoted bit exists only
    * in CSV, so DuckDB can't replay the parse — but the EXPECTED tags are
    * fully determined by the construction (unquoted digits → long; quoted
    * digits → string by quote dominance; "<price>.<cents>" → string in
    * strict mode; "true" → bool; "NULL" → null), so the oracle is that
    * truth table as constants plus the row count. Any mis-tag on any row
    * adds a histogram row or shifts the count → hash mismatch. The full
    * per-rule truth table is TypeInferenceSpec's job; this face pins the
    * end-to-end parse→infer pipeline to it. */
  def taggedInference(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.orders(s, d)
      .select(concat(
        col("o_orderkey").cast(StringType), lit(","),
        lit("\""), col("o_orderkey").cast(StringType), lit("\","), // quoted → string
        col("o_totalprice").cast(StringType), lit(","),
        lit("true,NULL")).as("line"))
      .repartition(32) // parquet scan is 1 split; fan the parse out
      .as[String]
    val (parsed, errs) = CopyWrite.parseRecords(lines, cfg)
    val tagged = CopyWrite.inferTagged(parsed, Seq("k", "k_quoted", "price", "flag", "nothing"), cfg)
    val out = tagged.select(
      col("k.tag").as("k_tag"), col("k_quoted.tag").as("kq_tag"),
      col("price.tag").as("price_tag"), col("flag.tag").as("flag_tag"),
      col("nothing.tag").as("null_tag"))
      .groupBy("k_tag", "kq_tag", "price_tag", "flag_tag", "null_tag")
      .agg(count(lit(1)).as("n"))
      .orderBy("k_tag", "kq_tag", "price_tag", "flag_tag", "null_tag")
    val res = out.cache()
    res.count()
    errs.check()
    res
  }

  /** Oracle for q52 — see [[taggedInference]]: the construction's truth
    * table as constants, one histogram row covering every order. */
  val taggedInferenceSql: String =
    """SELECT 'long' AS k_tag, 'string' AS kq_tag, 'string' AS price_tag,
      |  'bool' AS flag_tag, 'null' AS null_tag, count(*) AS n
      |FROM orders""".stripMargin

  /** Gate face (q103) for [[graft.streaming.CdcApply]] — streaming CDC
    * apply, the fifth streaming class in the gate (stream-stream q57,
    * windowed agg q58, dedup q59, stream-static q91; this one is
    * arbitrary KEYED STATE fed by a changelog). The q102 changelog's six
    * tiers land as separate files; `maxFilesPerTrigger=2` forces the
    * version waves through MULTIPLE micro-batches, so latest-wins must
    * survive checkpointed state across batches (a v4 resurrect in the
    * last batch must beat a v3 delete two batches earlier).
    *
    * Contract oracle (q54/q62 convention — engine measures BOTH sides):
    * count + order-independent xor digest (q99's comparator) of the
    * batch [[Reconcile.mergeUpsert]] snapshot vs the streamed snapshot,
    * plus the state-proving counter — the per-key applied-row counts
    * must SUM to the total log row count, which only state carried
    * across batches can reproduce (a re-initialized state undercounts).
    * The oracle computes the expected snapshot digest and log count in
    * DuckDB via the window formulation and asserts both sides equal it:
    * one dropped/duplicated/mis-merged row anywhere diverges the hash. */
  def cdcApplyStreamSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.CdcApply
    val base = Scratch.fresh("cdc_q103")
    // the six changelog tiers, one wave each, read two per micro-batch:
    // {t0,t1},{t2,t3},{t4,t5} is the composition the oracle was built on
    // (r18 sf1 A/B, staged concurrently vs six sequential appends:
    // 11.95/12.34 s warm-min/med vs 13.47/13.72)
    val logDir = deliverWaves(s, base, Reconcile.changeLogTiers(Tables.orders(s, d)))
    val stream = s.readStream
      .schema(org.apache.spark.sql.Encoders.product[CdcApply.Change].schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(logDir).as[CdcApply.Change]
    runStream(s) {
      CdcApply.applyStream(stream)
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    // final per-key row = the max-n_applied winner transition (monotone)
    val fin = s.read.parquet(s"$base/out")
      .groupBy(col("o_orderkey"))
      .agg(max_by(struct(col("version"), col("op"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"), col("n_applied")),
        col("n_applied")).as("w"))
      .select(col("o_orderkey"), col("w.*"))
      .cache()
    // r18 (§1.2 driver-action count + §2.4): the batch snapshot and the
    // log count now read the WRITTEN changelog (one parquet scan of the
    // artifact this query just staged — the same rows) instead of
    // re-running the six filtered orders scans a second and third time;
    // the two digest sides merge into ONE tagged union-aggregate action
    // (2 jobs → 1, and the two snapshot subtrees are scheduled
    // together). nLog over the parquet artifact is a footer-count.
    val log = s.read.parquet(logDir)
    val batchSnap = Reconcile.mergeUpsert(log, Seq("o_orderkey"), "version", "op")
    val streamSnap = fin.where(col("op") === "U")
    val d60 = conv(substring(md5(concat_ws("|",
      col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_orderstatus"), col("o_orderpriority"),
      col("version").cast("string"))), 1, 15), 16, 10).cast("long")
    val sides = batchSnap.select(d60.as("dg"), lit("b").as("side"))
      .unionAll(streamSnap.select(d60.as("dg"), lit("s").as("side")))
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(dg)").as("x"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // an absent tag = zero rows on that side: count 0, xor 0
    val (nB, xB) = sides.getOrElse("b", (0L, 0L))
    val (nS, xS) = sides.getOrElse("s", (0L, 0L))
    val nLog = log.count()
    val nApplied = fin.agg(sum(col("n_applied"))).head.getLong(0)
    Seq((nLog, nApplied, nB, nS, xB, xS))
      .toDF("n_log", "n_applied", "n_batch", "n_stream", "xor_batch", "xor_stream")
  }

  /** Oracle for q103 — the contract both sides must meet, computed from
    * scratch in DuckDB: the changelog row count (which the streamed
    * per-key counters must sum to) and the window-formulation snapshot's
    * count + xor digest (which BOTH the batch agg and the streamed state
    * must reproduce). */
  val cdcApplyStreamSql: String =
    """WITH log AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
      |    0 AS version, 'U' AS op FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, 'X', o_orderpriority, 1, 'U'
      |  FROM orders WHERE o_orderkey % 7 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, 'Y', o_orderpriority, 2, 'U'
      |  FROM orders WHERE o_orderkey % 21 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, 3, 'D'
      |  FROM orders WHERE o_orderkey % 11 = 2
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, 'Z', o_orderpriority, 4, 'U'
      |  FROM orders WHERE o_orderkey % 55 = 2
      |  UNION ALL
      |  SELECT -o_orderkey, o_custkey, o_orderstatus, o_orderpriority, 1, 'U'
      |  FROM orders WHERE o_orderkey % 13 = 3),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      |  FROM log),
      |snap AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, version
      |  FROM ranked WHERE rn = 1 AND op = 'U'),
      |dig AS (
      |  SELECT count(*) AS n,
      |    bit_xor(CAST('0x' || substr(md5(concat_ws('|',
      |      CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
      |      o_orderstatus, o_orderpriority, CAST(version AS VARCHAR))),
      |      1, 15) AS BIGINT)) AS x
      |  FROM snap),
      |nl AS (SELECT count(*) AS n FROM log)
      |SELECT (SELECT n FROM nl) AS n_log, (SELECT n FROM nl) AS n_applied,
      |  (SELECT n FROM dig) AS n_batch, (SELECT n FROM dig) AS n_stream,
      |  (SELECT x FROM dig) AS xor_batch, (SELECT x FROM dig) AS xor_stream""".stripMargin

  // staging dir name for q138's delivery files (Scratch.fresh key)
  private val SraName = "sra_q138"

  /** Gate face (q138) for [[graft.streaming.RollingAnomaly]] — the
    * ring-buffer state machine run as a REAL streaming query over
    * day-partitioned waves. Events split into three day-tercile waves,
    * delivered in order; each wave's micro-batch completes its days, the
    * machine scores them against state carried from PRIOR waves and emits
    * q135's exact flag rows. The oracle is q135's batch-window SQL
    * verbatim: equality proves the incremental ring ≡ the batch ROWS
    * frame across wave boundaries (days 8+ of a user score against a ring
    * built in an earlier micro-batch — a state restore is on the hash
    * path). */
  def streamRollingAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.RollingAnomaly
    val base = Scratch.fresh(SraName)
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
    val mm = ev.agg(min(col("day")), max(col("day"))).head
    val (d0, span) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0) + 1)
    val (b1, b2) = (d0 + span / 3, d0 + 2 * span / 3)
    val in = deliverWaves(s, base, Seq(col("day") < b1,
      col("day") >= b1 && col("day") < b2, col("day") >= b2).map(ev.where))
    val stream = s.readStream
      .schema(org.apache.spark.sql.Encoders.product[RollingAnomaly.Ev].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in).as[RollingAnomaly.Ev]
    runStream(s) {
      RollingAnomaly.flags(stream)
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    s.read.parquet(s"$base/out")
      .select(col("user_id"), col("day"), col("n_events"),
        col("window_days"), col("anomaly"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Oracle for q138: q135's SQL VERBATIM — stream ≡ batch, bit for bit. */
  val streamRollingAnomalySql: String = graft.ops.Relational.rollingAnomalySql

  /** Where [[streamDeadLetter]] stages its delivery files — exposed for
    * the q121 spec's multi-batch assertion (the q111 convention: the
    * test must not re-derive Scratch.fresh's layout). */
  private[graft] def streamDeadLetterInputDir: java.io.File =
    new java.io.File(Scratch.path(s"$DlqName/in"))
  private val DlqName = "dlq_q121"

  /** Gate face (q121) — streaming late-data DEAD-LETTER routing
    * ([[graft.streaming.DeadLetter]], 8th streaming class: side-output
    * from custom state). The events corpus arrives in 3 waves (event_id
    * mod 3, maxFilesPerTrigger = 1), timestamps interleaved across waves
    * by construction, so waves 2–3 genuinely contain rows behind wave 1's
    * keyed watermark: those route to the flagged side channel instead of
    * being silently dropped (what Spark's built-in stateful aggs do).
    * Delay = half the corpus's time span (computed from the data so the
    * face survives testdata regeneration), window = 1 day. The face sums
    * the sink's per-batch deltas; the oracle replays the exact
    * keyed-watermark rule — per key, max prior-wave event time minus
    * delay — so a row misrouted in either direction, a dropped late row,
    * or a watermark advanced at the wrong batch boundary diverges the
    * counts. */
  def streamDeadLetter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.DeadLetter
    val base = Scratch.fresh(DlqName)
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("t"))
    // Wave ORDER is load-bearing here (unlike q111/q103, whose state is
    // merge-order-independent): the keyed watermark advances wave by
    // wave, and the oracle replays waves in event_id%3 order.
    val in = deliverWaves(s, base,
      (0 until 3).map(i => ev.where(pmod(col("event_id"), lit(3)) === i)))
    val delaySec = ev.agg(expr("(max(t) - min(t)) div 2")).head.getLong(0)
    val stream = s.readStream
      .schema(org.apache.spark.sql.Encoders.product[DeadLetter.Ev].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in).as[DeadLetter.Ev]
    runStream(s) {
      DeadLetter.route(stream, delaySec, windowSec = 86400L)
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start() }
    s.read.parquet(s"$base/out")
      .groupBy(col("event_type"), col("kind"), col("window_start"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("event_type"), col("kind"), col("window_start"))
  }

  /** Oracle for q121: the keyed-watermark routing rule recomputed from
    * scratch — wave = event_id mod 3, prior-wave running max per key,
    * late iff t < prior_max − (span div 2) — then the same
    * (key, kind, window) totals. */
  val streamDeadLetterSql: String =
    """WITH e AS (
      |  SELECT event_type, event_id % 3 AS w,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS t
      |  FROM events),
      | sp AS (SELECT (max(t) - min(t)) // 2 AS delay FROM e),
      | mx AS (SELECT event_type, w, max(t) AS mt FROM e GROUP BY 1, 2),
      | pm AS (
      |  SELECT event_type, w, max(mt) OVER (
      |    PARTITION BY event_type ORDER BY w
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
      |  FROM mx),
      | cls AS (
      |  SELECT e.event_type, e.t,
      |    CASE WHEN pm.prior_max IS NOT NULL
      |           AND e.t < pm.prior_max - (SELECT delay FROM sp)
      |         THEN 'late' ELSE 'ontime' END AS kind
      |  FROM e JOIN pm ON e.event_type = pm.event_type AND e.w = pm.w)
      |SELECT event_type, kind,
      |  CASE WHEN kind = 'ontime' THEN (t // 86400) * 86400
      |       ELSE -1 END AS window_start,
      |  count(*) AS n
      |FROM cls GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q148: ingest schema-drift audit (the inference cascade across batches)
  // ---------------------------------------------------------------------

  /** q148 — INGEST SCHEMA-DRIFT AUDIT: the reference's own 7-rule
    * type-inference cascade (`write.go:206-223`, the q50 face) applied
    * as a cross-batch production audit — did today's export change a
    * column's inferred type? An upstream system that starts emitting
    * 'hello' in a numeric column silently downgrades it to text at the
    * sink; this is the gate that catches it AT INGEST, with per-column
    * attribution, before a typed consumer breaks.
    *
    * Batches are the q146 snapshot deciles of a synthetic 3-column
    * export built from orders (the q50 convention): c1 is numeric but
    * batch B corrupts every 97th row to a word (type long→string — the
    * drift); c2 is booleans in both; c3 is timestamps where batch B
    * nulls every 50th row (null cells do NOT change a column's type —
    * the audit must not false-positive on sparsity).
    *
    * Column-type resolution from per-cell tags: no non-null cells →
    * 'null'; exactly one non-null tag → that tag; mixed → 'string'
    * (the untyped-sink fallback, the reference's text behavior).
    *
    * Shape: ONE scan evaluates the codegen'd cascade on each (column,
    * batch-variant) cell, one conditional aggregate reduces to tag
    * counts (map-side partial), and the 3-row report is a generated
    * explode — the q129/q141/q146 one-scan discipline. */
  def schemaDrift(s: SparkSession, d: String): DataFrame = {
    val inA = col("o_orderkey") % 10 =!= 0
    val inB = col("o_orderkey") % 10 =!= 1
    val longStr = col("o_orderkey").cast(StringType)
    val ts = lit("2024-01-02 03:04:05+0000")
    val src = Tables.orders(s, d).select(
      col("o_orderkey"),
      longStr.as("c1a"),
      when(col("o_orderkey") % 97 === 0, "hello").otherwise(longStr).as("c1b"),
      when(col("o_orderkey") % 2 === 0, "true").otherwise("false").as("c2"),
      ts.as("c3a"),
      when(col("o_orderkey") % 50 === 0, "NULL").otherwise(ts).as("c3b"))
    def tagOf(c: Column): Column =
      TypeInference.Exprs.cell(c, lit(false), cfg).getField("tag")
    val tagged = src.select(
      col("o_orderkey"),
      tagOf(col("c1a")).as("t1a"), tagOf(col("c1b")).as("t1b"),
      tagOf(col("c2")).as("t2a"), tagOf(col("c2")).as("t2b"),
      tagOf(col("c3a")).as("t3a"), tagOf(col("c3b")).as("t3b"))
    val tags = Seq("null", "bool", "ts", "long", "string")
    def cnt(side: Column, t: Column, tag: String) =
      sum(when(side && t === tag, 1L).otherwise(0L))
    val aggs = for {
      (cn, ta, tb) <- Seq(("c1", "t1a", "t1b"), ("c2", "t2a", "t2b"),
        ("c3", "t3a", "t3b"))
      (sideName, side, t) <- Seq(("a", inA, ta), ("b", inB, tb))
      tag <- tags
    } yield cnt(side, col(t), tag).as(s"${cn}_${sideName}_$tag")
    val r = tagged.agg(aggs.head, aggs.tail: _*)
    def resolve(cn: String, sd: String): Column = {
      def n(tag: String) = col(s"${cn}_${sd}_$tag")
      val kinds = Seq("bool", "ts", "long", "string")
        .map(t => when(n(t) > 0, 1).otherwise(0)).reduce(_ + _)
      when(kinds === 0, "null")
        .when(kinds > 1, "string")
        .when(n("bool") > 0, "bool")
        .when(n("ts") > 0, "ts")
        .when(n("long") > 0, "long")
        .otherwise("string")
    }
    def tot(cn: String, sd: String): Column =
      tags.map(t => col(s"${cn}_${sd}_$t")).reduce(_ + _)
    r.select(explode(array(Seq("c1", "c2", "c3").map(cn =>
        struct(lit(cn).as("column_name"),
          tot(cn, "a").as("n_a"), tot(cn, "b").as("n_b"),
          col(s"${cn}_a_null").as("n_null_a"),
          col(s"${cn}_b_null").as("n_null_b"),
          resolve(cn, "a").as("type_a"), resolve(cn, "b").as("type_b"))): _*))
        .as("row"))
      .select(col("row.column_name").as("column_name"),
        col("row.n_a").as("n_a"), col("row.n_b").as("n_b"),
        col("row.n_null_a").as("n_null_a"), col("row.n_null_b").as("n_null_b"),
        col("row.type_a").as("type_a"), col("row.type_b").as("type_b"),
        (col("row.type_a") =!= col("row.type_b")).as("changed"))
      .orderBy(col("column_name"))
  }

  /** Oracle for [[schemaDrift]]: the q50 tagging CASE (proven identical
    * to the cascade) on each cell, conditional snapshot sums, the same
    * resolution rule. */
  val schemaDriftSql: String = {
    val tagCase = (v: String) =>
      s"""CASE WHEN $v = 'false' THEN 'bool' WHEN $v = 'true' THEN 'bool'
         |         WHEN $v = 'NULL' THEN 'null'
         |         WHEN try_strptime($v, '%Y-%m-%d %H:%M:%S%z') IS NOT NULL THEN 'ts'
         |         WHEN regexp_matches($v, '^[+-]?[0-9]+$$')
         |              AND TRY_CAST($v AS BIGINT) IS NOT NULL THEN 'long'
         |         ELSE 'string' END""".stripMargin
    val cnt = (side: String, t: String, tag: String) =>
      s"CAST(sum(CASE WHEN $side AND $t = '$tag' THEN 1 ELSE 0 END) AS BIGINT)"
    val cols = Seq(("c1", "t1a", "t1b"), ("c2", "t2a", "t2b"), ("c3", "t3a", "t3b"))
    val tags = Seq("null", "bool", "ts", "long", "string")
    val aggExprs = (for {
      (cn, ta, tb) <- cols
      (sd, side, t) <- Seq(("a", "o_orderkey % 10 <> 0", ta),
        ("b", "o_orderkey % 10 <> 1", tb))
      tag <- tags
    } yield s"${cnt(side, t, tag)} AS ${cn}_${sd}_$tag").mkString(",\n    ")
    val resolve = (cn: String, sd: String) => {
      val n = (t: String) => s"${cn}_${sd}_$t"
      val kinds = Seq("bool", "ts", "long", "string")
        .map(t => s"CASE WHEN ${n(t)} > 0 THEN 1 ELSE 0 END").mkString(" + ")
      s"""CASE WHEN ($kinds) = 0 THEN 'null'
         |      WHEN ($kinds) > 1 THEN 'string'
         |      WHEN ${n("bool")} > 0 THEN 'bool'
         |      WHEN ${n("ts")} > 0 THEN 'ts'
         |      WHEN ${n("long")} > 0 THEN 'long'
         |      ELSE 'string' END""".stripMargin
    }
    val tot = (cn: String, sd: String) =>
      tags.map(t => s"${cn}_${sd}_$t").mkString(" + ")
    val rows = cols.map { case (cn, _, _) =>
      s"""SELECT '$cn' AS column_name, ${tot(cn, "a")} AS n_a, ${tot(cn, "b")} AS n_b,
         |  ${cn}_a_null AS n_null_a, ${cn}_b_null AS n_null_b,
         |  ${resolve(cn, "a")} AS type_a, ${resolve(cn, "b")} AS type_b FROM agg""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH src AS (
       |  SELECT o_orderkey,
       |    CAST(o_orderkey AS VARCHAR) AS c1a,
       |    CASE WHEN o_orderkey % 97 = 0 THEN 'hello'
       |         ELSE CAST(o_orderkey AS VARCHAR) END AS c1b,
       |    CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END AS c2,
       |    '2024-01-02 03:04:05+0000' AS c3a,
       |    CASE WHEN o_orderkey % 50 = 0 THEN 'NULL'
       |         ELSE '2024-01-02 03:04:05+0000' END AS c3b
       |  FROM orders),
       | tagged AS (
       |  SELECT o_orderkey,
       |    ${tagCase("c1a")} AS t1a,
       |    ${tagCase("c1b")} AS t1b,
       |    ${tagCase("c2")} AS t2a,
       |    ${tagCase("c2")} AS t2b,
       |    ${tagCase("c3a")} AS t3a,
       |    ${tagCase("c3b")} AS t3b
       |  FROM src),
       | agg AS (
       |  SELECT
       |    $aggExprs
       |  FROM tagged),
       | rows3 AS (
       |  $rows)
       |SELECT column_name, n_a, n_b, n_null_a, n_null_b, type_a, type_b,
       |  type_a <> type_b AS changed
       |FROM rows3 ORDER BY column_name""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q149: streaming delta-dedup admission (11th streaming class)
  // ---------------------------------------------------------------------

  private val SdaName = "sda_q149"
  /** Where [[streamDedupAdmission]] stages its delivery files — exposed
    * for the q149 spec's multi-batch assertion (the q111 convention). */
  private[graft] def streamDedupAdmissionInputDir: java.io.File =
    new java.io.File(Scratch.path(s"$SdaName/in"))
  /** The admitted-state artifact, exposed for the spec's state growth
    * assertion. r13: ONE artifact (signatures; band buckets are derived
    * at read time — a cheap map over table-sized state beats a second
    * commit per batch), laid out as `batch=N` subdirs so partition
    * discovery keeps the parent readable while each batch's write stays
    * an idempotent per-batch overwrite. */
  private[graft] def streamDedupAdmissionStateDirs: Seq[java.io.File] =
    Seq(new java.io.File(Scratch.path(s"$SdaName/adm_sig")))

  /** q149 — STREAMING DELTA-DEDUP ADMISSION (11th streaming class):
    * q127's admission screening run as a real multi-batch stream. New
    * documents arrive in three ordered waves (doc_id mod 3); each
    * micro-batch signs its docs with q127's exact MinHash pipeline
    * ([[Dedup.minhashSig]]), band-joins them against the PERSISTED corpus
    * index, est-Jaccard-verifies, and emits a per-doc admit/reject
    * verdict — plus the CROSS-BATCH leg q127's one-shot face never runs:
    * each doc is also screened against every doc ADMITTED IN AN EARLIER
    * WAVE, so a doc admitted in wave 1 rejects its near-dup arriving in
    * wave 3. State is load-bearing: lose it and the wave-3 dup sails
    * through (the spec plants exactly that scenario).
    *
    * State shape: the admitted set's signatures are a PARQUET state
    * artifact, not state-store rows, on purpose — at corpus scale the
    * admitted index is a TABLE (it IS tomorrow's corpus index), far
    * past any per-key state store, and the idiomatic Spark form for
    * table-sized streaming state is foreachBatch + a partitioned table
    * (the Delta-merge shape). r13 (r12 advice): every batch-side write
    * is a per-batch `batch=N` OVERWRITE, never an append — foreachBatch
    * is at-least-once, and an append replayed after a mid-batch crash
    * double-counts; the overwrite layout replays bit-for-bit, and the
    * serve read's `batch < batchId` partition prune hides a replayed
    * batch's own half-written admissions from its input. Each
    * micro-batch stages its signatures and verdicts to immutable
    * per-batch artifacts FIRST, then writes state — so no plan ever
    * reads a table its own batch is mutating, and the staged verdicts
    * ARE the output (band buckets derive from the signatures in-plan:
    * one state commit per batch, half the r12 commit floor).
    *
    * Intra-wave near-dups are BOTH admitted by design (neither can see
    * the other's verdict mid-batch — the oracle encodes the same rule);
    * production compacts them at the next index rebuild. Scale: per
    * batch the corpus-sized tables STREAM through broadcast joins
    * against the (small) batch signatures — the corpus is never
    * re-shingled — and the admitted state grows by at most the batch,
    * exactly q127's per-batch cost model.
    *
    * Oracle: the full two-phase pipeline replayed in DuckDB with the
    * three waves UNROLLED (adm0 → adm1 → adm01) — stream ≡ batch, the
    * q138 convention; a verdict that leaked across the wrong wave
    * boundary, double-counted a dup, or lost state diverges the hash. */
  def streamDedupAdmission(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.fresh(SdaName)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // r18 (§2.6 overlap independent jobs): the corpus index chain (sig
    // artifact → bands → admitted-state seed, each step reading its
    // predecessor's artifact) is independent of the wave writes, so it
    // rides the same pool as one more job.
    def chain(): Unit = {
      s.sparkContext.setJobDescription("q149: corpus sig/bands/seed chain")
      // the "prior run": corpus signatures from the persisted artifact
      // (r14, the q127 convention — filter commutes with per-doc signing)
      Dedup.minhashSigShared(s, d).where(col("doc_id") % 7 =!= 0)
        .write.mode("overwrite").parquet(s"$base/sig")
      val idxSig = s.read.parquet(s"$base/sig")
      Dedup.sigBands(idxSig).write.mode("overwrite").parquet(s"$base/bands")
      // admitted state starts EMPTY with a committed schema. Layout is
      // one `batch=N` subdir per writer (seed = batch=-1): foreachBatch
      // is AT-LEAST-ONCE, so every batch-side write must be a per-batch
      // OVERWRITE, never an append — a checkpoint replay after a
      // mid-batch crash then reproduces state bit-for-bit instead of
      // double-appending it (r12 advice). Partition discovery makes the
      // parent dir one readable table with a `batch` column, which the
      // serve read ALSO uses: `batch < batchId` partition-prunes a
      // replayed batch's own half-written admissions out of its input.
      idxSig.limit(0).write.mode("overwrite").parquet(s"$base/adm_sig/batch=-1")
    }
    val in = deliverWaves(s, base, (0 until 3).map(i =>
      docs.where(col("doc_id") % 7 === 0 && pmod(col("doc_id"), lit(3)) === i)),
      alongside = Seq(() => chain()))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    runStream(s) {
      stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        sdaProcessBatch(base, batch, batchId)
      }.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    readStaged(s, base, "verdicts_")
      .select(col("new_doc"), (col("new_doc") % 3).as("wave"),
        col("n_corpus_dups"), col("n_admitted_dups"), col("admitted"))
      .orderBy(col("new_doc"))
  }

  /** ONE micro-batch of [[streamDedupAdmission]] — extracted (r14,
    * r13 verdict item 4) so the crash-replay spec can RE-EXECUTE a batch
    * directly: foreachBatch is at-least-once, so this body must be
    * idempotent — calling it twice for the same (batch, batchId),
    * including after the first call fully committed state, must leave
    * verdicts and admitted state bit-identical. The two properties that
    * make it so: every write is a per-batch OVERWRITE (a replay
    * reproduces, never appends), and the admitted-state serve read
    * prunes `batch < batchId` (a replay never sees its own prior
    * attempt's admissions). StreamReplaySpec exercises exactly this. */
  private[graft] def sdaProcessBatch(base: String, batch: DataFrame,
      batchId: Long): Unit = {
    val bs = batch.sparkSession
    // stage this batch's signatures to an IMMUTABLE artifact and
    // work off the staged copy — everything downstream (verdicts,
    // state appends) derives from disk, so cache eviction can never
    // replan a read against state this batch already appended
    Dedup.minhashSig(batch).write.mode("overwrite")
      .parquet(s"$base/stage/sig_$batchId")
    val bsig = bs.read.parquet(s"$base/stage/sig_$batchId")
    val bbands = Dedup.sigBands(bsig)
      .select(col("doc_id").as("new_doc"), col("band"), col("bandhash"))
    // dup counts for the batch against one (sig, bands) table pair:
    // band-bucket candidates (corpus table STREAMS against the
    // broadcast batch), est-Jaccard verify, per-doc roll-up
    def dupCounts(sig2: DataFrame, bands2: DataFrame, out: String): DataFrame =
      bands2.select(col("doc_id").as("other"), col("band"),
          col("bandhash"))
        .join(broadcast(bbands), Seq("band", "bandhash"))
        .select(col("new_doc"), col("other")).distinct()
        .join(broadcast(bsig.select(col("doc_id").as("new_doc"),
          col("sig").as("nsig"))), "new_doc")
        .join(sig2.select(col("doc_id").as("other"), col("sig").as("osig")),
          "other")
        .withColumn("est", round(
          aggregate(zip_with(col("nsig"), col("osig"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / Dedup.K, 4))
        .where(col("est") >= 0.5)
        .groupBy(col("new_doc")).agg(count(lit(1)).as(out))
    val vsCorpus = dupCounts(bs.read.parquet(s"$base/sig"),
      bs.read.parquet(s"$base/bands"), "n_corpus_dups")
    // admitted state: strictly-earlier batches only (partition
    // prune on the layout's batch column) — on a checkpoint REPLAY
    // this batch's own half-written admissions are invisible, so
    // the replayed verdicts are identical to the originals; bands
    // derive from the signatures in-plan (one state artifact, one
    // commit per batch — half the r12 commit floor)
    val admitted = bs.read.parquet(s"$base/adm_sig")
      .where(col("batch") < batchId).select(col("doc_id"), col("sig"))
    val vsAdmitted = dupCounts(admitted, Dedup.sigBands(admitted),
      "n_admitted_dups")
    // verdicts for EVERY batch doc, not just signed ones — a doc too
    // short to shingle has no signature (and so can't match
    // anything) but still gets its admit verdict, like q127
    batch.select(col("doc_id").as("new_doc"))
      .join(vsCorpus, Seq("new_doc"), "left")
      .join(vsAdmitted, Seq("new_doc"), "left")
      .select(col("new_doc"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        coalesce(col("n_admitted_dups"), lit(0L)).as("n_admitted_dups"))
      .withColumn("admitted",
        col("n_corpus_dups") === 0 && col("n_admitted_dups") === 0)
      .write.mode("overwrite").parquet(s"$base/stage/verdicts_$batchId")
    val verdicts = bs.read.parquet(s"$base/stage/verdicts_$batchId")
    // state update LAST: admitted docs join the admitted index.
    // The staged verdicts artifact IS the output (no separate out
    // append), and the state write is a per-batch overwrite — both
    // idempotent under foreachBatch's at-least-once replay.
    val admSig = bsig.join(verdicts.where(col("admitted"))
      .select(col("new_doc").as("doc_id")), "doc_id")
      .select(col("doc_id"), col("sig"))
    admSig.write.mode("overwrite").parquet(s"$base/adm_sig/batch=$batchId")
    ()
  }

  /** Oracle for q149: the identical two-phase pipeline in DuckDB with
    * the three waves unrolled. `cand` keeps only pairs a wave is ALLOWED
    * to see (corpus, or strictly earlier waves), so one `dup` relation
    * serves both verdict legs: `cdup` (vs corpus) and `ad` (vs the
    * admitted prefix adm0 ∪ adm1 — an x of wave w can only ever pair
    * with admitted y of waves < w by construction). */
  def streamDedupAdmissionSql: String = {
    val sigCols = Dedup.sigSqlCols
    val bandSelects = Dedup.bandSelectsSql
    val eq = Dedup.sigEqSql("s1", "s2")
    s"""WITH s AS (${Dedup.shinglesSqlCte}),
       | hs AS (SELECT doc_id,
       |   CAST('0x' || substr(md5(shingle), 1, 10) AS BIGINT) AS h FROM s),
       | sig AS (SELECT doc_id,
       |  $sigCols
       |  FROM hs GROUP BY doc_id),
       | bands AS (
       |  $bandSelects),
       | cand AS (
       |  SELECT DISTINCT n.doc_id AS x, c.doc_id AS y
       |  FROM bands n JOIN bands c ON n.band = c.band AND n.bucket = c.bucket
       |  WHERE n.doc_id % 7 = 0
       |    AND (c.doc_id % 7 <> 0
       |         OR (c.doc_id % 7 = 0 AND c.doc_id % 3 < n.doc_id % 3))),
       | dup AS (
       |  SELECT x, y FROM cand
       |  JOIN sig s1 ON x = s1.doc_id
       |  JOIN sig s2 ON y = s2.doc_id
       |  WHERE round(($eq) / ${Dedup.K}.0, 4) >= 0.5),
       | cdup AS (
       |  SELECT x, count(*) AS n FROM dup WHERE y % 7 <> 0 GROUP BY x),
       | adm0 AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % 7 = 0 AND doc_id % 3 = 0
       |    AND doc_id NOT IN (SELECT x FROM cdup)),
       | ad1 AS (
       |  SELECT DISTINCT x FROM dup WHERE y IN (SELECT doc_id FROM adm0)),
       | adm1 AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % 7 = 0 AND doc_id % 3 = 1
       |    AND doc_id NOT IN (SELECT x FROM cdup)
       |    AND doc_id NOT IN (SELECT x FROM ad1)),
       | adm01 AS (
       |  SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1),
       | ad AS (
       |  SELECT x, count(*) AS n FROM dup
       |  WHERE y IN (SELECT doc_id FROM adm01) GROUP BY x)
       |SELECT d.doc_id AS new_doc,
       |  CAST(d.doc_id % 3 AS BIGINT) AS wave,
       |  CAST(coalesce(cdup.n, 0) AS BIGINT) AS n_corpus_dups,
       |  CAST(coalesce(ad.n, 0) AS BIGINT) AS n_admitted_dups,
       |  coalesce(cdup.n, 0) = 0 AND coalesce(ad.n, 0) = 0 AS admitted
       |FROM documents d
       |LEFT JOIN cdup ON d.doc_id = cdup.x
       |LEFT JOIN ad ON d.doc_id = ad.x
       |WHERE d.doc_id % 7 = 0
       |ORDER BY new_doc""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q161: streaming ANN index maintenance (12th streaming class)
  // ---------------------------------------------------------------------

  private val SimName = "sim_q161"
  /** Where [[streamIndexMaintenance]] stages its delivery files —
    * exposed for the spec's multi-batch assertion. */
  private[graft] def streamIndexMaintenanceInputDir: java.io.File =
    new java.io.File(Scratch.path(s"$SimName/in"))

  /** q161 — STREAMING ANN INDEX MAINTENANCE (12th streaming class):
    * q126's daily-batch increment run as a real multi-batch stream, the
    * vector-family sibling of q149 (dedup: batch q127 / stream q149;
    * ANN: batch q126 / stream q161). New vectors arrive in three waves;
    * each micro-batch routes its vectors through the broadcast-argmax
    * map ([[Ivf.assignCells]] — no fan-out, no shuffle) and
    * commits them to the persisted cell-partitioned index, then writes
    * a per-wave RECEIPT measured OFF DISK: batch size, cells touched,
    * index size after, and the q156 coverage check (vectors of the
    * corpus-so-far missing from the index — 0 is the invariant a
    * monitor alerts on; this is q159's after-leg as a continuous
    * property of the stream).
    *
    * State discipline is q149's r13 shape end-to-end: the index is a
    * two-level `batch=N/cent_id=M` partition layout, every batch-side
    * write a per-batch OVERWRITE (idempotent under foreachBatch's
    * at-least-once replay), batches staged immutable before any state
    * write, receipts staged per batch and unioned at the end. Scale:
    * per wave the work is |batch| routed rows + one id-only anti-join
    * against the index — cost ∝ the wave, never the corpus; the
    * centroid grid is the q143 bounded-anchor literal. */
  def streamIndexMaintenance(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.fresh(SimName)
    val qe = Ivf.quantizedEmbeddings(s, d)
    val existing = qe.where(col("vec_id") % 10 =!= 0)
    val cent = Ivf.fixedCells(qe)
    // the "prior run": existing corpus routed + persisted by cell
    Ivf.writeCells(Ivf.assignCells(s, existing, cent).select(col("vec_id"), col("cent_id")),
      s"$base/index/batch=-1")
    val newVecs = qe.where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("q8"))
    val in = deliverWaves(s, base,
      (0 until 3).map(i => newVecs.where(pmod(col("vec_id"), lit(3)) === i)))
    val stream = s.readStream.schema(newVecs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    runStream(s) {
      stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        simProcessBatch(base, cent, existing, batch, batchId)
      }.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    readStaged(s, base, "receipt_").orderBy(col("wave"))
  }

  /** ONE micro-batch of [[streamIndexMaintenance]] — extracted (r14,
    * r13 verdict item 4) for the crash-replay spec, like
    * [[sdaProcessBatch]]. Idempotence: the index commit and receipt are
    * per-batch OVERWRITEs, and every receipt leg is a pure function of
    * state ≤ batchId — the index read prunes `batch <= batchId`
    * (r14: previously it read all generations, which was identical
    * mid-stream but made a replayed batch's receipt depend on whether
    * later batches had already landed — the replay must reproduce the
    * ORIGINAL receipt bit-for-bit). */
  private[graft] def simProcessBatch(base: String, cent: DataFrame,
      existing: DataFrame, batch: DataFrame, batchId: Long): Unit = {
    val bs = batch.sparkSession
    batch.write.mode("overwrite").parquet(s"$base/stage/b_$batchId")
    val b = bs.read.parquet(s"$base/stage/b_$batchId")
    Ivf.writeCells(Ivf.assignCells(bs, b, cent).select(col("vec_id"), col("cent_id")),
      s"$base/index/batch=$batchId")
    // receipt legs (r17, the q166 job-count discipline inside the
    // micro-batch): ONE read-back aggregate of the just-written batch
    // partition carries the batch size (routing preserves rows) AND the
    // touched-cell count; coverage is ONE full-outer compare of the
    // unique-keyed prefix vs index, yielding the index size (non-null
    // right side) and the missing count together — 4 driver actions → 2,
    // receipt values identical, both still measured OFF DISK.
    //
    // r18 (VERDICT r17 item 2): the merge's wall-clock claim is now
    // SETTLED by a quiet one-JVM interleaved sf1 A/B (ConfAB over a
    // temporarily conf-gated legacy path, AB/BA alternated): merged
    // 6.10/6.69 s warm-min/med at 62 jobs vs legacy 6.58/6.76 at 74 —
    // consistently faster with strictly fewer actions. Merge kept; the
    // legacy path was measurement-only and is gone again.
    val wAgg = bs.read.parquet(s"$base/index/batch=$batchId")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("cent_id")).as("t")).collect().head
    val nBatch = wAgg.getLong(0)
    val touched = wAgg.getLong(1)
    // state ≤ this batch only: mid-stream the prune is a no-op (later
    // generations don't exist yet); on a replay it hides them, making
    // the receipt a pure function of the batch prefix
    val idx = bs.read.parquet(s"$base/index").where(col("batch") <= batchId)
    // corpus-so-far = existing ∪ staged waves ≤ this batch (the
    // staged artifacts ARE the arrival record)
    val stagedDirs = stagedPrefix(bs, base, batchId).map(_._2)
    val prefix = stagedDirs
      .map(p => bs.read.parquet(p).select(col("vec_id")))
      .foldLeft(existing.select(col("vec_id")))(_ unionAll _)
    val cov = prefix.select(col("vec_id"), lit(1).as("inp"))
      .join(idx.select(col("vec_id"), lit(1).as("ini")),
        Seq("vec_id"), "full_outer")
      .agg(count(col("ini")).as("n_idx"),
        count(when(col("ini").isNull, 1)).as("n_missing")).collect().head
    val nIdx = cov.getLong(0)
    val nMissing = cov.getLong(1)
    bs.range(1).select(
      lit(batchId).as("wave"), lit(nBatch).as("n_batch"),
      lit(touched).as("n_cells_touched"),
      lit(nIdx).as("n_indexed_after"),
      lit(nMissing).as("n_missing_after"))
      .write.mode("overwrite").parquet(s"$base/stage/receipt_$batchId")
    ()
  }

  /** Oracle for [[streamIndexMaintenance]]: the three waves unrolled in
    * SQL — per-wave size, distinct argmax cells (the q143 grid), the
    * cumulative index size, and the zero-missing invariant. */
  def streamIndexMaintenanceSql: String =
    s"""WITH ${quantizeCtes()},
      | ${centCte(fixedGrid)},
      | waves AS (SELECT vec_id, q, vec_id % 3 AS wave FROM q8
      |           WHERE vec_id % 10 = 0),
      | assigned AS (
      |  SELECT wave, vec_id, cent_id FROM (${routed("waves")})),
      | per AS (
      |  SELECT wave, CAST(count(*) AS BIGINT) AS n_batch,
      |    CAST(count(DISTINCT cent_id) AS BIGINT) AS n_cells_touched
      |  FROM assigned GROUP BY wave),
      | ex AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q8 WHERE vec_id % 10 <> 0)
      |SELECT per.wave, per.n_batch, per.n_cells_touched,
      |  CAST(ex.n + sum(per.n_batch) OVER (ORDER BY per.wave
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_indexed_after,
      |  CAST(0 AS BIGINT) AS n_missing_after
      |FROM per CROSS JOIN ex
      |ORDER BY per.wave""".stripMargin

  /** q175 — STREAMING ERASURE PROPAGATION (13th streaming class): the
    * right-to-be-forgotten queue as a real multi-batch stream — q166's
    * batch erasure is how you erase a KNOWN subject list; production
    * erasure arrives as a trickle of requests with an SLA clock, so
    * the index tier needs a continuously-running applier. Three waves
    * of erasure requests (subject vectors) arrive; each micro-batch
    * removes its subjects from the persisted cell-partitioned index by
    * rewriting ONLY their cells (q166's touch-only discipline: dynamic
    * partition overwrite of the affected cells' survivors; a cell
    * whose members were all erased has its dir removed), then writes a
    * per-wave RECEIPT.
    *
    * Replay discipline (the q149/q161 r14 crash-replay rule): every
    * receipt leg is a pure function of the BATCH plus static state —
    * subjects counted from the staged batch, touched/deleted cells
    * from the STATIC broadcast-argmax routing of the batch's own
    * vectors (never from the mutable index, which a replayed batch
    * would see post-erasure), and the residual leg re-measured off
    * disk (0 on first execution AND on replay — erasure is naturally
    * idempotent). The rewrite itself is an idempotent overwrite of the
    * same survivor set. [[seProcessBatch]] is extracted so the replay
    * spec re-executes a committed batch and asserts the receipt is
    * bit-identical and the index unchanged.
    *
    * Scale: per wave the work is |batch| routed ids + a rewrite of the
    * affected cells' survivors — cost ∝ the requests and the cells
    * they name, never the index; the audit legs are id-only joins. */
  def streamErasure(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.fresh("se_q175")
    val qe = Ivf.quantizedEmbeddings(s, d)
    val cent = Ivf.fixedCells(qe)
    // the serving index: the FULL corpus routed + persisted by cell —
    // cloned from the pristine fingerprint-keyed artifact (hardlinks,
    // r14: the erasure mutates the clone, so the corpus-sized route +
    // write is paid once per source content, not per invocation)
    Scratch.cloneDir(Similarity.fullIndexArtifact(s, d, cent), s"$base/index")
    // erasure requests: subjects vec_id % 10 = 0, delivered in three
    // waves by (vec_id div 10) % 3
    val subjects = qe.where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("q8"))
    val in = deliverWaves(s, base,
      (0 until 3).map(i => subjects.where(expr("(vec_id div 10) % 3") === i)))
    val stream = s.readStream.schema(subjects.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    runStream(s) {
      stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        seProcessBatch(base, cent, qe, batch, batchId)
      }.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    readStaged(s, base, "receipt_").orderBy(col("wave"))
  }

  /** ONE micro-batch of [[streamErasure]] — extracted for the crash-
    * replay spec. Every leg is replay-stable (see [[streamErasure]]).
    *
    * r17 (§1.2 job-count, the q166 discipline applied inside the
    * micro-batch, where every action ALSO pays foreachBatch planning):
    * the per-cell victim aggregate is ONE collect that carries the
    * subject total (every subject routes to exactly one argmax cell),
    * the touched-cell set, and the per-cell victim counts; static
    * occupancy is a second bounded collect and the cell-death compare
    * happens in the driver; the survivors' redundant materializing
    * count() is dropped (the liveCells distinct already computes every
    * cached partition before any directory is mutated). 9 driver
    * actions per wave → 7, receipt values identical. */
  private[graft] def seProcessBatch(base: String, cent: DataFrame,
      qe: DataFrame, batch: DataFrame, batchId: Long): Unit = {
    val bs = batch.sparkSession
    batch.write.mode("overwrite").parquet(s"$base/stage/b_$batchId")
    val b = bs.read.parquet(s"$base/stage/b_$batchId")
    // STATIC routing of the batch's own vectors — replay-stable (the
    // mutable index would show a replayed batch nothing)
    //
    // r18 (VERDICT r17 item 2, same pass as q161): the r17 merge
    // re-confirmed quiet — one-JVM interleaved sf1 A/B vs the
    // temporarily restored legacy legs: merged 5.56/6.08 s warm-min/med
    // at 68 jobs vs legacy 6.33/6.41 at 89.
    val vicRows = Ivf.assignCells(bs, b, cent)
      .groupBy(col("cent_id")).agg(count(lit(1)).as("nv")).collect()
    val nvByCell = vicRows
      .map(r => r.getAs[Number](0).longValue() -> r.getLong(1)).toMap
    val myCells = nvByCell.keys.toArray.sorted
    val nSubjects = nvByCell.values.sum
    // a cell dies iff ALL its static members are THIS batch's subjects
    // (static occupancy vs victim count — replay-stable by routing)
    val nCellsDeleted =
      if (myCells.isEmpty) 0L
      else Ivf.assignCells(bs, qe, cent)
        .where(col("cent_id").isin(myCells.toIndexedSeq: _*))
        .groupBy(col("cent_id")).agg(count(lit(1)).as("occ")).collect()
        .count(r => r.getLong(1) == nvByCell(r.getAs[Number](0).longValue()))
        .toLong
    // the apply: rewrite ONLY the affected cells without the subjects
    if (myCells.nonEmpty) {
      val idxNow = bs.read.parquet(s"$base/index")
      val survivors = idxNow
        .where(col("cent_id").isin(myCells: _*))
        .join(b.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"))
        .persist()
      // the distinct scans (and therefore caches) EVERY survivor
      // partition — survivors are fully materialized before any
      // directory below is mutated
      val liveCells = survivors.select(col("cent_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      val fs = new Path(base).getFileSystem(bs.sparkContext.hadoopConfiguration)
      myCells.filterNot(liveCells)
        .foreach(c => fs.delete(new Path(s"$base/index/cent_id=$c"), true))
      if (liveCells.nonEmpty)
        Similarity.withDynamicOverwrite(bs)(Ivf.writeCells(survivors, s"$base/index"))
      survivors.unpersist()
      ()
    }
    // residual re-measured OFF DISK — 0 on first execution and replay
    val nResidual = bs.read.parquet(s"$base/index")
      .join(b.select(col("vec_id")), Seq("vec_id"), "left_semi").count()
    bs.range(1).select(
      lit(batchId).as("wave"), lit(nSubjects).as("n_subjects"),
      lit(myCells.length.toLong).as("n_cells_touched"),
      lit(nCellsDeleted).as("n_cells_deleted"),
      lit(nResidual).as("n_residual_after"))
      .write.mode("overwrite").parquet(s"$base/stage/receipt_$batchId")
    ()
  }

  /** Oracle for [[streamErasure]]: the three request waves unrolled —
    * per-wave subject count, distinct argmax cells touched, cells
    * whose entire static membership is the wave's subjects, residual
    * identically zero. */
  def streamErasureSql: String =
    s"""WITH ${quantizeCtes()},
      | ${centCte(fixedGrid)},
      | assigned AS (
      |  SELECT vec_id, cent_id FROM (${routed("q8")})),
      | occ AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS occ
      |         FROM assigned GROUP BY 1),
      | waves AS (
      |  SELECT a.vec_id, a.cent_id, (a.vec_id // 10) % 3 AS wave
      |  FROM assigned a WHERE a.vec_id % 10 = 0),
      | vics AS (
      |  SELECT wave, cent_id, CAST(count(*) AS BIGINT) AS nv
      |  FROM waves GROUP BY wave, cent_id),
      | del AS (
      |  SELECT v.wave, CAST(count(*) AS BIGINT) AS n_cells_deleted
      |  FROM vics v JOIN occ o USING (cent_id)
      |  WHERE v.nv = o.occ GROUP BY v.wave),
      | per AS (
      |  SELECT wave, CAST(count(*) AS BIGINT) AS n_subjects,
      |    CAST(count(DISTINCT cent_id) AS BIGINT) AS n_cells_touched
      |  FROM waves GROUP BY wave)
      |SELECT CAST(per.wave AS BIGINT) AS wave, per.n_subjects,
      |  per.n_cells_touched,
      |  CAST(coalesce(del.n_cells_deleted, 0) AS BIGINT) AS n_cells_deleted,
      |  CAST(0 AS BIGINT) AS n_residual_after
      |FROM per LEFT JOIN del USING (wave)
      |ORDER BY wave""".stripMargin

  /** q182 — STREAMING CORPUS-DRIFT MONITOR (14th streaming class):
    * q139's distribution-drift audit as a CONTINUOUS property of an
    * arriving crawl — the alarm a production ingest keeps on while the
    * batch audit only runs at release time. The reference profile (the
    * prior release's per-language mix) is persisted once; documents
    * then arrive in three waves, and each micro-batch emits a receipt
    * scoring the CUMULATIVE arrived corpus against the reference:
    * docs this wave, docs so far, languages seen, and the integer-ppm
    * total-variation distance (q139's TVD — no logarithm, so the
    * receipt is hash-exact cross-engine). Cross-batch state is
    * load-bearing: each receipt's profile spans every PRIOR wave (a
    * re-initialized monitor reproduces wave 0's drift, not wave 2's
    * convergence), and because the waves partition the corpus the
    * final receipt's TVD is identically 0 — the monitor provably
    * converges on the release it is mirroring.
    *
    * Replay discipline (q161/q175's): batches stage immutable before
    * anything reads them, every receipt is a pure function of the
    * staged prefix ≤ batchId plus the STATIC reference artifact, and
    * receipts commit as per-batch OVERWRITEs — a replayed batch
    * reproduces its original receipt bit-for-bit
    * ([[sdrProcessBatch]] extracted for the crash-replay spec).
    *
    * Scale: per wave the work is one |batch| scan plus aggregates over
    * the |langs|-bounded profile tables; the reference broadcast is
    * |langs| rows. Nothing corpus-sized shuffles per wave. */
  def streamDriftMonitor(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.fresh("sdr_q182")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    // the prior-release reference profile, persisted once (the artifact
    // a real monitor loads at start)
    docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/ref")
    val in = deliverWaves(s, base,
      (0 until 3).map(i => docs.where(pmod(col("doc_id"), lit(3)) === i)))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    runStream(s) {
      stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        sdrProcessBatch(base, batch, batchId)
      }.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    readStaged(s, base, "receipt_").orderBy(col("wave"))
  }

  /** ONE micro-batch of [[streamDriftMonitor]] — pure function of the
    * staged prefix ≤ batchId + the static reference artifact. */
  private[graft] def sdrProcessBatch(base: String, batch: DataFrame,
      batchId: Long): Unit = {
    val bs = batch.sparkSession
    batch.write.mode("overwrite").parquet(s"$base/stage/b_$batchId")
    val nBatch = bs.read.parquet(s"$base/stage/b_$batchId").count()
    val prefixDirs = stagedPrefix(bs, base, batchId).map(_._2)
    val cum = prefixDirs.map(p => bs.read.parquet(p))
      .reduce(_ unionAll _)
      .groupBy(col("lang")).agg(count(lit(1)).as("cc"))
    val ref = bs.read.parquet(s"$base/ref")
      .select(col("lang"), col("c").as("rc"))
    // full-outer alignment (q139's rule: absence IS drift), per-side
    // integer-ppm shares, TVD = Σ|Δppm| div 2
    val aligned = cum.join(ref, Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("cc"), lit(0L)).as("cc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
    val receipt = aligned
      .crossJoin(broadcast(aligned.agg(sum(col("cc")).as("nc"),
        sum(col("rc")).as("nr"))))
      .select(
        expr("abs((1000000 * cc) div nc - (1000000 * rc) div nr)").as("dp"),
        when(col("cc") > 0, 1L).otherwise(0L).as("seen"))
      .agg((sum(col("dp")).cast("long")).as("sum_dp"),
        sum(col("seen")).as("n_langs_cum"))
      .select(lit(batchId).as("wave"), lit(nBatch).as("n_batch"),
        col("n_langs_cum"),
        expr("sum_dp div 2").as("tvd_ppm"))
      .crossJoin(broadcast(cum.agg(sum(col("cc")).as("n_cum"))))
      .select(col("wave"), col("n_batch"), col("n_cum"),
        col("n_langs_cum"), col("tvd_ppm"))
    receipt.write.mode("overwrite").parquet(s"$base/stage/receipt_$batchId")
    ()
  }

  /** Oracle for [[streamDriftMonitor]]: the three waves unrolled — for
    * each wave w the cumulative slice doc_id % 3 ≤ w profiled against
    * the full-corpus reference, TVD in integer ppm; wave 2's TVD is
    * identically 0 by construction (the waves partition the corpus). */
  def streamDriftMonitorSql: String =
    """WITH docs AS (SELECT doc_id, lang FROM documents),
      | ref AS (SELECT lang, CAST(count(*) AS BIGINT) AS rc
      |         FROM docs GROUP BY lang),
      | reft AS (SELECT CAST(sum(rc) AS BIGINT) AS nr FROM ref),
      | waves AS (SELECT unnest([0, 1, 2]) AS wave),
      | cum AS (
      |  SELECT w.wave, d.lang, CAST(count(*) AS BIGINT) AS cc
      |  FROM waves w JOIN docs d ON d.doc_id % 3 <= w.wave
      |  GROUP BY w.wave, d.lang),
      | cumt AS (SELECT wave, CAST(sum(cc) AS BIGINT) AS nc
      |          FROM cum GROUP BY wave),
      | nb AS (
      |  SELECT w.wave, CAST(count(*) AS BIGINT) AS n_batch
      |  FROM waves w JOIN docs d ON d.doc_id % 3 = w.wave GROUP BY w.wave),
      | al AS (
      |  SELECT w.wave, r.lang, coalesce(c.cc, 0) AS cc, r.rc
      |  FROM waves w CROSS JOIN ref r
      |  LEFT JOIN cum c ON c.wave = w.wave AND c.lang = r.lang),
      | sc AS (
      |  SELECT a.wave,
      |    CAST(sum(abs((1000000 * a.cc) // t.nc - (1000000 * a.rc) // rt.nr))
      |      AS BIGINT) AS sum_dp,
      |    CAST(sum(CASE WHEN a.cc > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_langs_cum
      |  FROM al a JOIN cumt t ON t.wave = a.wave CROSS JOIN reft rt
      |  GROUP BY a.wave)
      |SELECT CAST(s.wave AS BIGINT) AS wave, nb.n_batch, t.nc AS n_cum,
      |  s.n_langs_cum, CAST(s.sum_dp // 2 AS BIGINT) AS tvd_ppm
      |FROM sc s JOIN nb ON nb.wave = s.wave JOIN cumt t ON t.wave = s.wave
      |ORDER BY wave""".stripMargin

  /** Per-source token budget of [[streamBudgetAdmission]]'s gate face —
    * sized so sources close in DIFFERENT waves at sf0.01 (~65 tokens/
    * doc, ~8-9 docs/source/wave): the admit and reject paths are both
    * exercised in every wave. */
  private val SbaBudget = 400L

  /** q192 — STREAMING BUDGET ADMISSION (15th streaming class): q181
    * selects "the best B tokens per source" at release time; a LIVE
    * ingest needs the same meter while data arrives — first-come-
    * first-served per source until the meter crosses the budget, then
    * the source is CLOSED for the release (the hard-close policy: the
    * gate's decision is a pure prefix function, which is what makes an
    * at-least-once stream replayable — a best-fit policy that lets
    * later small docs trickle in depends on reject history, not just
    * arrival totals). Documents arrive in three waves; each receipt
    * reports the wave's arrivals, admissions, admitted tokens, and how
    * many sources have closed so far. Cross-batch state is the
    * per-source arrival meter — load-bearing: wave-2 admissions depend
    * on waves 0-1 consumption, which a re-initialized meter would
    * admit wholesale.
    *
    * Replay discipline (q182's): batches stage immutable; every
    * receipt is a pure function of the staged prefix ≤ batchId (the
    * meter is RE-DERIVED from staged arrivals, not mutated state), and
    * receipts commit as per-batch OVERWRITEs.
    *
    * Scale: the admission window is per-source ordered running sums —
    * one shuffle by source over the prefix per wave (production keeps
    * the meter as a |sources|-row table instead of re-deriving;
    * re-derivation here is what makes replay receipts bit-stable);
    * receipts are |1|-row. */
  def streamBudgetAdmission(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.fresh("sba_q192")
    val docs = graft.ops.TextAnalysis.sourceQualityFrame(s, d)
      .select(col("doc_id"), col("source"), col("nt"))
    val in = deliverWaves(s, base,
      (0 until 3).map(i => docs.where(pmod(col("doc_id"), lit(3)) === i)))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    runStream(s) {
      stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        sbaProcessBatch(base, batch, batchId)
      }.option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }
    readStaged(s, base, "receipt_").orderBy(col("wave"))
  }

  /** ONE micro-batch of [[streamBudgetAdmission]] — pure function of
    * the staged prefix ≤ batchId. */
  private[graft] def sbaProcessBatch(base: String, batch: DataFrame,
      batchId: Long): Unit = {
    val bs = batch.sparkSession
    batch.write.mode("overwrite").parquet(s"$base/stage/b_$batchId")
    // arrival order = (wave, doc_id); the meter is re-derived from the
    // staged prefix so a replayed batch sees exactly its original world
    val prefix = stagedPrefix(bs, base, batchId)
      .map { case (i, p) => bs.read.parquet(p).withColumn("wave", lit(i)) }
      .reduce(_ unionAll _)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("wave"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val metered = prefix.withColumn("cum", sum(col("nt")).over(wCum))
      .withColumn("admitted", col("cum") <= SbaBudget)
    val receipt = metered
      .agg(
        sum(when(col("wave") === batchId, 1L).otherwise(0L)).as("n_arrived"),
        sum(when(col("wave") === batchId && col("admitted"), 1L)
          .otherwise(0L)).as("n_admitted"),
        coalesce(sum(when(col("wave") === batchId && col("admitted"),
          col("nt"))), lit(0L)).as("tokens_admitted"),
        countDistinct(when(!col("admitted"), col("source")))
          .as("n_sources_closed"))
      .select(lit(batchId).as("wave"), col("n_arrived"), col("n_admitted"),
        col("tokens_admitted"), col("n_sources_closed"))
    receipt.write.mode("overwrite").parquet(s"$base/stage/receipt_$batchId")
    ()
  }

  /** Oracle for [[streamBudgetAdmission]] (budget 400): the waves
    * unrolled — per-source running sums over (wave, doc_id) arrival
    * order, hard-close admission, per-wave roll-ups. */
  def streamBudgetAdmissionSql: String =
    s"""WITH sc AS (${graft.ops.TextAnalysis.sourceQualityFrameSql}),
      | arr AS (
      |  SELECT doc_id, source, nt, doc_id % 3 AS wave FROM sc),
      | metered AS (
      |  SELECT wave, doc_id, source, nt,
      |    sum(nt) OVER (PARTITION BY source ORDER BY wave, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM arr),
      | waves AS (SELECT unnest([0, 1, 2]) AS w)
      |SELECT CAST(w.w AS BIGINT) AS wave,
      |  CAST(count(*) FILTER (WHERE m.wave = w.w) AS BIGINT) AS n_arrived,
      |  CAST(count(*) FILTER (WHERE m.wave = w.w AND m.cum <= 400)
      |    AS BIGINT) AS n_admitted,
      |  CAST(coalesce(sum(m.nt) FILTER (WHERE m.wave = w.w AND m.cum <= 400),
      |    0) AS BIGINT) AS tokens_admitted,
      |  CAST(count(DISTINCT m.source)
      |    FILTER (WHERE m.wave <= w.w AND m.cum > 400) AS BIGINT)
      |    AS n_sources_closed
      |FROM waves w CROSS JOIN metered m
      |GROUP BY w.w
      |ORDER BY wave""".stripMargin
}
